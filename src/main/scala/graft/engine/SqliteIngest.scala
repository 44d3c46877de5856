package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType, StructType}

/** The decode/coercion kernel shared by every `.sqlite` ingest path —
  * the driver-side single-file ingest ([[SegmentStore.ingestSqliteSegment]])
  * and the executor-distributed bulk migration
  * ([[SegmentStore.ingestSqliteSegmentsDistributed]]). It is a plain
  * serializable object with no Spark-session state, so the same code
  * runs inside executor tasks unchanged.
  *
  * Two coercion modes:
  *
  *  - '''strict''' (default): a stored value that cannot losslessly
  *    coerce to the column's declared affinity is a clean per-cell
  *    error naming table/rowid/column — the right contract for
  *    well-formed segments (provisioned DDL, typed writes).
  *  - '''widen''' (opt-in): trough's write path executes arbitrary
  *    scripts (reference trough/write.py:28-40), so real segments can
  *    hold e.g. TEXT in an INTEGER column. A first pass observes each
  *    column's actual storage classes and widens the declared type by
  *    the same lattice cross-segment scans use
  *    ([[SegmentStore.loadTableAll]]): LONG+DOUBLE → DOUBLE, any BLOB →
  *    BINARY, anything else mixed → STRING. Values are byte-preserved
  *    (numbers render as their decimal text where the widened type is
  *    STRING/BINARY — the same documented deviation as text stored in
  *    a BLOB-affinity column). Widening never errors: every observed
  *    class coerces totally to the widened type.
  */
object SqliteIngest {

  /** Everything a decode task needs to know about one table of one
    * `.sqlite` file — resolved from `sqlite_master` on whichever side
    * runs [[tableSpec]], then shippable to executors (all members are
    * serializable; the [[SqliteFile]] handle itself is NOT shipped). */
  final case class TableSpec(
      name: String,
      schema: StructType,
      primaryKey: Seq[String],
      autoIncrement: Option[String],
      rootPage: Int,
      withoutRowid: Boolean,
      rowidIdx: Int,
      indexes: Seq[SqliteDdl.IndexDef] = Nil,
      notNull: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      uniques: Seq[Seq[String]] = Nil,
      checks: Seq[SqliteDdl.CheckDef] = Nil,
      generated: Seq[SqliteDdl.GeneratedDef] = Nil,
      strict: Boolean = false,
      strictTypes: Map[String, String] = Map.empty) {
    /** Declared indices of VIRTUAL generated columns — these occupy NO
      * slot in the file's records (probed serial-type layout); STORED
      * ones are ordinary record slots. */
    lazy val virtualIdx: Set[Int] = generated.filterNot(_.stored)
      .map(g => schema.fields.indexWhere(_.name.equalsIgnoreCase(g.name)))
      .filter(_ >= 0).toSet
  }

  /** Plain secondary-index definitions per table, from master rows of
    * type 'index' with non-null sql (autoindexes catalog with null sql
    * and are implied by the PRIMARY KEY instead). Recorded into table
    * meta so a later EXPORT materializes the same index trees the
    * source deployment's queries relied on; non-plain shapes
    * (expression/DESC/partial) are dropped, as everywhere else. */
  def indexDefs(file: SqliteFile): Map[String, Seq[SqliteDdl.IndexDef]] =
    file.master.filter(m => m.tpe == "index" && m.sql != null)
      .flatMap(m => SqliteDdl.parseCreateIndex(m.sql))
      .groupBy(_.table)

  /** The file's non-table catalog as its DDL text: views and triggers
    * (rootpage 0) and virtual tables (type 'table', rootpage < 2).
    * Plain strings, so a catalog task ships them to the driver beside
    * the table specs; the defs below parse them where they commit. */
  private[engine] final case class CatalogDdl(views: Seq[String], triggers: Seq[String],
      virtualTables: Seq[String]) {
    /** SQLite stores view TEXT and resolves it at query time; ingest
      * carries the text into the segment's view registry the same
      * way. Unparseable text is skipped rather than failing the file —
      * the tables still load. */
    def viewDefs: Seq[SqliteDdl.ViewDef] =
      views.flatMap(sql => scala.util.Try(SqliteDdl.parseCreateView(sql)).toOption)

    /** Shapes this engine can't run (INSTEAD OF) are skipped, like
      * non-plain indexes — ingest stays total over real-world files. */
    def triggerDefs: Seq[SqliteDdl.TriggerDef] =
      triggers.flatMap(sql => scala.util.Try(SqliteDdl.parseCreateTrigger(sql)).toOption)

    /** fts5 tables: their DATA lives in the `<name>_content` shadow
      * table (columns id, c0..cn-1), which ingests as a plain table;
      * the caller materializes the searchable table from it. fts5
      * definitions this engine's subset can't serve are skipped — the
      * shadow data still loads, exactly the pre-r11 behavior. */
    def ftsDefs: Seq[Fts5.FtsTableDef] =
      virtualTables.flatMap(sql => scala.util.Try(Fts5.parseCreateVirtual(sql)).toOption.flatten)

    /** rtree/rtree_i32 tables (r15), same shape as [[ftsDefs]]. */
    def rtreeDefs: Seq[Rtree.RtreeDef] =
      virtualTables.flatMap(sql => scala.util.Try(Rtree.parseCreateVirtual(sql)).toOption.flatten)
  }

  private[engine] def catalogDdl(file: SqliteFile): CatalogDdl = {
    def sqlOf(tpe: String): Seq[String] =
      file.master.filter(m => m.tpe == tpe && m.sql != null).map(_.sql)
    CatalogDdl(sqlOf("view"), sqlOf("trigger"),
      file.master.filter(m => m.tpe == "table" && !m.name.startsWith("sqlite_") &&
        m.rootPage < 2 && m.sql != null).map(_.sql))
  }

  /** [[tableSpec]] for every user table of the file, with secondary
    * indexes attached. */
  def tableSpecs(file: SqliteFile, widen: Boolean): Seq[TableSpec] = {
    val ixs = indexDefs(file)
    file.userTables.map { m =>
      val s = tableSpec(file, m, widen)
      s.copy(indexes = ixs.getOrElse(s.name, Nil))
    }
  }

  /** Resolve a `sqlite_master` row into a [[TableSpec]]. With
    * `widen = true` this makes one full pass over the table's rows to
    * observe storage classes (the file is re-walked for the decode
    * pass — segments are small by design, reference README.rst:23-25). */
  def tableSpec(file: SqliteFile, m: SqliteFile.MasterRow, widen: Boolean): TableSpec = {
    val td = SqliteDdl.parseCreateTable(m.sql)
    // an INTEGER PRIMARY KEY is only a rowid alias in rowid tables;
    // in WITHOUT ROWID storage it is an ordinary key column
    val withoutRowid = SqliteFile.isWithoutRowid(m.sql)
    val autoIncrement = if (withoutRowid) None else td.autoIncrement
    val fields = td.schema.fields
    val rowidIdx = autoIncrement
      .map(c => fields.indexWhere(_.name.equalsIgnoreCase(c))).getOrElse(-1)
    val base = TableSpec(td.name, td.schema, td.primaryKey, autoIncrement,
      m.rootPage, withoutRowid, rowidIdx,
      notNull = td.notNull, defaults = td.defaults, uniques = td.uniques,
      checks = td.checks, generated = td.generated,
      strict = td.strict, strictTypes = td.strictTypes)
    if (!widen) base
    else base.copy(schema = widenedSchema(td.schema, rowidIdx, rawRows(file, base)))
  }

  /** The table's rows as (rowid, record values in DECLARED column
    * order). Rowid tables walk the table B-tree; WITHOUT ROWID tables
    * walk the index B-tree, whose records put PRIMARY KEY columns
    * first (in PK declaration order) — reordered back here; no rowid
    * exists for them (emitted as 0). */
  def rawRows(file: SqliteFile, spec: TableSpec): Iterator[(Long, IndexedSeq[Any])] = {
    val fields = spec.schema.fields
    if (spec.withoutRowid) {
      val pkIdx = spec.primaryKey
        .map(c => fields.indexWhere(_.name.equalsIgnoreCase(c))).filter(_ >= 0)
      // records: PK columns first, then the remaining NON-VIRTUAL
      // columns in declared order (virtual columns occupy no slot)
      val order = (pkIdx ++ fields.indices.filterNot(pkIdx.contains))
        .filterNot(spec.virtualIdx.contains)
      file.indexRows(spec.rootPage).iterator.map { rec =>
        val out = new Array[Any](fields.length)
        order.zipWithIndex.foreach { case (declIdx, recPos) =>
          out(declIdx) = if (recPos < rec.length) rec(recPos) else null
        }
        (0L, out.toIndexedSeq)
      }
    } else if (spec.virtualIdx.isEmpty) file.rows(spec.rootPage)
    else {
      // virtual slots read back as null; the ingest caller re-derives
      // them from the DDL expressions, as SQLite itself does on read
      val order = fields.indices.filterNot(spec.virtualIdx.contains)
      file.rows(spec.rootPage).map { case (rowid, rec) =>
        val out = new Array[Any](fields.length)
        order.zipWithIndex.foreach { case (declIdx, recPos) =>
          out(declIdx) = if (recPos < rec.length) rec(recPos) else null
        }
        (rowid, out.toIndexedSeq)
      }
    }
  }

  /** Decoded, coerced rows matching `spec.schema` — the rowid alias
    * materialized from the B-tree key, every other cell coerced to the
    * (possibly widened) column type. */
  def decodedRows(file: SqliteFile, spec: TableSpec): Iterator[Row] = {
    val fields = spec.schema.fields
    rawRows(file, spec).map { case (rowid, vals) =>
      val out = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        // records may be shorter than the schema (rows written before
        // an ALTER TABLE ADD COLUMN): missing slots read as null,
        // matching SQLite's behavior for a NULL-default column
        val raw = if (i < vals.length) vals(i) else null
        out(i) =
          if (i == spec.rowidIdx) rowid // rowid alias: record slot is NULL
          else coerceCell(raw, fields(i).dataType, spec.name, rowid, fields(i).name)
        i += 1
      }
      Row.fromSeq(out.toIndexedSeq)
    }
  }

  /** SQLite storage-class value → the column's target Spark type.
    * Value-lossless coercions only; anything else is a clean error
    * with full context. DOCUMENTED deviations from "SQLite's own
    * affinity rules", both byte-preserving: text stored in a
    * BLOB-affinity column ingests as its UTF-8 bytes, and numbers
    * landing in a BINARY-widened column ingest as their decimal text's
    * UTF-8 bytes — the store's BinaryType column has no second storage
    * class. The JSON boundary decodes both back to the same text; only
    * the typeof() class flips on an export round trip. */
  def coerceCell(
      v: Any, target: DataType, table: String, rowid: Long, col: String): Any = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"cannot coerce ${v.getClass.getSimpleName} value to $target " +
        s"(table $table, rowid $rowid, column $col)")
    v match {
      case null => null
      case l: Long => target match {
        case LongType => l
        case DoubleType => l.toDouble
        case StringType => l.toString
        case BinaryType => l.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => fail()
      }
      case d: Double => target match {
        case DoubleType => d
        case LongType =>
          // range guard first: at ±2^63 the toLong saturation round-trips
          // through toDouble and would pass the equality check off by one
          if (d >= -9.223372036854776E18 && d < 9.223372036854776E18 &&
              d == d.toLong.toDouble) d.toLong
          else fail()
        case StringType => d.toString
        case BinaryType => d.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => fail()
      }
      case s: String => target match {
        case StringType => s
        case LongType => try s.trim.toLong catch { case _: NumberFormatException => fail() }
        case DoubleType => try s.trim.toDouble catch { case _: NumberFormatException => fail() }
        case BinaryType => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => fail()
      }
      case b: Array[Byte] => target match {
        case BinaryType => b
        case _ => fail()
      }
      case _ => fail()
    }
  }

  /** The cross-type lattice shared with [[SegmentStore.loadTableAll]]'s
    * conflict widening, extended with the BINARY sink: LONG+DOUBLE
    * widen numerically, any mix involving BLOB storage must keep raw
    * bytes, and every other mix goes to STRING (SQLite's text affinity
    * for mixed-type columns). */
  private def pairwiseWiden(a: DataType, b: DataType): DataType =
    if (a == b) a
    else (a, b) match {
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case (BinaryType, _) | (_, BinaryType) => BinaryType
      case _ => StringType
    }

  /** One observation pass: per column, the set of storage classes
    * actually present, folded into a widened column type. A column
    * declared BLOB has NO affinity in SQLite (values keep their own
    * class), so its widened type comes from the observed classes alone
    * — a shadow-table's typeless `segid` column holding only integers
    * correctly reads back as LONG, not bytes. Affinity-bearing columns
    * seed the fold with their declared type, because SQLite already
    * converted losslessly-convertible values ON WRITE (a REAL column's
    * integer-class cells are reals it stored compactly, so the column
    * must stay DOUBLE even if only integer classes are observed). */
  private def widenedSchema(
      declared: StructType, rowidIdx: Int,
      rows: Iterator[(Long, IndexedSeq[Any])]): StructType = {
    val n = declared.fields.length
    val masks = new Array[Int](n)
    rows.foreach { case (_, vals) =>
      var i = 0
      val m = math.min(n, vals.length)
      while (i < m) {
        if (i != rowidIdx) masks(i) |= (vals(i) match {
          case null => 0
          case _: Long => 1
          case _: Double => 2
          case _: String => 4
          case _ => 8
        })
        i += 1
      }
    }
    val classTypes = Seq(LongType -> 1, DoubleType -> 2, StringType -> 4, BinaryType -> 8)
    StructType(declared.fields.zipWithIndex.map { case (f, i) =>
      if (i == rowidIdx) f
      else {
        val observed = classTypes.collect {
          case (t, bit) if (masks(i) & bit) != 0 => t: DataType
        }
        val widened =
          if (f.dataType == BinaryType)
            observed.reduceOption(pairwiseWiden).getOrElse(BinaryType)
          else observed.foldLeft(f.dataType)(pairwiseWiden)
        f.copy(dataType = widened)
      }
    })
  }
}
