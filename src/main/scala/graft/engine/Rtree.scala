package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** The SQLite `rtree` / `rtree_i32` virtual-table modules (r15) as an
  * engine analog: the R-tree is an INDEX STRUCTURE — its observable
  * query surface is a plain table of (id, min1, max1[, …]) rows with
  * the module's probed value coercions and constraints, which Catalyst
  * range-scans without needing the tree. Probed on the sandbox sqlite3
  * (3.51):
  *  - coordinates store as float32 with OUTWARD rounding — min bounds
  *    round toward −∞, max bounds toward +∞ (`1.1` min →
  *    `1.09999990463257`, `2.2` max → `2.20000004768372`) — so every
  *    stored box CONTAINS the requested one; `rtree_i32` truncates
  *    toward zero to int32 (`2.9 → 2`, `-2.9 → -2`);
  *  - the first column is an integer rowid alias: duplicates are
  *    `UNIQUE constraint failed: t.id`;
  *  - each (min, max) pair must satisfy min ≤ max AFTER coercion —
  *    `rtree constraint failed: t.(minX<=maxX)` names the pair;
  *  - 1-5 dimension pairs; even/short column counts are the module's
  *    own errors ("Too few columns…" / "Wrong number of columns…").
  * DML rides the ordinary write path with the coercions applied at the
  * staging funnel (so INSERT, UPDATE, upserts and trigger bodies all
  * agree); reads are ordinary SQL. The reference reaches rtree only
  * through libsqlite3 (trough/write.py:40), same delegation as fts5.
  * The packed `%_node` blob format round-trips: ingest decodes real
  * files' leaf cells, export bulk-loads a fresh tree
  * ([[RtreeTreeBuilder]]) that real sqlite3 queries and
  * integrity-checks. */
object Rtree {

  final case class RtreeDef(name: String, idCol: String,
      coordCols: Seq[String], i32: Boolean, ifNotExists: Boolean,
      sql: String,
      /** Auxiliary `+col [TYPE]` columns (r17): stored alongside the
        * coords, excluded from the tree key, landed in the `%_rowid`
        * shadow as `a0, a1, …` on export (probed DDL shape). Real rtree
        * IGNORES the type decoration (aux columns have no affinity —
        * probed: `+label TEXT` stores 77 as integer); this engine's
        * columns are concretely typed, so the decoration maps through
        * the ordinary affinity rules and an undecorated aux is TEXT —
        * the same documented deviation as dynamic table columns. */
      aux: Seq[(String, String)] = Nil) {
    def pairs: Seq[(String, String)] =
      coordCols.grouped(2).map(p => (p(0), p(1))).toSeq
    def auxType(decl: String): DataType =
      if (decl.trim.isEmpty) org.apache.spark.sql.types.StringType
      else SqliteDdl.affinity(decl)
  }

  private val createVirtualRe =
    ("(?is)^\\s*CREATE\\s+VIRTUAL\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(\\S+)\\s+USING\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)\\s*;?\\s*$").r

  /** Parse `CREATE VIRTUAL TABLE … USING rtree|rtree_i32(id, min1,
    * max1, …)`. None when the module is not rtree at all; the module's
    * own errors (probed texts) for bad column counts. */
  def parseCreateVirtual(stmt: String): Option[RtreeDef] = {
    val m = createVirtualRe.findFirstMatchIn(stmt).getOrElse(return None)
    val module = m.group(3).toLowerCase(java.util.Locale.ROOT)
    if (module != "rtree" && module != "rtree_i32") return None
    val name = SqlScript.unquoteIdent(m.group(2))
    val args = SqlLexer.splitTopLevel(m.group(4)).map(_.trim)
    // auxiliary `+col [TYPE]` columns (r17) come after the coords —
    // real rtree's own error text when they don't (probed)
    val firstAux = args.indexWhere(_.startsWith("+"))
    val (plain, auxArgs) =
      if (firstAux < 0) (args, Seq.empty[String]) else args.splitAt(firstAux)
    if (auxArgs.exists(a => !a.startsWith("+")))
      throw new IllegalArgumentException("Auxiliary rtree columns must be last")
    val cols = plain.map { arg =>
      val c = SqlScript.unquoteIdent(arg.split("\\s+").head)
      require(c.nonEmpty, s"cannot parse rtree column: '$arg'")
      c
    }
    val aux = auxArgs.map { arg =>
      val body = arg.stripPrefix("+").trim
      val c = SqlScript.unquoteIdent(body.split("\\s+").head)
      require(c.nonEmpty, s"cannot parse rtree auxiliary column: '$arg'")
      (c, body.split("\\s+").drop(1).mkString(" "))
    }
    // real rtree's own arity errors count the NON-aux columns (probed:
    // `rtree(id, minX, +a)` is "Too few columns for an rtree table")
    if (cols.length < 3)
      throw new IllegalArgumentException("Too few columns for an rtree table")
    if (cols.length > 11)
      throw new IllegalArgumentException("Too many columns for an rtree table")
    if (cols.length % 2 == 0)
      throw new IllegalArgumentException(
        "Wrong number of columns for an rtree table")
    Some(RtreeDef(name, cols.head, cols.tail, module == "rtree_i32",
      m.group(1) != null, stmt.trim.stripSuffix(";").trim, aux))
  }

  /** Backing schema: integer rowid alias + float64-surfaced coords
    * (values hold the module's coerced float32/int32 results). */
  def schemaOf(rd: RtreeDef): StructType = {
    val f = org.apache.spark.sql.types.StructField
    StructType((f(rd.idCol, LongType) +:
      rd.coordCols.map(c =>
        f(c, if (rd.i32) LongType else DoubleType))) ++
      rd.aux.map { case (c, decl) => f(c, rd.auxType(decl)) })
  }

  def metaOf(rd: RtreeDef): SegmentStore.TableMeta =
    SegmentStore.TableMeta(schemaOf(rd), Seq(rd.idCol), Some(rd.idCol),
      ftsSql = Some(rd.sql))

  /** Stored coordinate → double (Long for rtree_i32, Double otherwise;
    * int32 values are exact in a double). */
  private[engine] def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case i: Int => i.toDouble
    case other => throw new IllegalStateException(
      s"rtree coordinate of unexpected class: $other")
  }

  /** The three PHYSICAL shadow tables behind one exported rtree
    * virtual table — `%_rowid`, `%_node`, `%_parent`, in real rtree's
    * own catalog order and with its probed DDL texts — built lazily on
    * first row pull so `feed` (the exporter's sorted pass over the
    * table's rows) runs exactly once, when the writer reaches the
    * first shadow table. */
  def exportTables(rd: RtreeDef, pageSize: Int = 4096)(
      feed: RtreeTreeBuilder => Unit): Seq[SqliteWriter.StreamedTable] = {
    lazy val built = {
      val b = new RtreeTreeBuilder(rd, pageSize)
      feed(b)
      b.finish()
    }
    def one(v: Any): IndexedSeq[Any] = IndexedSeq[Any](null, v)
    // aux columns land in %_rowid as a0, a1, … (probed shadow DDL)
    val auxDecl = rd.aux.indices.map(i => s",a$i").mkString
    Seq(
      SqliteWriter.StreamedTable(s"${rd.name}_rowid",
        s"""CREATE TABLE "${rd.name}_rowid"(rowid INTEGER PRIMARY KEY,nodeno$auxDecl)""",
        () => built.rowidRows.map { case (r, n, auxVals) =>
          (r, IndexedSeq[Any](null, n) ++ auxVals) }),
      SqliteWriter.StreamedTable(s"${rd.name}_node",
        s"""CREATE TABLE "${rd.name}_node"(nodeno INTEGER PRIMARY KEY,data)""",
        () => built.nodeRows.map { case (n, b) => (n, one(b)) }),
      SqliteWriter.StreamedTable(s"${rd.name}_parent",
        s"""CREATE TABLE "${rd.name}_parent"(nodeno INTEGER PRIMARY KEY,parentnode)""",
        () => built.parentRows.map { case (n, p) => (n, one(p)) }))
  }

  /** Decode the LEAF cells of one rtree `%_node` blob — probed format:
    * 2-byte header (big-endian), 2-byte cell count, then per cell an
    * 8-byte big-endian rowid and 2·dims big-endian float32 (int32 for
    * rtree_i32) coordinates. The header carries the tree depth ONLY in
    * the ROOT node (node 1) — every NON-root node, leaf or inner,
    * stores zero there (probed on 3.51: a 120k-row tree has 4,489
    * zero-header non-root nodes of which 134 are inner), so the header
    * check below only guards against a deep tree's root; CALLERS MUST
    * pre-filter to true leaves structurally — a node is a leaf iff it
    * is nobody's parent in the `%_parent` shadow table
    * ([[SegmentStore.ingestSqliteSegment]] anti-joins on it). Inner
    * cells carry child node numbers in the rowid slot and decode as
    * garbage rows otherwise. */
  def decodeLeafCells(rd: RtreeDef, data: Array[Byte]): Seq[Seq[Any]] = {
    if (data == null || data.length < 4) return Nil
    val bb = java.nio.ByteBuffer.wrap(data)
    if ((bb.getShort(0) & 0xffff) != 0) return Nil // inner node
    val nCell = bb.getShort(2) & 0xffff
    val dims = rd.coordCols.length
    val cellBytes = 8 + dims * 4
    (0 until nCell).flatMap { i =>
      val off = 4 + i * cellBytes
      if (off + cellBytes > data.length) None
      else {
        val rowid = bb.getLong(off)
        val coords: Seq[Any] = (0 until dims).map { j =>
          if (rd.i32) bb.getInt(off + 8 + j * 4).toLong
          else bb.getFloat(off + 8 + j * 4).toDouble
        }
        Some(rowid +: coords)
      }
    }
  }

  /** The staging-funnel coercion + constraint gate: every DML path
    * (INSERT, UPDATE, upsert, trigger bodies) funnels through
    * [[graft.engine]]'s stage(), so applying the module semantics here
    * keeps them uniform. Idempotent (coercing a coerced value is the
    * identity), like the generated-column recompute it sits beside. */
  def coerceAndCheck(rd: RtreeDef, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.SqlInternals
    // NULL coordinates coerce to 0 BEFORE the min≤max gate — probed:
    // INSERT (1, NULL, 5) stores 0.0, and (2, 5, NULL) fails the
    // constraint because the NULL max became 0 (< the 5 min)
    def coerce(c: String, up: Boolean): Column = {
      val v = coalesce(df(c), lit(0))
      if (rd.i32)
        // int32 truncation toward zero (probed: 2.9→2, -2.9→-2)
        greatest(least(v.cast("long"), lit(Int.MaxValue.toLong)),
          lit(Int.MinValue.toLong))
      else SqlInternals.column(RtreeCoord(
        SqlInternals.expression(v.cast("double")), up))
    }
    val out = df.select((df(rd.idCol).cast("long").as(rd.idCol) +:
      rd.pairs.flatMap { case (lo, hi) =>
        Seq(coerce(lo, up = false).as(lo), coerce(hi, up = true).as(hi))
      }) ++
      // aux columns (r17): no module coercion — cast to the backing
      // schema's concrete type (the documented dynamic-column analog)
      rd.aux.map { case (c, decl) => df(c).cast(rd.auxType(decl)).as(c) }: _*)
    // min ≤ max per pair AFTER coercion — real rtree's named error —
    // plus max(id)/null-id detection, all in ONE bounded job
    val flags = rd.pairs.map { case (lo, hi) =>
      max(when(col(lo) > col(hi), lit(1)).otherwise(lit(0)))
    } ++ Seq(max(col(rd.idCol)),
      sum(when(col(rd.idCol).isNull, lit(1)).otherwise(lit(0))))
    val r = out.agg(flags.head, flags.tail: _*).head()
    rd.pairs.zipWithIndex.foreach { case ((lo, hi), i) =>
      if (!r.isNullAt(i) && r.getInt(i) == 1)
        throw new IllegalArgumentException(
          s"rtree constraint failed: ${rd.name}.($lo<=$hi)")
    }
    // NULL ids auto-assign max+1, max+2, … (probed: INSERT (NULL,…)
    // after id 200001 stores 200002) — same rule as the rowid alias it
    // is. Window job only when a NULL id is actually present.
    val nNull = if (r.isNullAt(rd.pairs.length + 1)) 0L
      else r.getLong(rd.pairs.length + 1)
    if (nNull == 0) out
    else {
      val base = if (r.isNullAt(rd.pairs.length)) 0L
        else r.getLong(rd.pairs.length)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(monotonically_increasing_id())
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      out.withColumn(rd.idCol, when(col(rd.idCol).isNull,
        lit(base) + sum(when(col(rd.idCol).isNull, lit(1)).otherwise(lit(0))).over(w))
        .otherwise(col(rd.idCol)))
    }
  }
}

/** Bulk-loads a packed rtree `%_node` tree — the export inverse of
  * [[Rtree.decodeLeafCells]] — so spatial segments survive outbound
  * migration into real SQLite (the reference's promotion universe,
  * sync.py:1112-1188). Probed format (sqlite 3.51, rtree.c public
  * source): every node blob is exactly `nodeSize` bytes = min(page
  * size − 64, 4 + 51·cellBytes) — RTREE_MAXCELLS is 51 and the opener
  * re-derives the size from the ROOT blob's length; bytes 0-1 hold the
  * tree depth in the root and zero elsewhere, bytes 2-3 the cell
  * count; leaf cells are 8-byte BE rowid + 2·dims BE float32 (int32
  * for rtree_i32), inner cells an 8-byte BE child nodeno + the
  * child's bounding box. The shadow rows the module's own queries and
  * integrity check need ride along: `%_rowid` (rowid → leaf nodeno)
  * and `%_parent` (non-root nodeno → parent nodeno).
  *
  * Packing is STR-lite bulk load: the caller feeds cells pre-sorted by
  * first-dimension center (any order is VALID — parent boxes are
  * computed as exact componentwise min/max of children, so containment
  * holds by construction — the sort only buys query locality). Leaves
  * fill to capacity; node blobs spill to a local temp file in emission
  * order (leaves first, then each upper level, root last but numbered
  * 1) so heap stays O(nodeSize × depth) plus the (rowid, nodeno) pair
  * buffer — 16 bytes per row. */
final class RtreeTreeBuilder(rd: Rtree.RtreeDef, pageSize: Int = 4096) {
  // `dims` counts COLUMNS (min and max both), i.e. 2 × dimension pairs
  private val dims = rd.coordCols.length
  private val cellBytes = 8 + dims * 4
  val nodeSize: Int = math.min(pageSize - 64, 4 + 51 * cellBytes)
  private val capacity = (nodeSize - 4) / cellBytes

  // one pending leaf node's cells: (rowid, coords as doubles)
  private val pending =
    scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
  // node blobs spill in EMISSION order: all leaves, then each upper
  // level in turn, the root last — so every child's emission index is
  // assigned before its parent's cell is written, and the final node
  // numbering is a pure function of the index (root = last = 1, other
  // index i = i + 2)
  private val spill =
    java.nio.file.Files.createTempFile("graft-rtree-node", ".spill")
  private val spillCh = java.nio.channels.FileChannel.open(spill,
    java.nio.file.StandardOpenOption.WRITE)
  private var spilled = 0
  // (emission idx, bbox) of the level being packed; leaves while adding
  private var level = scala.collection.mutable.ArrayBuffer[(Int, Array[Double])]()
  // (rowid, leaf emission idx, aux values) — aux values ride in memory
  // with the pair buffer; the documented bound grows from 16 B/row to
  // 16 B + the row's aux payload (segments are small by the reference's
  // own design — README.rst:23-25)
  private val rowidPairs =
    scala.collection.mutable.ArrayBuffer[(Long, Int, IndexedSeq[Any])]()
  private val parentPairs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
  private var finished = false

  private def blob(header: Int, cells: Seq[(Long, Array[Double])]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(nodeSize)
    bb.putShort(header.toShort)
    bb.putShort(cells.length.toShort)
    cells.foreach { case (id, cs) =>
      bb.putLong(id)
      cs.foreach(v =>
        if (rd.i32) bb.putInt(v.toInt) else bb.putFloat(v.toFloat))
    }
    bb.array()
  }

  private def emit(header: Int, cells: Seq[(Long, Array[Double])]): Int = {
    spillCh.write(java.nio.ByteBuffer.wrap(blob(header, cells)),
      spilled.toLong * nodeSize)
    spilled += 1
    spilled - 1
  }

  // a box has the same (min1, max1, min2, max2, …) layout as a cell
  private def boxAround(boxes: Seq[Array[Double]]): Array[Double] = {
    val box = new Array[Double](dims)
    for (p <- 0 until dims / 2) {
      box(2 * p) = boxes.map(_(2 * p)).min
      box(2 * p + 1) = boxes.map(_(2 * p + 1)).max
    }
    box
  }

  // aux values of the pending leaf's rows, parallel to `pending`
  private val pendingAux =
    scala.collection.mutable.ArrayBuffer[IndexedSeq[Any]]()

  private def flushLeaf(): Unit = if (pending.nonEmpty) {
    val cells = pending.toSeq
    val ei = emit(0, cells)
    level += ((ei, boxAround(cells.map(_._2))))
    cells.zip(pendingAux).foreach { case ((id, _), av) =>
      rowidPairs += ((id, ei, av)) }
    pending.clear()
    pendingAux.clear()
  }

  /** Feed one row — (rowid, coords in declared column order), values
    * already module-coerced ([[Rtree.coerceAndCheck]] shapes: Long for
    * rtree_i32, float32-exact Double otherwise), plus any auxiliary
    * column values (r17 — stored, never part of the tree key). Callers
    * supply rows pre-sorted by first-dimension center for locality;
    * ANY order yields a valid tree (containment is by construction). */
  def add(rowid: Long, coords: IndexedSeq[Any],
      aux: IndexedSeq[Any] = IndexedSeq.empty): Unit = {
    pending += ((rowid, coords.map(Rtree.num).toArray))
    pendingAux += aux
    if (pending.length == capacity) flushLeaf()
  }

  final case class Built(depth: Int, nodeCount: Int,
      nodeRows: Iterator[(Long, Array[Byte])],
      rowidRows: Iterator[(Long, Long, IndexedSeq[Any])],
      parentRows: Iterator[(Long, Long)])

  /** Pack the upper levels and stream the numbered nodes back out of
    * the spill: node number 1 is the root (the LAST emission, its
    * header = depth), every other emission i is node i + 2 — so
    * `%_node` rows stream in INTEGER PRIMARY KEY order with one
    * positioned read for the root plus one sequential pass. */
  def finish(): Built = {
    require(!finished, "finish() already called"); finished = true
    flushLeaf()
    if (spilled == 0) { // empty table: a single empty root leaf
      spillCh.close()
      java.nio.file.Files.deleteIfExists(spill)
      return Built(0, 1, Iterator((1L, blob(0, Nil))),
        Iterator.empty, Iterator.empty)
    }
    def nodenoOf(ei: Int): Long = if (ei == spilled - 1) 1L else ei + 2L
    var depth = 0
    while (level.length > 1) {
      depth += 1
      val isRootLevel = level.length <= capacity
      val up = scala.collection.mutable.ArrayBuffer[(Int, Array[Double])]()
      level.grouped(capacity).foreach { grp =>
        // children can never be the root, so their numbers are final
        val ei = emit(if (isRootLevel) depth else 0,
          grp.map { case (ci, box) => (ci + 2L, box) }.toSeq)
        grp.foreach { case (ci, _) => parentPairs += ((ci, ei)) }
        up += ((ei, boxAround(grp.map(_._2).toSeq)))
      }
      level = up
    }
    spillCh.close()
    require(depth <= 40, s"rtree depth $depth exceeds the module's maximum")
    val rootEi = spilled - 1
    val readCh = java.nio.channels.FileChannel.open(spill,
      java.nio.file.StandardOpenOption.READ)
    def readAt(ei: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(nodeSize)
      var off = 0
      while (off < nodeSize) {
        val n = readCh.read(buf, ei.toLong * nodeSize + off)
        require(n > 0, "rtree spill truncated")
        off += n
      }
      buf.array()
    }
    val nTotal = spilled
    // root (node 1) first, then emissions 0..spilled-2 = nodes 2..N
    val nodeRows = Iterator(1L -> readAt(rootEi)) ++
      (0 until spilled - 1).iterator.map(ei => (ei + 2L, readAt(ei))) ++
      closeOnEnd(readCh)
    val ridRows = rowidPairs.sortInPlaceBy(_._1).iterator
      .map { case (rid, ei, av) => (rid, nodenoOf(ei), av) }
    val parRows = parentPairs.map { case (ci, pe) =>
      (nodenoOf(ci), nodenoOf(pe))
    }.sortInPlaceBy(_._1).iterator
    Built(depth, nTotal, nodeRows, ridRows, parRows)
  }

  // an empty iterator that closes the spill channel when drained
  private def closeOnEnd(ch: java.nio.channels.FileChannel): Iterator[(Long, Array[Byte])] =
    new Iterator[(Long, Array[Byte])] {
      def hasNext: Boolean = {
        ch.close(); java.nio.file.Files.deleteIfExists(spill); false
      }
      def next(): (Long, Array[Byte]) = throw new NoSuchElementException
    }
}

/** One rtree float32 coordinate coercion: round the double to the
  * nearest float32 toward −∞ (`up = false`, min bounds) or toward +∞
  * (`up = true`, max bounds) — the module's outward box rounding —
  * surfaced back as double. Codegen'd static call, null-propagating. */
case class RtreeCoord(child: Expression, up: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rtree coordinate must be numeric, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rtree_coord"
  override def nullSafeEval(v: Any): Any =
    RtreeCoord.coerce(v.asInstanceOf[Double], up)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.engine.RtreeCoord.coerce($c, $up)")
  override protected def withNewChildInternal(newChild: Expression): RtreeCoord =
    copy(child = newChild)
}

object RtreeCoord {
  /** One relative float ulp: rtree.c's RNDTOWARDS/RNDAWAY constants
    * are 1 ∓ 1/8388608 (2⁻²³). */
  private val Towards = 1.0 - 1.0 / 8388608.0
  private val Away = 1.0 + 1.0 / 8388608.0

  /** Outward float32 rounding — rtree.c's rtreeValueDown/rtreeValueUp
    * exactly: when the straight nearest-cast overshoots the bound's
    * direction, scale one relative ulp outward and re-cast (probed
    * digit for digit: min 0.3 → 0.2999999523 two ulps down while
    * min 1.1 → 1.0999999046 one ulp down; max 9.9 → 9.9000015259). */
  def coerce(v: Double, up: Boolean): Double = {
    val f = v.toFloat
    val adj =
      if (!up && f.toDouble > v)
        (v * (if (v < 0) Away else Towards)).toFloat
      else if (up && f.toDouble < v)
        (v * (if (v < 0) Towards else Away)).toFloat
      else f
    adj.toDouble
  }
}
