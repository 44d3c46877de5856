package graft.engine

import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructType}

/** The `.sqlite` segment exporter. One call exports ONE segment with
  * no SparkSession: the backing parquet is read directly (parquet-
  * hadoop's record API over the same files the Spark scans use), each
  * table is buffered and sorted in-process with the writer's exact key
  * orderings, and the streamed [[SqliteWriter]] emits the file.
  * [[SegmentStore.exportSqliteSegment]] runs it on the calling thread,
  * [[SegmentStore.exportSqliteSegmentsDistributed]] inside executor
  * tasks; both build the same [[SegmentSpec]].
  *
  * Memory bound: one table of the segment (plus, for an fts5 table, its
  * postings) per concurrent export — tables are written one after
  * another and a table's buffer is dropped when the next one loads.
  * Segments are small by design (reference README.rst:23-25); the
  * ingest kernel buffers each table's decoded rows the same way.
  *
  * Catalog material is shared with the read path
  * ([[SegmentStore.masterParts]]), and virtual tables are rebuilt with
  * [[Fts5IndexBuilder]]/[[RtreeTreeBuilder]]; files are differentially
  * verified against real sqlite3. This is the analog of the
  * reference's parallel HDFS promotion (sync.py:1112-1188, per-node
  * parallel sync sync.py:941-1047): each node builds its segment files
  * locally and pushes them to the durable store. */
object SqliteExportKernel {

  /** One table of a segment: its meta plus the parquet part files of
    * its live directory, readable from any executor. */
  final case class TableSlice(name: String, meta: SegmentStore.TableMeta,
      parquetFiles: Seq[String])

  /** Everything one task needs to export one segment — metadata only
    * (KBs); rows stay in the parquet files until the task reads them. */
  final case class SegmentSpec(segmentId: String,
      tables: Seq[TableSlice],
      views: Seq[(String, String)],
      triggers: Seq[(String, String, String)])

  /** Read the rows of one table — values surfaced exactly as the
    * store's Spark scans surface them (Long / Double / String /
    * Array[Byte] / null); a field missing from an older part file
    * (pre-ALTER) reads as null, like Spark's schema merge. */
  private[engine] def readParquetRows(files: Seq[String], schema: StructType,
      conf: org.apache.hadoop.conf.Configuration): Iterator[IndexedSeq[Any]] = {
    import org.apache.parquet.example.data.Group
    files.iterator.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f))
        .withConf(conf).build()
      new Iterator[Group] {
        private var nextGroup: Group = reader.read()
        def hasNext: Boolean = {
          if (nextGroup == null) reader.close()
          nextGroup != null
        }
        def next(): Group = {
          val g = nextGroup; nextGroup = reader.read(); g
        }
      }.map { g =>
        val gt = g.getType
        schema.fields.map { fld =>
          if (!gt.containsField(fld.name) ||
              g.getFieldRepetitionCount(fld.name) == 0) null
          else fld.dataType match {
            case LongType => g.getLong(fld.name, 0)
            case DoubleType => g.getDouble(fld.name, 0)
            case StringType => g.getString(fld.name, 0)
            case BinaryType => g.getBinary(fld.name, 0).getBytes
            case other => throw new IllegalStateException(
              s"column ${fld.name}: unexpected store type $other")
          }
        }.toIndexedSeq: IndexedSeq[Any]
      }
    }
  }

  /** Export one segment to a LOCAL file. Returns the exported table
    * names. */
  def exportSegment(spec: SegmentSpec, out: java.nio.file.Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val (ftsTbls, plainTbls0) =
      spec.tables.partition(_.meta.ftsSql.isDefined)
    // shadow tables ingested alongside a virtual table (they stay
    // queryable in the engine by design, SqliteIngestSpec) are REBUILT
    // by the virtual-table export — writing the ingested plain copies
    // too would duplicate schema names (malformed file) and contradict
    // any post-ingest DML the rebuild reflects
    val shadowNames: Set[String] = ftsTbls.flatMap { t =>
      val sfx =
        if (Rtree.parseCreateVirtual(t.meta.ftsSql.get).isDefined)
          Seq("_node", "_rowid", "_parent")
        else Seq("_content", "_docsize", "_config", "_data", "_idx")
      sfx.map(s => (t.name + s).toLowerCase(java.util.Locale.ROOT))
    }.toSet
    val plainTbls = plainTbls0.filterNot(t =>
      shadowNames.contains(t.name.toLowerCase(java.util.Locale.ROOT)))

    val current = new CurrentTable
    val streamed = plainTbls.map(plainTable(_, conf, current)) ++
      ftsTbls.flatMap { t =>
        Rtree.parseCreateVirtual(t.meta.ftsSql.get) match {
          case Some(rd) => rtreeTables(t, rd, conf)
          case None => ftsTables(t, conf, current)
        }
      }
    SqliteWriter.writeStreamed(out, streamed,
      views = spec.views, triggers = spec.triggers,
      virtualTables = ftsTbls.map(t => (t.name, t.meta.ftsSql.get)))
    spec.tables.map(_.name)
  }

  /** The buffer of the table being written. The writer consumes tables
    * one after another, so loading the next table's buffer drops the
    * previous one: an export holds one table at a time. */
  private final class CurrentTable {
    private var owner: String = null
    private var held: Any = null
    def apply[A](table: String)(load: => A): A = {
      if (owner != table) {
        owner = null; held = null // collectable while the next one loads
        held = load; owner = table
      }
      held.asInstanceOf[A]
    }
  }

  // ------------------------------------------------------------- plain

  private def cellOk(t: String, fields: Array[org.apache.spark.sql.types.StructField],
      v: Any, j: Int): Any = v match {
    case null | _: Long | _: Double | _: String => v
    case b: Array[Byte] => b
    case other => throw new IllegalStateException(
      s"table $t column ${fields(j).name}: unexpected value class $other")
  }

  private def plainTable(slice: TableSlice,
      conf: org.apache.hadoop.conf.Configuration,
      current: CurrentTable): SqliteWriter.StreamedTable = {
    val t = slice.name
    val meta = slice.meta
    val fields = meta.schema.fields
    val rowidIdx = meta.autoIncrement
      .map(c => fields.indexWhere(_.name.equalsIgnoreCase(c))).getOrElse(-1)
    val virtualIdx: Set[Int] = meta.generated.filterNot(_.stored)
      .map(g => fields.indexWhere(_.name.equalsIgnoreCase(g.name)))
      .filter(_ >= 0).toSet
    def recordValues(r: IndexedSeq[Any]): IndexedSeq[Any] =
      fields.indices.filterNot(virtualIdx.contains)
        .map(j => if (j == rowidIdx) null else cellOk(t, fields, r(j), j))
        .toIndexedSeq
    val parts = SegmentStore.masterParts(t, meta)
    // index key columns sort with the column's declared collation,
    // exactly the writer's in-process ordering
    def collsOf(cols: Seq[Int]): Seq[Option[String]] =
      cols.map(j => SqliteDdl.collationOf(fields(j))
        .filter(_ => fields(j).dataType == StringType)) :+ None

    // buffered ONCE per table in record order, each row beside its
    // rowid: the rowid alias's value, else positional rowids assigned
    // in PK order when one exists (a deterministic total order), else
    // natural order; reused by the row pass and every index pass
    def rows: IndexedSeq[(Long, IndexedSeq[Any])] = current(t) {
      val raw = readParquetRows(slice.parquetFiles, meta.schema, conf).toIndexedSeq
      if (rowidIdx >= 0) {
        val keyed = raw.map { r =>
          require(r(rowidIdx) != null,
            s"table $t: null in rowid-alias column ${fields(rowidIdx).name}")
          (r(rowidIdx).asInstanceOf[Long], r)
        }.sortBy(_._1)
        keyed.iterator.zip(keyed.iterator.drop(1)).find { case (a, b) => a._1 == b._1 }
          .foreach { case (_, (rowid, _)) => throw new IllegalStateException(
            s"table $t: duplicate rowid $rowid (alias column must be unique)") }
        keyed
      } else {
        val pkCols = meta.primaryKey
          .map(c => fields.indexWhere(_.name.equalsIgnoreCase(c))).filter(_ >= 0)
        val ordered =
          if (pkCols.isEmpty) raw
          else raw.sorted(SqliteWriter.keyOrderingWith(collsOf(pkCols))
            .on[IndexedSeq[Any]](r => pkCols.map(r(_)).toIndexedSeq))
        ordered.zipWithIndex.map { case (r, i) => (i + 1L, r) }
      }
    }
    def indexKeys(cols: Seq[Int]): () => Iterator[IndexedSeq[Any]] = () =>
      rows.map { case (rowid, r) =>
        (cols.map(j => cellOk(t, fields, r(j), j)) :+ rowid).toIndexedSeq
      }.sorted(SqliteWriter.keyOrderingWith(collsOf(cols))).iterator
    val indexes = parts.autoIdxSets.map { case (name, cols) =>
      SqliteWriter.StreamedIndex(name, null, indexKeys(cols))
    } ++ parts.secondary.map { case (ix, cols) =>
      SqliteWriter.StreamedIndex(ix.name, ix.sql, indexKeys(cols))
    }
    SqliteWriter.StreamedTable(t, parts.ddl,
      () => rows.iterator.map { case (rowid, r) => (rowid, recordValues(r)) },
      indexes)
  }

  // ------------------------------------------------------------- rtree

  private def rtreeTables(slice: TableSlice, rd: Rtree.RtreeDef,
      conf: org.apache.hadoop.conf.Configuration): Seq[SqliteWriter.StreamedTable] =
    Rtree.exportTables(rd) { b =>
      // STR-lite: pre-sort by first-dimension center (any order is
      // valid; the sort buys query locality)
      val rows = readParquetRows(slice.parquetFiles, slice.meta.schema, conf)
        .toArray
      rows.sortInPlaceBy { r =>
        (Rtree.num(r(1)) + Rtree.num(r(2)), r(0).asInstanceOf[Long])
      }
      rows.foreach { r =>
        require(r(0) != null, s"rtree table ${slice.name}: null id")
        val nc = rd.coordCols.length
        b.add(r(0).asInstanceOf[Long],
          (1 to nc).map(r(_)).toIndexedSeq,
          (nc + 1 to nc + rd.aux.length).map(r(_)).toIndexedSeq)
      }
    }

  // --------------------------------------------------------------- fts

  /** The five PHYSICAL shadow tables behind one exported fts5 virtual
    * table — `%_content`, `%_docsize`, `%_config` (WITHOUT ROWID),
    * `%_data` (the inverted index, [[Fts5IndexBuilder]]) and `%_idx`
    * (WITHOUT ROWID) — so real libsqlite3 serves MATCH/bm25/
    * highlight/snippet over the exported file; files pass fts5's own
    * integrity-check (Fts5ExportSpec). Declared prefix= indexes are
    * built too ('1'…-prefixed first-L-CHARS terms in declaration
    * order, per-row merged position lists — probed shapes). The
    * postings of the table are sorted in-process. */
  private def ftsTables(slice: TableSlice,
      conf: org.apache.hadoop.conf.Configuration,
      current: CurrentTable): Seq[SqliteWriter.StreamedTable] = {
    val t = slice.name
    val ddl = slice.meta.ftsSql.get
    val fdOpt = Fts5.parseCreateVirtual(ddl)
    if (fdOpt.exists(_.detail != "full"))
      throw new UnsupportedOperationException(
        s"cannot export fts5 table '$t': detail=none/column tables use " +
          "position-less doclist encodings this exporter does not build; " +
          "recreate with detail=full")
    val prefixLens = Fts5.prefixLensOf(ddl)
    val isContent = fdOpt.exists(_.content.isDefined)
    val cols = slice.meta.schema.fields.map(_.name).toSeq
      .filterNot(c => isContent && c == Fts5.RowidCol)
    val nCols = cols.length
    val unidx: Set[Int] = fdOpt
      .map(fd => cols.indices.filter(i => fd.unindexed
        .contains(cols(i).toLowerCase(java.util.Locale.ROOT))).toSet)
      .getOrElse(Set.empty)
    val exportTok = fdOpt.map(_.tok).getOrElse(Fts5.Tok.u61)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8

    // the table's rows and postings, built once on the first shadow
    // pass and held until the next table loads
    final class Built {
      // rows with rowids: content= tables carry them in the hidden
      // backing column; others assign 1..N in a deterministic order
      // (sorted by all columns — ties are byte-identical rows,
      // interchangeable)
      lazy val withRid: IndexedSeq[(Long, IndexedSeq[Any])] = {
        val raw = readParquetRows(slice.parquetFiles, slice.meta.schema, conf)
          .toIndexedSeq
        if (isContent) {
          val ridIdx = slice.meta.schema.fieldNames.indexOf(Fts5.RowidCol)
          val colIdx = cols.map(slice.meta.schema.fieldNames.indexOf(_))
          raw.map(r => (r(ridIdx).asInstanceOf[Long],
              colIdx.map(r(_)).toIndexedSeq))
            .sortBy(_._1)
        } else {
          raw.sorted(SqliteWriter.keyOrderingWith(cols.map(_ => None)))
            .zipWithIndex.map { case (r, i) => (i + 1L, r) }
        }
      }

      lazy val parts: (Seq[(Long, Array[Byte])], Seq[(Long, Array[Byte])],
          Seq[IndexedSeq[Any]], Long, Seq[Long]) = {
        val colTotals = new Array[Long](nCols)
        val docsizes = Seq.newBuilder[(Long, Array[Byte])]
        // postings: ('idByte + term' utf-8 bytes, rid, col, pos)
        val postings = scala.collection.mutable.ArrayBuffer[(Array[Byte], Long, Int, Int)]()
        var nRow = 0L
        withRid.foreach { case (rid, values) =>
          val sz = new scala.collection.mutable.ArrayBuffer[Byte](nCols)
          values.zipWithIndex.foreach { case (v0, j) =>
            val v = v0.asInstanceOf[String]
            val toks = if (v == null || unidx.contains(j)) Array.empty[String]
              else Fts5.tokenize(v, exportTok).toArray
            colTotals(j) += toks.length
            Fts5IndexBuilder.putVarint(sz, toks.length.toLong)
            var pos = 0
            while (pos < toks.length) {
              val term = toks(pos)
              postings += ((("0" + term).getBytes(utf8), rid, j, pos))
              prefixLens.zipWithIndex.foreach { case (len, pi) =>
                // tokens shorter than the prefix stay out (probed);
                // prefix lengths count CODEPOINTS
                if (term.codePointCount(0, term.length) >= len)
                  postings += (((('1' + pi).toChar.toString +
                    term.substring(0, term.offsetByCodePoints(0, len)))
                    .getBytes(utf8), rid, j, pos))
              }
              pos += 1
            }
          }
          docsizes += ((rid, sz.toArray))
          nRow += 1
        }
        // sorted by (term bytes, rid, col, pos)
        val sorted = postings.sortInPlaceWith { (a, b) =>
          val c = java.util.Arrays.compareUnsigned(a._1, b._1)
          if (c != 0) c < 0
          else if (a._2 != b._2) a._2 < b._2
          else if (a._3 != b._3) a._3 < b._3
          else a._4 < b._4
        }
        val builder = new Fts5IndexBuilder()
        var curTerm: Array[Byte] = null
        var curRid = -1L
        val entries = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        def emit(): Unit = if (curTerm != null && entries.nonEmpty) {
          builder.add(curTerm, curRid, Fts5IndexBuilder.poslist(entries.toSeq))
          entries.clear()
        }
        sorted.foreach { case (termB, rid, c, p) =>
          if (curTerm == null || !java.util.Arrays.equals(termB, curTerm) ||
              rid != curRid) {
            emit(); curTerm = termB; curRid = rid
          }
          entries += ((c, p))
        }
        emit()
        val res = builder.finish(nRow, colTotals.toIndexedSeq)
        val dataRows = res.dataRows.toIndexedSeq
        builder.close()
        (dataRows, docsizes.result(), res.idxRows, nRow, colTotals.toIndexedSeq)
      }
    }
    def built: Built = current(t)(new Built)

    def q(n: String) = s"'$n'"
    val contentTable =
      if (isContent) Nil
      else Seq(SqliteWriter.StreamedTable(s"${t}_content",
        s"CREATE TABLE ${q(s"${t}_content")}(id INTEGER PRIMARY KEY" +
          (0 until nCols).map(i => s", c$i").mkString + ")",
        () => built.withRid.iterator.map { case (rid, values) =>
          (rid, (null +: values).toIndexedSeq)
        }))
    val docsizeTable =
      if (fdOpt.exists(!_.columnsize)) Nil
      else Seq(SqliteWriter.StreamedTable(s"${t}_docsize",
        s"CREATE TABLE ${q(s"${t}_docsize")}(id INTEGER PRIMARY KEY, sz BLOB)",
        () => built.parts._2.iterator.map { case (rid, sz) =>
          (rid, IndexedSeq[Any](null, sz))
        }))
    contentTable ++ docsizeTable ++ Seq(
      SqliteWriter.StreamedTable(s"${t}_config",
        s"CREATE TABLE ${q(s"${t}_config")}(k PRIMARY KEY, v) WITHOUT ROWID",
        () => Iterator.empty,
        withoutRowidKeys = Some(() =>
          Iterator(IndexedSeq[Any]("version", 4L)))),
      SqliteWriter.StreamedTable(s"${t}_data",
        s"CREATE TABLE ${q(s"${t}_data")}(id INTEGER PRIMARY KEY, block BLOB)",
        () => built.parts._1.iterator.map { case (id, bytes) =>
          (id, IndexedSeq[Any](null, bytes))
        }),
      SqliteWriter.StreamedTable(s"${t}_idx",
        s"CREATE TABLE ${q(s"${t}_idx")}(segid, term, pgno, " +
          "PRIMARY KEY(segid, term)) WITHOUT ROWID",
        () => Iterator.empty,
        withoutRowidKeys = Some(() => built.parts._3.iterator)))
  }
}
