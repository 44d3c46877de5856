package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType, StringType}

import com.fasterxml.jackson.databind.ObjectMapper

/** Partitioned storage for trough segments — TABLE-MAJOR hive layout.
  *
  * A *segment* (reference trough/sync.py:179-253 — one SQLite file, the
  * unit of sharding/replication/locking) is a slice across per-table
  * partition directories:
  *
  * {{{ dataRoot/_segments/<segmentId>           # registry marker
  *     dataRoot/<table>/_meta/<segmentId>.json  # schema + pk + autoincrement
  *     dataRoot/<table>/segment_id=<segmentId>/ # live parquet files
  *     dataRoot/<table>/._tmp_<segmentId>/      # phase-1 staging (hidden)
  *     dataRoot/<table>/._old_<segmentId>/      # swap backup (hidden) }}}
  *
  * Why table-major: every table IS a hive-partitioned parquet dataset
  * keyed on `segment_id`, so a query over all segments ([[loadTableAll]])
  * plans ONE FileScan with `segment_id` partition filters — file-listing-
  * level pruning, no N-way union. At trough's real scale (tens of
  * thousands of segments, reference conf/settings.yml:4-5) the previous
  * segment-major layout made readAll a driver-side analysis bomb: 10⁴
  * relations unioned per query. Here 10⁴ segments are just 10⁴ partition
  * directories of one relation — exactly what Spark's InMemoryFileIndex
  * parallelizes and prunes natively. `_`/`.`-prefixed paths are invisible
  * to Spark's file listing (its hidden-file filter), which is what makes
  * the registry, metadata, and two-phase staging dirs coexist with scans.
  *
  * The *observable* lifecycle is unchanged from the reference: provision
  * / promote (durable copy with the `._COPYING_` → rename convention,
  * sync.py:1129-1146; exported in segment-major shape, the natural
  * interchange format for one segment) / delete-refuses-while-locked
  * (sync.py:452-456) / cold read-only tier (sync.py:218-224, 693-697).
  */
object SegmentStore {
  /** `indexes`: plain secondary indexes recorded from CREATE INDEX DDL
    * (provision scripts, write scripts, or ingested files). Catalyst
    * needs no physical indexes over parquet — they are carried so a
    * `.sqlite` EXPORT can materialize the trees a trough deployment's
    * own queries rely on. */
  final case class TableMeta(
      schema: StructType, primaryKey: Seq[String], autoIncrement: Option[String],
      indexes: Seq[SqliteDdl.IndexDef] = Nil,
      notNull: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      uniques: Seq[Seq[String]] = Nil,
      checks: Seq[SqliteDdl.CheckDef] = Nil,
      generated: Seq[SqliteDdl.GeneratedDef] = Nil,
      strict: Boolean = false,
      strictTypes: Map[String, String] = Map.empty,
      /** The original `CREATE VIRTUAL TABLE … USING fts5(…)` text when
        * this is an FTS5 table (r11): the backing storage is a plain
        * all-TEXT table; MATCH queries compile against it on the read
        * path ([[graft.engine.Fts5]]), and sqlite_master serves this
        * text verbatim, as real SQLite does. */
      ftsSql: Option[String] = None)

  private[engine] final case class MasterParts(
      ddl: String,
      autoIdxSets: Seq[(String, Seq[Int])],
      secondary: Seq[(SqliteDdl.IndexDef, Seq[Int])])

  private[engine] def masterParts(t: String, meta: TableMeta): MasterParts = {
    val fields = meta.schema.fields
    // a non-rowid-alias PRIMARY KEY and every UNIQUE constraint imply
    // sqlite_autoindex trees (integrity_check counts them)
    val pkAutoIdx: Seq[Seq[Int]] =
      if (meta.autoIncrement.isEmpty && meta.primaryKey.nonEmpty)
        Seq(meta.primaryKey.map(c => fields.indexWhere(_.name.equalsIgnoreCase(c)))
          .filter(_ >= 0))
      else Nil
    // only uniques whose columns all resolve — and the DDL renders
    // exactly the same set, so the constraints real SQLite parses and
    // the trees in an exported file always agree
    val exportUniques: Seq[(Seq[String], Seq[Int])] = meta.uniques
      .map(u => u -> u.map(c => fields.indexWhere(_.name.equalsIgnoreCase(c))))
      .filter { case (_, cs) => cs.nonEmpty && cs.forall(_ >= 0) }
    val autoIdxSets: Seq[(String, Seq[Int])] =
      (pkAutoIdx ++ exportUniques.map(_._2)).zipWithIndex.map {
        case (cols, i) => (SqliteWriter.autoIndexName(t, i + 1), cols)
      }
    // recorded secondary indexes; ones referencing since-dropped
    // columns are skipped rather than failing
    val secondary: Seq[(SqliteDdl.IndexDef, Seq[Int])] = meta.indexes.flatMap { ix =>
      val cols = ix.columns.map(c => fields.indexWhere(_.name.equalsIgnoreCase(c)))
      if (cols.nonEmpty && cols.forall(_ >= 0)) Some(ix -> cols) else None
    }
    MasterParts(SqliteDdl.renderCreateTable(t, meta.schema, meta.primaryKey,
      meta.autoIncrement, meta.notNull, meta.defaults,
      exportUniques.map(_._1), meta.checks, meta.generated,
      meta.strict, meta.strictTypes), autoIdxSets, secondary)
  }


  /** Chars that survive verbatim as a hive partition value and a file
    * name; leading `_`/`.` would make the partition invisible to scans. */
  private[engine] val SegmentIdPattern = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** `segment_id` is the layout's partition column: a data column of the
    * same name would collide in every cross-segment scan's schema.
    * Checked at table-staging time (clean pre-commit error), not at
    * writeMeta (which runs inside the phase-2 swap). */
  private[engine] def requireNoReservedColumns(meta: TableMeta): Unit =
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase("segment_id")),
      "column name 'segment_id' is reserved (it is the cross-segment partition column)")
}

class SegmentStore(
    val spark: SparkSession,
    val dataRoot: String,
    val coldRoot: Option[String] = None,
    val coldPredicate: String => Boolean = _ => false) {
  import SegmentStore.TableMeta

  private val mapper = new ObjectMapper()

  /** Session with the SQLite function surface registered — generated-
    * column expressions in ingested DDL may call any of it (iif,
    * json_*, the || rewrite targets, ...). Lazy: only files that carry
    * VIRTUAL generated columns pay for it. */
  private lazy val sqliteExprSession: SparkSession = {
    val s = spark.newSession()
    graft.functions.TroughFunctions.register(s)
    SqliteCompat.register(s)
    s
  }

  /** Per-segment monitor serializing directory swaps with the read-side
    * crash self-heal: without it the mid-swap state (live absent,
    * `._old_` present) is indistinguishable from a crash, and a
    * concurrent read restoring the backup would make the in-flight
    * tmp→live rename throw, leaving a multi-table transaction partially
    * swapped. Scope: mutual exclusion is PER INSTANCE (a JVM monitor) —
    * concurrent writers must share one SegmentStore, which is the
    * single-writer-per-segment model the engine enforces via write
    * locks anyway (reference sync.py's one-writer placement). Entries
    * are removed in [[deleteSegment]]. */
  private val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def swapLock(segmentId: String): Object =
    swapLocks.computeIfAbsent(segmentId, _ => new Object)

  /** Run `body` with this segment's data swaps held off — a reader's
    * consistent snapshot of metas and rows (TroughEngine.readCtx). */
  def withSwapLock[A](segmentId: String)(body: => A): A =
    swapLock(segmentId).synchronized(body)

  /** Replace `p`'s contents in one rename: a concurrent reader sees the
    * old file or the new one, never a half-written one. */
  private def writeAtomically(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, "._" + p.getFileName, ".tmp")
    try {
      Files.writeString(tmp, text)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  // ------------------------------------------------------------------ paths

  def isCold(segmentId: String): Boolean = coldPredicate(segmentId)

  private def tierRoot(segmentId: String): Path = {
    val root = if (isCold(segmentId)) {
      coldRoot.getOrElse(
        throw new IllegalStateException(s"segment $segmentId is cold but no cold root configured"))
    } else dataRoot
    Paths.get(root)
  }

  private def tierRoots: Seq[Path] =
    (Seq(dataRoot) ++ coldRoot.toSeq).map(Paths.get(_))

  private def marker(segmentId: String): Path =
    tierRoot(segmentId).resolve("_segments").resolve(segmentId)

  // every table operation funnels through here: names the layout would
  // hide must be rejected, not silently created — a '_'/'.'-prefixed dir
  // is invisible to tables()/scans (and '_segments' is the registry), so
  // such a table would be writable but unreadable. SQLite would accept
  // these names; clean-error deviation, documented in the class doc.
  private def tableRoot(root: Path, table: String): Path = {
    require(SegmentStore.SegmentIdPattern.matches(table) && table != "_segments",
      s"table name '$table' is not supported by the table-major layout " +
        s"(must match ${SegmentStore.SegmentIdPattern}, not '_segments')")
    root.resolve(table)
  }

  private def liveDir(root: Path, segmentId: String, table: String): Path =
    tableRoot(root, table).resolve(s"segment_id=$segmentId")
  private def tmpDir(root: Path, segmentId: String, table: String): Path =
    tableRoot(root, table).resolve(s"._tmp_$segmentId")
  private def oldDir(root: Path, segmentId: String, table: String): Path =
    tableRoot(root, table).resolve(s"._old_$segmentId")
  private def metaPath(root: Path, segmentId: String, table: String): Path =
    tableRoot(root, table).resolve("_meta").resolve(s"$segmentId.json")
  private def viewsPath(root: Path, segmentId: String): Path =
    root.resolve("_views").resolve(s"$segmentId.json")
  private def triggersPath(root: Path, segmentId: String): Path =
    root.resolve("_triggers").resolve(s"$segmentId.json")

  private def isTableDir(p: Path): Boolean = {
    val n = p.getFileName.toString
    Files.isDirectory(p) && !n.startsWith("_") && !n.startsWith(".")
  }

  // -------------------------------------------------------------- lifecycle

  def segmentExists(segmentId: String): Boolean = Files.isRegularFile(marker(segmentId))

  /** Cheap change fingerprint for a segment's READ-visible state: the
    * nanosecond mtimes of everything a read resolves against — the
    * marker, each table's live data dir and meta file, the view and
    * trigger registries. Every mutation funnel lands on one of these
    * paths (data swaps rename a fresh live dir in; DDL rewrites meta;
    * registry puts rewrite their file), so a changed fingerprint ⟺ a
    * changed segment. Serving caches (TroughEngine.readCtx) key on it
    * instead of requiring every writer to remember an invalidation
    * call. Cost: one directory listing + a few stats. */
  def readFingerprint(segmentId: String): Long = {
    var h = 1125899906842597L
    def mix(v: Long): Unit = h = h * 31 + v
    def mtime(p: Path): Long =
      try Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: Exception => -1L }
    val root = tierRoot(segmentId)
    mix(mtime(marker(segmentId)))
    mix(mtime(viewsPath(root, segmentId)))
    mix(mtime(triggersPath(root, segmentId)))
    tables(segmentId).foreach { t =>
      mix(t.hashCode.toLong)
      mix(mtime(liveDir(root, segmentId, t)))
      mix(mtime(metaPath(root, segmentId, t)))
    }
    h
  }

  /** All known segment ids (hot + cold tiers). */
  def listSegments(): Seq[String] = {
    def ls(root: Path): Seq[String] = {
      val p = root.resolve("_segments")
      if (!Files.isDirectory(p)) Seq.empty
      else {
        val stream = Files.list(p)
        try stream.iterator.asScala.filter(Files.isRegularFile(_))
          .map(_.getFileName.toString).toSeq
        finally stream.close() // directory streams leak fds until GC otherwise
      }
    }
    tierRoots.flatMap(ls).distinct.sorted
  }

  /** Segment discovery by regex — reference `readable_segments(regex)`
    * (trough/client.py:203-218) / shell `CONNECT MATCHING`. `find()`
    * semantics = unanchored, matching java's rlike — so the same regex
    * drives the partition filter in [[TroughEngine.readAll]]. */
  def listSegments(regex: String): Seq[String] = {
    val p = java.util.regex.Pattern.compile(regex)
    listSegments().filter(id => p.matcher(id).find())
  }

  /** Create the segment and apply its schema DDL if absent (idempotent —
    * reference Segment.provision_local_segment, sync.py:243-251). */
  def provision(segmentId: String, schemaSql: String): Unit = {
    if (isCold(segmentId))
      // the reference's ClientError text, verbatim (sync.py:693-697)
      throw new IllegalStateException(
        s"cannot provision segment $segmentId for writing because that " +
          "segment id is in the read-only cold storage range")
    require(SegmentStore.SegmentIdPattern.matches(segmentId),
      s"segment id '$segmentId' must match ${SegmentStore.SegmentIdPattern} " +
        "(it becomes a hive partition value and a file name)")
    if (!segmentExists(segmentId)) {
      Files.createDirectories(marker(segmentId).getParent)
      Files.writeString(marker(segmentId), "")
      SqlScript.split(schemaSql).foreach { stmt =>
        SqlScript.firstWord(stmt) match {
          case "CREATE" if stmt.toUpperCase.matches("(?s)\\s*CREATE\\s+(UNIQUE\\s+)?INDEX.*") =>
            // no physical structure (parquet+Catalyst needs none), but
            // the definition is recorded so exports can materialize the
            // index trees a trough deployment's queries rely on
            recordIndex(segmentId, stmt)
          case "CREATE" if stmt.toUpperCase.matches("(?s)\\s*CREATE\\s+(TEMP\\w*\\s+)?VIEW.*") =>
            recordView(segmentId, SqliteDdl.parseCreateView(stmt))
          case "CREATE" if stmt.toUpperCase.matches("(?s)\\s*CREATE\\s+VIRTUAL\\s+TABLE.*")
              && Rtree.parseCreateVirtual(stmt).isDefined =>
            val rd = Rtree.parseCreateVirtual(stmt).get
            createTable(segmentId, rd.name, Rtree.metaOf(rd),
              failIfExists = !rd.ifNotExists)
          case "CREATE" if stmt.toUpperCase.matches("(?s)\\s*CREATE\\s+VIRTUAL\\s+TABLE.*") =>
            val fd = Fts5.parseCreateVirtual(stmt).getOrElse(
              throw new IllegalArgumentException(
                s"cannot parse CREATE VIRTUAL TABLE statement: $stmt"))
            // content= backings carry explicit rowids (r15) — same
            // shape as WriteTxn.createFtsTable
            val ridField =
              if (fd.content.isDefined)
                Seq(org.apache.spark.sql.types.StructField(
                  Fts5.RowidCol, LongType))
              else Nil
            val ftsSchema = org.apache.spark.sql.types.StructType(
              ridField ++ fd.columns.map(c =>
                org.apache.spark.sql.types.StructField(c, StringType)))
            createTable(segmentId, fd.name,
              if (fd.content.isDefined)
                TableMeta(ftsSchema, Seq(Fts5.RowidCol), Some(Fts5.RowidCol),
                  ftsSql = Some(fd.sql))
              else TableMeta(ftsSchema, Nil, None, ftsSql = Some(fd.sql)),
              failIfExists = !fd.ifNotExists)
          case "CREATE" =>
            val td = SqliteDdl.parseCreateTable(stmt)
            createTable(segmentId, td.name,
              TableMeta(td.schema, td.primaryKey, td.autoIncrement,
                notNull = td.notNull, defaults = td.defaults,
                uniques = td.uniques, checks = td.checks,
                generated = td.generated,
                strict = td.strict, strictTypes = td.strictTypes),
              failIfExists = !td.ifNotExists)
          case "" => ()
          case other =>
            throw new IllegalArgumentException(s"schema sql must be DDL, got: $other")
        }
      }
    }
  }

  /** Drop the whole segment (reference "shred", sync.py:439-509): its
    * slice of every table, then the registry marker. The caller (engine)
    * enforces refuse-while-write-locked. */
  def deleteSegment(segmentId: String): Unit = {
    if (isCold(segmentId))
      throw new IllegalStateException(
        s"cannot delete segment $segmentId: cold storage is read-only")
    val root = tierRoot(segmentId)
    if (Files.isDirectory(root)) {
      val stream = Files.list(root)
      try stream.iterator.asScala.filter(isTableDir).foreach { td =>
        val t = td.getFileName.toString
        // invalidate only tables this segment actually contributed a
        // slice to (meta present): a blanket cache clear would force
        // every cached table to replan — O(segments) meta re-reads each
        // — after ANY segment delete, needlessly quadratic under churn.
        // Invalidated AFTER the files are gone, not before: a read
        // racing the delete could otherwise re-cache a plan listing the
        // half-deleted segment, and nothing would ever evict it.
        val contributed = Files.isRegularFile(metaPath(root, segmentId, t))
        Seq(liveDir(root, segmentId, t), tmpDir(root, segmentId, t),
          oldDir(root, segmentId, t)).foreach(deleteRecursively)
        Files.deleteIfExists(metaPath(root, segmentId, t))
        if (contributed) tablePlanCache.remove(t)
      } finally stream.close()
    }
    Files.deleteIfExists(viewsPath(root, segmentId))
    Files.deleteIfExists(triggersPath(root, segmentId))
    Files.deleteIfExists(marker(segmentId))
    // drop the segment's swap monitor with it — long-lived stores cycling
    // many segments would otherwise grow this map without bound (the
    // lock's mutual exclusion is per-instance; see swapLocks scaladoc)
    swapLocks.remove(segmentId)
  }

  /** Durable copy of every table of a segment, with the temp-name-then-
    * rename convention the reference uses for HDFS promotion
    * (`foo._COPYING_` → `foo`, sync.py:1129-1146; same idea as Hadoop
    * output committers). The export is segment-major
    * (`<seg>/<table>/{meta.json,data/}`) — the natural interchange shape
    * for one segment. Returns the remote segment path. */
  def promote(segmentId: String, durableRoot: String): String = {
    if (isCold(segmentId))
      // the reference requires a write lock, which a cold-range
      // segment can never hold (sync.py:727-733, 693-697)
      throw new IllegalStateException(
        s"segment $segmentId is not currently writable")
    require(segmentExists(segmentId), s"segment $segmentId does not exist")
    val root = tierRoot(segmentId)
    val dstFinal = Paths.get(durableRoot, segmentId)
    val dstTmp = Paths.get(durableRoot, segmentId + "._COPYING_")
    if (Files.exists(dstTmp)) deleteRecursively(dstTmp)
    tables(segmentId).foreach { t =>
      val tDst = dstTmp.resolve(t)
      Files.createDirectories(tDst)
      Files.copy(metaPath(root, segmentId, t), tDst.resolve("meta.json"),
        StandardCopyOption.REPLACE_EXISTING)
      copyRecursively(liveDir(root, segmentId, t), tDst.resolve("data"))
    }
    val vp = viewsPath(root, segmentId)
    if (Files.isRegularFile(vp)) {
      Files.createDirectories(dstTmp)
      Files.copy(vp, dstTmp.resolve("views.json"), StandardCopyOption.REPLACE_EXISTING)
    }
    val tp = triggersPath(root, segmentId)
    if (Files.isRegularFile(tp)) {
      Files.createDirectories(dstTmp)
      Files.copy(tp, dstTmp.resolve("triggers.json"), StandardCopyOption.REPLACE_EXISTING)
    }
    if (Files.exists(dstFinal)) deleteRecursively(dstFinal)
    Files.move(dstTmp, dstFinal, StandardCopyOption.ATOMIC_MOVE)
    dstFinal.toString
  }

  /** Inverse of [[promote]]: restore a segment-major export
    * (`<seg>/<table>/{meta.json,data/}`) back into the table-major
    * store — the reference's local-sync pull from HDFS
    * (copy_segment_from_hdfs, sync.py:803-817). Table by table through
    * the same staged-swap commit as writes (file copy into the hidden
    * staging dir, then rename + meta), so a crash mid-import never
    * corrupts a previously-live table. Existing same-named tables are
    * replaced; tables absent from the export are left untouched. */
  def importSegment(segmentId: String, durableRoot: String): Unit = {
    if (isCold(segmentId))
      throw new IllegalStateException(
        s"cannot import segment $segmentId: cold storage is read-only")
    val src = Paths.get(durableRoot, segmentId)
    require(Files.isDirectory(src), s"no exported segment at $src")
    require(SegmentStore.SegmentIdPattern.matches(segmentId),
      s"segment id '$segmentId' must match ${SegmentStore.SegmentIdPattern}")
    if (!segmentExists(segmentId)) {
      Files.createDirectories(marker(segmentId).getParent)
      Files.writeString(marker(segmentId), "")
    }
    val root = tierRoot(segmentId)
    val stream = Files.list(src)
    val tableDirs =
      try stream.iterator.asScala.filter(isTableDir).toSeq
      finally stream.close()
    tableDirs.foreach { td =>
      val table = td.getFileName.toString
      val meta = readMeta(td.resolve("meta.json"))
      Files.createDirectories(tableRoot(root, table))
      val tmp = tmpDir(root, segmentId, table)
      if (Files.exists(tmp)) deleteRecursively(tmp)
      copyRecursively(td.resolve("data"), tmp)
      swapPreparedData(segmentId, table, Some(meta))
    }
    // views travel with the segment; an export without the file clears
    // none (tables absent from the export are left untouched — same rule)
    val vSrc = src.resolve("views.json")
    if (Files.isRegularFile(vSrc)) {
      val vp = viewsPath(root, segmentId)
      Files.createDirectories(vp.getParent)
      Files.copy(vSrc, vp, StandardCopyOption.REPLACE_EXISTING)
    }
    val tSrc = src.resolve("triggers.json")
    if (Files.isRegularFile(tSrc)) {
      val tp = triggersPath(root, segmentId)
      Files.createDirectories(tp.getParent)
      Files.copy(tSrc, tp, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Ingest a native trough segment: one `.sqlite` file (the reference's
    * on-disk unit, sync.py:237-240) parsed with the pure-Scala
    * [[SqliteFile]] reader and committed table-by-table through the same
    * staged-swap path as writes — a crash mid-ingest never corrupts a
    * previously-live table. Existing same-named tables are replaced
    * (import semantics, like [[importSegment]]); the segment is
    * registered if absent. Returns the ingested table names.
    *
    * Schema: each table's `sqlite_master` DDL goes through the same
    * [[SqliteDdl]] affinity mapping as provisioned schemas
    * (INTEGER→LONG, REAL→DOUBLE, TEXT→STRING, BLOB→BINARY), so an
    * ingested segment is indistinguishable from a provisioned one. An
    * `INTEGER PRIMARY KEY` column is SQLite's rowid alias — stored as
    * NULL in every record, materialized here from the B-tree key.
    * Because SQLite cells are dynamically typed, a stored value that
    * cannot losslessly coerce to the column's declared affinity (e.g.
    * non-numeric TEXT in an INTEGER column) is a clean per-cell error
    * naming table/rowid/column, not a silent null.
    *
    * Scale shape: one segment = one file = one bounded unit (segments
    * are small by design, reference README.rst:23-25) decoded
    * page-at-a-time on the driver. A bulk migration of tens of
    * thousands of segments parallelizes across FILES — each call is
    * independent — and the cluster-scale form of that is
    * [[ingestSqliteSegmentsDistributed]], which runs the same
    * [[SqliteIngest]] kernel inside executor tasks.
    *
    * `widen = true` opts into mixed-affinity tolerance: instead of the
    * per-cell error, column types widen to fit the storage classes
    * actually present (see [[SqliteIngest]] — trough's write path runs
    * arbitrary scripts, so real segments can hold e.g. TEXT in an
    * INTEGER column). */
  def ingestSqliteSegment(
      sqlitePath: String, segmentId: String, widen: Boolean = false): Seq[String] = {
    if (isCold(segmentId))
      throw new IllegalStateException(
        s"cannot ingest into segment $segmentId: cold storage is read-only")
    require(SegmentStore.SegmentIdPattern.matches(segmentId),
      s"segment id '$segmentId' must match ${SegmentStore.SegmentIdPattern}")
    val file = SqliteFile.open(sqlitePath, spark.sparkContext.hadoopConfiguration)
    // if THIS call registered the segment and then fails before any
    // table commits, unregister it again — a mid-walk corruption error
    // must not leave a phantom segment (registered, zero tables) behind
    val registeredHere = !segmentExists(segmentId)
    try {
      val masters = SqliteIngest.tableSpecs(file, widen)
      if (registeredHere) {
        Files.createDirectories(marker(segmentId).getParent)
        Files.writeString(marker(segmentId), "")
      }
      val names = masters.map { spec =>
        val meta = ingestedMeta(spec)
        SegmentStore.requireNoReservedColumns(meta)
        val rows = new java.util.ArrayList[Row]()
        SqliteIngest.decodedRows(file, spec).foreach(rows.add)
        // VIRTUAL generated columns come back null from the records;
        // re-derive them from the DDL expressions (STORED values are
        // trusted as read, like SQLite itself)
        val virtuals = spec.generated.filterNot(_.stored).map(_.name.toLowerCase).toSet
        val sess = if (virtuals.nonEmpty) sqliteExprSession else spark
        val df0 = sess.createDataFrame(rows, spec.schema)
        val df = if (virtuals.isEmpty) df0
          else GeneratedColumns.recompute(sess, df0, spec.schema,
            spec.generated, only = virtuals)
        replaceTableData(segmentId, spec.name, df, Some(meta))
        spec.name
      }
      names ++ commitCatalog(segmentId, names, SqliteIngest.catalogDdl(file))
    } catch {
      case e: Throwable =>
        if (registeredHere && tables(segmentId).isEmpty)
          Files.deleteIfExists(marker(segmentId))
        throw e
    } finally file.close()
  }

  private def ingestedMeta(spec: SqliteIngest.TableSpec): TableMeta =
    TableMeta(spec.schema, spec.primaryKey, spec.autoIncrement,
      spec.indexes, spec.notNull, spec.defaults, spec.uniques, spec.checks,
      spec.generated, spec.strict, spec.strictTypes)

  /** The post-table half of every `.sqlite` ingest, run once the file's
    * plain tables (`names`) have committed: merge the file's views and
    * triggers into the segment's registries, then rebuild its fts5 and
    * rtree tables from their ingested shadow tables. Shared by
    * [[ingestSqliteSegment]] and [[ingestSqliteSegmentsDistributed]], so
    * both build the same segment from the same file. A file with only
    * plain tables runs no job and writes no registry file. Returns the
    * virtual tables built. */
  private def commitCatalog(segmentId: String, names: Seq[String],
      cat: SqliteIngest.CatalogDdl): Seq[String] = {
    // views travel in sqlite_master too (type='view', rootpage=0).
    // Import semantics mirror tables: same-named views are replaced,
    // others kept; a pre-existing view now shadowed by an ingested
    // TABLE is dropped (tables win the namespace, as in SQLite).
    val fileViews = cat.viewDefs
    val existing = views(segmentId)
    val merged = existing.filterNot(v =>
      fileViews.exists(_.name.equalsIgnoreCase(v.name)) ||
        names.exists(_.equalsIgnoreCase(v.name))) ++ fileViews
    if (merged != existing) putViews(segmentId, merged)
    // triggers travel in sqlite_master too (type='trigger',
    // rootpage=0): same replace-by-name merge as views, except
    // triggers occupy their OWN namespace (probed: a trigger may
    // share a table's name), so ingested tables never shadow them
    val fileTriggers = cat.triggerDefs
    val existingTg = triggers(segmentId)
    val mergedTg = existingTg.filterNot(t =>
      fileTriggers.exists(_.name.equalsIgnoreCase(t.name))) ++ fileTriggers
    if (mergedTg != existingTg) putTriggers(segmentId, mergedTg)
    // fts5 virtual tables materialize from their ingested _content
    // shadow (id, c0..cn-1 → the declared column names) so MATCH
    // works over reference-written files (r11) — the reference
    // merely preserved the shadow DATA; this makes it searchable.
    // Unsupported fts definitions were skipped by ftsDefs (shadow
    // data still loads, the pre-r11 behavior).
    val ftsNames = cat.ftsDefs.flatMap { fd =>
      def materialize(df: DataFrame, withRowid: Boolean): String = {
        val fields =
          (if (withRowid) Seq(StructField(Fts5.RowidCol, LongType))
           else Nil) ++ fd.columns.map(c => StructField(c, StringType))
        val meta =
          if (withRowid) TableMeta(StructType(fields),
            Seq(Fts5.RowidCol), Some(Fts5.RowidCol), ftsSql = Some(fd.sql))
          else TableMeta(StructType(fields), Nil, None, ftsSql = Some(fd.sql))
        replaceTableData(segmentId, fd.name, df, Some(meta))
        fd.name
      }
      if (fd.externalContent) {
        // external content (r15): the file carries only the token
        // index — rebuild the index state from the ingested content
        // table (the supported deployment keeps them synced; real
        // fts5's own results are undefined otherwise). Unresolvable
        // rowid linkage skips the fts table like unsupported defs.
        names.find(_.equalsIgnoreCase(fd.content.get)).flatMap { src =>
          val srcMeta = tableMeta(segmentId, src)
          val ridCol =
            if (Set("rowid", "_rowid_", "oid").contains(
                fd.contentRowid.toLowerCase(java.util.Locale.ROOT)))
              srcMeta.autoIncrement
            else srcMeta.schema.fieldNames
              .find(_.equalsIgnoreCase(fd.contentRowid))
          ridCol.map { rc =>
            val content = loadTable(segmentId, src)
            materialize(content.select(
              functions.col(rc).cast(LongType).as(Fts5.RowidCol) +:
                fd.columns.map(c => functions.col(c).cast(StringType)
                  .as(c)): _*), withRowid = true)
          }
        }
      } else if (fd.contentless) {
        // contentless: the text is unrecoverable from the file's
        // doclists without an index decoder — skipped like
        // unsupported defs (shadow data still loads)
        None
      } else names.find(_.equalsIgnoreCase(fd.name + "_content")).map { cn =>
        val content = loadTable(segmentId, cn)
        materialize(content.select(fd.columns.zipWithIndex.map {
          case (c, i) =>
            functions.col(s"c$i").cast(StringType).as(c)
        }: _*), withRowid = false)
      }
    }
    // rtree virtual tables rebuild their queryable rows from the
    // ingested %_node leaf blobs (r15 — probed cell layout,
    // [[Rtree.decodeLeafCells]]); the decode is per-blob imperative
    // work, a genuine RDD case. Leaves are found STRUCTURALLY (r16):
    // only the ROOT node's header is nonzero (the tree depth), so a
    // zero header cannot distinguish a non-root inner node from a
    // leaf — a node is a leaf iff it is nobody's parent in the
    // %_parent shadow table (anti-join; empty table = 1-node tree,
    // whose root IS the sole leaf).
    val rtreeNames = cat.rtreeDefs.flatMap { rd =>
      names.find(_.equalsIgnoreCase(rd.name + "_node")).map { nn =>
        val nodes = loadTable(segmentId, nn)
          .where(functions.col("data").isNotNull)
        val leaves =
          names.find(_.equalsIgnoreCase(rd.name + "_parent")) match {
            case Some(pn) =>
              // parentnode is UNTYPED in the shadow DDL, so it may
              // ingest as the widened binary class (UTF-8 decimal
              // text) — cast through string to cover both storages
              val parents = loadTable(segmentId, pn)
                .select(functions.col("parentnode")
                  .cast(StringType)
                  .cast(LongType).as("nodeno")).distinct()
              nodes.join(functions.broadcast(parents), Seq("nodeno"),
                "left_anti")
            case None => nodes
          }
        val rows = leaves
          .select(functions.col("data"))
          .rdd.flatMap(r => Rtree.decodeLeafCells(rd,
            r.getAs[Array[Byte]](0)).map(Row.fromSeq))
        val coordDf = spark.createDataFrame(rows,
          Rtree.schemaOf(rd.copy(aux = Nil)))
        // auxiliary +col values (r17) live in the %_rowid shadow as
        // a0, a1, … — join them back by rowid; typeless shadow
        // columns may ingest as the widened binary class, so cast
        // through string (the parentnode pattern) to the aux type
        val df =
          if (rd.aux.isEmpty) coordDf
          else names.find(_.equalsIgnoreCase(rd.name + "_rowid")) match {
            case Some(rn) =>
              val auxCols = rd.aux.zipWithIndex.map { case ((c, decl), i) =>
                functions.col(s"a$i")
                  .cast(StringType)
                  .cast(rd.auxType(decl)).as(c)
              }
              val ridDf = loadTable(segmentId, rn).select(
                functions.col("rowid").cast(LongType).as("__rt_rid") +:
                  auxCols: _*)
              coordDf.join(ridDf,
                coordDf(rd.idCol) === functions.col("__rt_rid"), "left")
                .drop("__rt_rid")
            case None => // no rowid shadow in the file: aux read NULL
              rd.aux.foldLeft(coordDf) { case (d, (c, decl)) =>
                d.withColumn(c, functions.lit(null).cast(rd.auxType(decl)))
              }
          }
        replaceTableData(segmentId, rd.name, df, Some(Rtree.metaOf(rd)))
        rd.name
      }
    }
    ftsNames ++ rtreeNames
  }

  /** One table's `sqlite_master` material, shared by the `.sqlite`
    * export and [[masterCatalog]] so the file a trough deployment
    * receives and the relation the read path answers can never drift:
    * the rendered CREATE TABLE text, the implied `sqlite_autoindex`
    * trees (non-rowid-alias PRIMARY KEY first, then UNIQUEs — the
    * rendered DDL's constraint order, which is also how real SQLite
    * numbers them), and the recorded secondary indexes. */
  private def masterParts(t: String, meta: TableMeta): SegmentStore.MasterParts =
    SegmentStore.masterParts(t, meta)

  /** The segment's `sqlite_master` rows — (type, name, tbl_name,
    * rootpage, sql) exactly as an export of this segment would catalog
    * them (same DDL text, same autoindex names and numbering, same row
    * order: each table followed by its indexes, views last), so the
    * reference shell's introspection queries (`SELECT name FROM
    * sqlite_master WHERE type='table'`, SHOW CREATE TABLE —
    * /root/reference/trough/shell/__init__.py:149-154) answer over the
    * ordinary read path. `rootpage` is synthetic (sequential in catalog
    * order, 0 for views as in real SQLite) — a physical page number
    * only exists in an actual file; autoindex rows carry NULL `sql`,
    * like SQLite's own. */
  def masterCatalog(segmentId: String): Seq[(String, String, String, Long, String)] = {
    require(segmentExists(segmentId), s"segment $segmentId does not exist")
    val rows = Seq.newBuilder[(String, String, String, Long, String)]
    var page = 1L // page 1 is sqlite_master itself
    tables(segmentId).foreach { t =>
      val meta = tableMeta(segmentId, t)
      meta.ftsSql match {
        case Some(ddl) =>
          // FTS5 virtual table: the original CREATE VIRTUAL TABLE text,
          // rootpage 0 like real SQLite (no btree of its own; the
          // engine's backing storage replaces the shadow tables, which
          // are NOT cataloged — documented deviation)
          rows += (("table", t, t, 0L, ddl))
        case None =>
          val parts = masterParts(t, meta)
          page += 1
          rows += (("table", t, t, page, parts.ddl))
          parts.autoIdxSets.foreach { case (name, _) =>
            page += 1
            rows += (("index", name, t, page, null))
          }
          parts.secondary.foreach { case (ix, _) =>
            page += 1
            rows += (("index", ix.name, t, page, ix.sql))
          }
      }
    }
    views(segmentId).foreach(v => rows += (("view", v.name, v.name, 0L, v.sql)))
    triggers(segmentId).foreach(t =>
      rows += (("trigger", t.name, t.table, 0L, t.sql)))
    rows.result()
  }

  /** Inverse migration: export a segment as a well-formed `.sqlite`
    * database file via the pure-Scala [[SqliteWriter]] — the real
    * `sqlite3` opens, integrity-checks, and queries the output (spec-
    * verified), so data can move back OUT of this engine into a trough
    * deployment with no SQLite linkage in the JVM. The rowid-alias
    * column (INTEGER PRIMARY KEY) keys the B-tree directly; tables
    * without one get sequential rowids (a SQLite implementation detail
    * when unaliased). Recorded secondary indexes (CREATE INDEX) and
    * the autoindex implied by a non-alias PRIMARY KEY are materialized
    * as real index B-trees, so the export's own SQLite query plans can
    * use them.
    *
    * Runs [[SqliteExportKernel]] on the calling thread, against the
    * same spec the pooled and distributed exports build: the backing
    * parquet is read directly and no Spark job runs. Memory bound: one
    * table of the segment (plus, for an fts5 table, its postings) is
    * held at a time, sorted in-process — segments are small by design
    * (reference README.rst:23-25), and driver-local reads already hold
    * whole tables. Returns the exported table names. */
  def exportSqliteSegment(segmentId: String, outPath: String): Seq[String] = {
    require(segmentExists(segmentId), s"segment $segmentId does not exist")
    SqliteExportKernel.exportSegment(exportSpec(segmentId), Paths.get(outPath),
      spark.sparkContext.hadoopConfiguration)
  }

  /** One segment's [[SqliteExportKernel.SegmentSpec]]: table metas,
    * views, triggers and each table's live parquet files (KBs). */
  private def exportSpec(segmentId: String): SqliteExportKernel.SegmentSpec = {
    val root = tierRoot(segmentId)
    val slices = tables(segmentId).map { t =>
      val live = recoveredLiveDir(root, segmentId, t)
      val files =
        if (!Files.isDirectory(live)) Nil
        else {
          val s = Files.list(live)
          try s.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toSeq.sorted
          finally s.close()
        }
      SqliteExportKernel.TableSlice(t, tableMeta(segmentId, t), files)
    }
    SqliteExportKernel.SegmentSpec(segmentId, slices,
      views(segmentId).map(v => (v.name, v.sql)),
      triggers(segmentId).map(t => (t.name, t.table, t.sql)))
  }

  /** Bulk migration: ingest many `.sqlite` segment files with bounded
    * parallelism and per-file error isolation — one corrupt file
    * reports its error without failing the batch (the shape of the
    * reference's parallel HDFS sync pulls, sync.py:941-1047, and of
    * [[TroughEngine.fanout]]'s isolation contract). Per-segment commits
    * are independent (distinct swap locks), so files ingest fully
    * concurrently; each file is bounded work (segments are small by
    * design), making total migration time files/parallelism × per-file
    * cost. Returns per-segment `Try`s of the ingested table names. */
  def ingestSqliteSegments(
      files: Map[String, String], // segmentId -> path
      parallelism: Int = 8,
      widen: Boolean = false): Map[String, scala.util.Try[Seq[String]]] = {
    require(parallelism > 0, "parallelism must be positive")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val futures = files.toSeq.map { case (seg, path) =>
        val task = java.util.concurrent.CompletableFuture.supplyAsync(
          () => scala.util.Try(ingestSqliteSegment(path, seg, widen)), pool)
        seg -> task
      }
      futures.map { case (seg, f) => seg -> f.join() }.toMap
    } finally pool.shutdown()
  }

  /** Bulk inverse migration: export many segments as `.sqlite` files
    * with bounded parallelism and per-segment error isolation — the
    * outbound mirror of [[ingestSqliteSegments]]. Each export is one
    * [[exportSqliteSegment]] on a pool thread, holding one table of its
    * segment at a time, so the pool bounds driver memory at
    * `parallelism` tables. Returns per-segment `Try`s of the written
    * file path. */
  def exportSqliteSegments(
      segmentIds: Seq[String], outDir: String,
      parallelism: Int = 4): Map[String, scala.util.Try[String]] = {
    require(parallelism > 0, "parallelism must be positive")
    Files.createDirectories(Paths.get(outDir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val futures = segmentIds.map { seg =>
        val out = Paths.get(outDir, s"$seg.sqlite").toString
        seg -> java.util.concurrent.CompletableFuture.supplyAsync(
          () => scala.util.Try { exportSqliteSegment(seg, out); out }, pool)
      }
      futures.map { case (seg, f) => seg -> f.join() }.toMap
    } finally pool.shutdown()
  }

  /** Cluster-scale bulk inverse migration — the outbound mirror of
    * [[ingestSqliteSegmentsDistributed]] and the true analog of the
    * reference's parallel HDFS promotion (sync.py:1112-1188, per-node
    * parallel sync sync.py:941-1047): each segment's `.sqlite` file is
    * built INSIDE an executor task by [[SqliteExportKernel]] (backing
    * parquet read directly, in-task sorts, the shared streamed writer)
    * against task-local disk, then pushed to `outDir` through the
    * Hadoop filesystem of its scheme — so a 100 TB migration's bytes
    * flow executor→store with full cluster parallelism, never through
    * the driver JVM. The driver only collects per-segment METADATA
    * (table metas, file listings, views, triggers — KBs) before the
    * job and per-segment results after it.
    *
    * Per-segment error isolation, like every bulk path: a segment that
    * fails to export reports its error; the rest of the batch lands.
    * Each task builds the same spec [[exportSqliteSegment]] exports on
    * the driver, and holds one table of its segment at a time. */
  def exportSqliteSegmentsDistributed(segmentIds: Seq[String],
      outDir: String): Map[String, scala.util.Try[String]] = {
    import scala.util.{Failure, Success, Try}
    if (segmentIds.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val (present, missing) = segmentIds.distinct.partition(segmentExists)
    val missingResults: Map[String, Try[String]] = missing.map(seg =>
      seg -> Failure[String](new IllegalArgumentException(
        s"segment $seg does not exist"))).toMap
    if (present.isEmpty) return missingResults
    // per-segment spec: metadata + parquet file listings (KBs). Pooled:
    // a serial loop over 10⁵–10⁶ segments would make meta-file read
    // latency the migration's first bottleneck (same reasoning as the
    // distributed ingest's pooled commit phase).
    val specPool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val specs: Seq[(String, Try[SqliteExportKernel.SegmentSpec])] =
      try {
        val futures = present.map(seg =>
          seg -> java.util.concurrent.CompletableFuture.supplyAsync(
            () => Try(exportSpec(seg)), specPool))
        futures.map { case (seg, f) => seg -> f.join() }
      } finally specPool.shutdown()
    val specErrors: Map[String, Try[String]] = specs.collect {
      case (seg, Failure(e)) => seg -> Failure[String](e)
    }.toMap
    val okSpecs = specs.collect { case (_, Success(sp)) => sp }
    if (okSpecs.isEmpty) return missingResults ++ specErrors
    val hadoopConf = sc.broadcast(
      new org.apache.spark.util.SerializableConfiguration(sc.hadoopConfiguration))
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    outPath.getFileSystem(sc.hadoopConfiguration).mkdirs(outPath)
    val outDirStr = outDir
    val slices = math.max(1, math.min(okSpecs.size,
      math.max(sc.defaultParallelism * 2, okSpecs.size / 32)))
    val collected: Array[(String, Either[String, String])] =
      sc.parallelize(okSpecs, slices).map { spec =>
        spec.segmentId -> (try {
          require(org.apache.spark.TaskContext.get() != null,
            "bulk-export must run inside an executor task")
          val conf = hadoopConf.value.value
          val tmp = Files.createTempFile(s"graft-export-${spec.segmentId}", ".sqlite")
          try {
            SqliteExportKernel.exportSegment(spec, tmp, conf)
            val dst = new org.apache.hadoop.fs.Path(outDirStr,
              s"${spec.segmentId}.sqlite")
            val fs = dst.getFileSystem(conf)
            val out = fs.create(dst, true)
            try Files.copy(tmp, out) finally out.close()
            Right(dst.toString): Either[String, String]
          } finally Files.deleteIfExists(tmp)
        } catch {
          case scala.util.control.NonFatal(e) =>
            Left(s"${e.getClass.getName}: ${e.getMessage}"): Either[String, String]
        })
      }.collect()
    missingResults ++ specErrors ++ collected.map {
      case (seg, Right(path)) => seg -> Success(path)
      case (seg, Left(err)) => seg -> Failure[String](new RuntimeException(err))
    }.toMap
  }

  /** Cluster-scale bulk migration: the same [[SqliteIngest]] kernel as
    * [[ingestSqliteSegment]], but with BOTH passes — catalog (+ widen
    * scan) and row decode — running inside EXECUTOR tasks over a path
    * RDD, so a hundred-terabyte migration of tens of thousands of
    * segment files (the reference's universe: HDFS listings of
    * `*.sqlite`, sync.py:365-369, pulled per-node in parallel,
    * sync.py:941-1047) is bounded by the cluster, not a driver thread
    * pool. Paths must be visible from the executors (shared or
    * distributed filesystem).
    *
    * Shape: one job catalogs every file, collecting only per-table
    * [[SqliteIngest.TableSpec]] metadata (KBs) to the driver; segments
    * then group by (table, schema) and each group decodes and writes
    * as ONE `partitionBy(segment_id)` job straight into the
    * table-major layout's staging area — so the write side is the
    * same hive-partitioned parquet the scans want, produced with full
    * cluster parallelism. Commit is a per-segment metadata operation
    * on the driver (directory renames + meta files, through the same
    * staged-swap path as every other write), followed by the same
    * views/triggers/virtual-table commit as [[ingestSqliteSegment]]
    * (its catalog task ships that DDL text); fts5 and rtree tables
    * rebuild from their shadow tables there, as Spark jobs.
    *
    * Per-file error isolation, strengthened to per-SEGMENT atomicity:
    * a file that fails catalog or decode reports its error (via an
    * accumulator) and its segment commits NOTHING — decoded rows of
    * its other tables are discarded, never half-committed. One corrupt
    * file cannot fail the batch. */
  def ingestSqliteSegmentsDistributed(
      files: Map[String, String], // segmentId -> path
      widen: Boolean = false): Map[String, scala.util.Try[Seq[String]]] = {
    import scala.util.{Failure, Success, Try}
    if (files.isEmpty) return Map.empty
    val sc = spark.sparkContext
    // refusals that never reach a task (cold tier, layout-hostile ids)
    val (refused, candidates) = files.partition { case (seg, _) =>
      isCold(seg) || !SegmentStore.SegmentIdPattern.matches(seg)
    }
    val refusedResults: Map[String, Try[Seq[String]]] = refused.map { case (seg, _) =>
      seg -> Failure(new IllegalStateException(
        if (isCold(seg)) s"cannot ingest into segment $seg: cold storage is read-only"
        else s"segment id '$seg' must match ${SegmentStore.SegmentIdPattern}"))
    }
    if (candidates.isEmpty) return refusedResults
    // each task catalogs/decodes a bounded run of files; scale slices
    // with the batch so a million-file migration doesn't serialize
    // into a handful of giant tasks
    def slicesFor(n: Int): Int =
      math.max(1, math.min(n, math.max(sc.defaultParallelism * 2, n / 32)))
    // Hadoop conf rides to the tasks once, broadcast — scheme-qualified
    // paths (hdfs://, s3a://) open through it; bare paths stay on NIO
    val hadoopConf = sc.broadcast(
      new org.apache.spark.util.SerializableConfiguration(sc.hadoopConfiguration))

    // ---- pass 1 (distributed): catalog every file ----
    // the TaskContext requirement is the executor-side guarantee the
    // specs lean on: this closure CANNOT run outside a Spark task
    val cataloged: Map[String, Try[(Seq[SqliteIngest.TableSpec], SqliteIngest.CatalogDdl)]] =
      sc.parallelize(candidates.toSeq, slicesFor(candidates.size)).map { case (seg, path) =>
        seg -> Try {
          require(org.apache.spark.TaskContext.get() != null,
            "bulk-ingest catalog must run inside an executor task")
          val f = SqliteFile.open(path, hadoopConf.value.value)
          try {
            val specs = SqliteIngest.tableSpecs(f, widen)
            specs.foreach(s => SegmentStore.requireNoReservedColumns(
              SegmentStore.TableMeta(s.schema, s.primaryKey, s.autoIncrement)))
            // views, triggers and virtual tables ship as their DDL
            // text — catalog-only, no decode pass needed
            (specs, SqliteIngest.catalogDdl(f))
          } finally f.close()
        }
      }.collect().toMap
    val okSpecs: Seq[(String, SqliteIngest.TableSpec)] = cataloged.toSeq.flatMap {
      case (seg, Success((specs, _))) => specs.map(seg -> _)
      case _ => Nil
    }

    // ---- pass 2 (distributed): one decode+write job per (table, schema) ----
    val stagingRoot =
      Paths.get(dataRoot).resolve(s"._bulk_${java.util.UUID.randomUUID().toString.take(8)}")
    val decodeErrors =
      sc.collectionAccumulator[(String, String)]("graft.bulkIngest.decodeErrors")
    try {
      val part = StructField("segment_id", StringType, nullable = false)
      val staged: Map[(String, StructType, Seq[SqliteDdl.GeneratedDef]), Path] =
        okSpecs.groupBy { case (_, sp) => (sp.name, sp.schema, sp.generated) }.toSeq
          .sortBy(_._1._1).zipWithIndex.map { case (((table, schema, gens), members), gi) =>
            val dir = stagingRoot.resolve(s"g$gi")
            val memberList = members.map { case (seg, sp) => (seg, candidates(seg), sp) }
            val rows = sc.parallelize(memberList, slicesFor(memberList.size))
              .flatMap { case (seg, path, sp) =>
                require(org.apache.spark.TaskContext.get() != null,
                  "bulk-ingest decode must run inside an executor task")
                try {
                  val f = SqliteFile.open(path, hadoopConf.value.value)
                  // buffer this table of this file fully BEFORE
                  // emitting: isolation means a mid-walk error must
                  // contribute ZERO rows, not a prefix
                  try {
                    val buf = scala.collection.mutable.ArrayBuffer[Row]()
                    SqliteIngest.decodedRows(f, sp)
                      .foreach(r => buf += Row.fromSeq(r.toSeq :+ seg))
                    buf
                  } finally f.close()
                } catch {
                  case scala.util.control.NonFatal(e) =>
                    decodeErrors.add(seg -> s"${e.getClass.getName}: ${e.getMessage}")
                    Nil
                }
              }
            val virtuals = gens.filterNot(_.stored).map(_.name.toLowerCase).toSet
            val sess = if (virtuals.nonEmpty) sqliteExprSession else spark
            val df0 = sess.createDataFrame(rows, StructType(schema.fields :+ part))
            val df = if (virtuals.isEmpty) df0
              else GeneratedColumns.recompute(sess, df0, schema, gens, only = virtuals)
            df.write.mode("overwrite").partitionBy("segment_id").parquet(dir.toString)
            (table, schema, gens) -> dir
          }.toMap

      // ---- commit (driver): per-segment metadata ops, all-or-nothing.
      // Independent per segment (distinct swap locks, distinct dirs),
      // so they run on a bounded pool — a serial loop over 10⁵–10⁶
      // segments would make directory-rename latency the migration's
      // last bottleneck after the decode went distributed. ----
      val decodeErrsBySeg: Map[String, Seq[String]] = decodeErrors.value.asScala.toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      def commitSegment(seg: String, specs: Seq[SqliteIngest.TableSpec]): Seq[String] = {
        if (!segmentExists(seg)) {
          Files.createDirectories(marker(seg).getParent)
          Files.writeString(marker(seg), "")
        }
        val root = tierRoot(seg)
        specs.map { sp =>
          Files.createDirectories(tableRoot(root, sp.name))
          val tmp = tmpDir(root, seg, sp.name)
          if (Files.exists(tmp)) deleteRecursively(tmp)
          val stagedDir = staged((sp.name, sp.schema, sp.generated))
            .resolve(s"segment_id=$seg")
          if (Files.isDirectory(stagedDir))
            Files.move(stagedDir, tmp, StandardCopyOption.ATOMIC_MOVE)
          else // zero-row table: partitionBy wrote no partition dir
            spark.createDataFrame(
              java.util.Collections.emptyList[Row](), sp.schema)
              .write.mode("overwrite").parquet(tmp.toString)
          swapPreparedData(seg, sp.name, Some(ingestedMeta(sp)))
          sp.name
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val results: Map[String, Try[Seq[String]]] =
        try {
          val futures = cataloged.toSeq.map {
            case (seg, Failure(e)) =>
              seg -> java.util.concurrent.CompletableFuture
                .completedFuture(Failure[Seq[String]](e))
            case (seg, Success(_)) if decodeErrsBySeg.contains(seg) =>
              seg -> java.util.concurrent.CompletableFuture
                .completedFuture(Failure[Seq[String]](new IllegalStateException(
                  decodeErrsBySeg(seg).mkString("; "))))
            case (seg, Success((specs, cat))) =>
              seg -> java.util.concurrent.CompletableFuture.supplyAsync(
                () => Try {
                  val names = commitSegment(seg, specs)
                  names ++ commitCatalog(seg, names, cat)
                }, pool)
          }
          futures.map { case (seg, f) => seg -> f.join() }.toMap
        } finally pool.shutdown()
      refusedResults ++ results
    } finally deleteRecursively(stagingRoot)
  }

  // ----------------------------------------------------------------- tables

  /** Visible tables of a segment. Visibility is keyed on the meta file,
    * NOT data directories: prepareTableData stages into a hidden
    * `._tmp_` dir for in-transaction CREATEs *before* the commit point,
    * and the meta file lands only at swap time — so a crash between
    * prepare and swap leaves nothing visible (readers would otherwise
    * see a phantom table whose loadTable throws, and a retried CREATE
    * would refuse with "already exists"), upholding WriteTxn's
    * aborts-leave-no-visible-change contract. */
  def tables(segmentId: String): Seq[String] = {
    val root = tierRoot(segmentId)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val stream = Files.list(root)
      try stream.iterator.asScala.filter(isTableDir)
        .filter(td => Files.isRegularFile(metaPath(root, segmentId, td.getFileName.toString)))
        .map(_.getFileName.toString).toSeq.sorted
      finally stream.close()
    }
  }

  /** Every table name visible in ANY segment, across tiers — one
    * directory listing, independent of segment count. */
  def allTables(): Seq[String] =
    tierRoots.flatMap { root =>
      if (!Files.isDirectory(root)) Seq.empty
      else {
        val stream = Files.list(root)
        try stream.iterator.asScala.filter(isTableDir)
          .filter(td => metaCount(td) > 0)
          .map(_.getFileName.toString).toSeq
        finally stream.close()
      }
    }.distinct.sorted

  private def metaCount(tableDir: Path): Int = {
    val m = tableDir.resolve("_meta")
    if (!Files.isDirectory(m)) 0
    else {
      val stream = Files.list(m)
      try stream.iterator.asScala.count(p => p.getFileName.toString.endsWith(".json"))
      finally stream.close()
    }
  }

  /** Bytes on disk across the segment's live table slices — the analog
    * of the reference's `os.path.getsize(segment.local_path())`
    * reported by the provision API (wsgi/segment_manager.py result
    * dict). */
  def segmentSizeBytes(segmentId: String): Long = {
    val root = tierRoot(segmentId)
    tables(segmentId).map { t =>
      val live = liveDir(root, segmentId, t)
      if (!Files.isDirectory(live)) 0L
      else {
        val stream = Files.walk(live)
        try stream.iterator.asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally stream.close()
      }
    }.sum
  }

  /** meta-keyed, like [[tables]] — a half-prepared staging dir is not a
    * table. */
  def tableExists(segmentId: String, table: String): Boolean =
    Files.isRegularFile(metaPath(tierRoot(segmentId), segmentId, table))

  def tableMeta(segmentId: String, table: String): TableMeta =
    readMeta(metaPath(tierRoot(segmentId), segmentId, table))

  private def readMeta(p: Path): TableMeta = {
    val node = mapper.readTree(Files.readString(p))
    val indexes =
      if (!node.has("indexes")) Nil // metas predating index recording
      else (0 until node.get("indexes").size()).map { i =>
        val ix = node.get("indexes").get(i)
        SqliteDdl.IndexDef(
          ix.get("name").asText(),
          ix.get("table").asText(),
          (0 until ix.get("columns").size()).map(ix.get("columns").get(_).asText()),
          unique = ix.get("unique").asBoolean(),
          ifNotExists = false,
          sql = ix.get("sql").asText())
      }
    val notNull =
      if (!node.has("notNull")) Nil // metas predating constraint recording
      else (0 until node.get("notNull").size()).map(node.get("notNull").get(_).asText())
    val defaults =
      if (!node.has("defaults")) Map.empty[String, String]
      else {
        val o = node.get("defaults")
        val it = o.fieldNames()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val k = it.next(); b += k -> o.get(k).asText() }
        b.result()
      }
    val uniques =
      if (!node.has("uniques")) Nil
      else (0 until node.get("uniques").size()).map { i =>
        val u = node.get("uniques").get(i)
        (0 until u.size()).map(u.get(_).asText()): Seq[String]
      }
    val checks =
      if (!node.has("checks")) Nil
      else (0 until node.get("checks").size()).map { i =>
        val c = node.get("checks").get(i)
        SqliteDdl.CheckDef(c.get("label").asText(), c.get("expr").asText(),
          if (c.has("owner")) c.get("owner").asText() else "")
      }
    val generated =
      if (!node.has("generated")) Nil
      else (0 until node.get("generated").size()).map { i =>
        val g = node.get("generated").get(i)
        SqliteDdl.GeneratedDef(g.get("name").asText(), g.get("expr").asText(),
          g.get("stored").asBoolean())
      }
    val strictTypes =
      if (!node.has("strictTypes")) Map.empty[String, String]
      else {
        val o = node.get("strictTypes")
        val it = o.fieldNames()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val k = it.next(); b += k -> o.get(k).asText() }
        b.result()
      }
    TableMeta(
      DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType],
      (0 until node.get("pk").size()).map(node.get("pk").get(_).asText()),
      if (node.hasNonNull("autoIncrement")) Some(node.get("autoIncrement").asText()) else None,
      indexes, notNull, defaults, uniques, checks, generated,
      node.has("strict") && node.get("strict").asBoolean(), strictTypes,
      if (node.hasNonNull("ftsSql")) Some(node.get("ftsSql").asText()) else None)
  }

  /** Record a plain CREATE INDEX in its table's meta. Non-plain shapes
    * (expression/DESC columns, partial indexes) stay accepted as no-op
    * hints — [[SqliteDdl.parseCreateIndex]] returns None for them. */
  def recordIndex(segmentId: String, stmt: String): Unit =
    SqliteDdl.parseCreateIndex(stmt).foreach { ix =>
      if (ix.name.toLowerCase.startsWith("sqlite_")) // SQLite's own refusal
        throw new IllegalArgumentException(
          s"object name reserved for internal use: ${ix.name}")
      if (!tableExists(segmentId, ix.table))
        throw new IllegalArgumentException(s"no such table for index: ${ix.table}")
      val meta = tableMeta(segmentId, ix.table)
      if (meta.indexes.exists(_.name.equalsIgnoreCase(ix.name))) {
        if (!ix.ifNotExists)
          throw new IllegalStateException(s"index ${ix.name} already exists")
      } else if (ix.columns.forall(c => meta.schema.fieldNames.exists(_.equalsIgnoreCase(c))))
        writeMeta(segmentId, ix.table, meta.copy(indexes = meta.indexes :+ ix))
      else throw new IllegalArgumentException(
        s"index ${ix.name} references columns not in table ${ix.table}")
    }

  def createTable(
      segmentId: String, table: String, meta: TableMeta, failIfExists: Boolean): Unit = {
    // existence = visibility (the meta file), not bare dirs: leftover
    // staging dirs from an aborted transaction must not block a retried
    // CREATE — create through them (stale tmp is overwritten by the
    // next prepare; createDirectories is idempotent)
    if (tableExists(segmentId, table)) {
      if (failIfExists)
        throw new IllegalStateException(s"table $table already exists")
      return
    }
    if (viewExists(segmentId, table)) {
      // IF NOT EXISTS suppresses the error for ANY same-named object
      // (SQLite semantics), but never silently shadows the view
      if (failIfExists)
        throw new IllegalStateException(s"view $table already exists")
      return
    }
    SegmentStore.requireNoReservedColumns(meta)
    // the TABLE root only — the per-segment live dir appears at first
    // data commit. An eager empty partition dir per provisioned segment
    // put 10⁵ empty dirs under the scan root at trough's real segment
    // count, and listing them dominated every readAll's planning
    // (~20 s at 100k, r17 measured); empty tables resolve from meta.
    Files.createDirectories(tableRoot(tierRoot(segmentId), table))
    writeMeta(segmentId, table, meta)
  }

  private def writeMeta(segmentId: String, table: String, meta: TableMeta): Unit = {
    val root = mapper.createObjectNode()
    root.put("schema", meta.schema.json)
    val pk = root.putArray("pk")
    meta.primaryKey.foreach(pk.add)
    meta.autoIncrement match {
      case Some(c) => root.put("autoIncrement", c)
      case None => root.putNull("autoIncrement")
    }
    if (meta.indexes.nonEmpty) {
      val arr = root.putArray("indexes")
      meta.indexes.foreach { ix =>
        val o = arr.addObject()
        o.put("name", ix.name)
        o.put("table", ix.table)
        val cols = o.putArray("columns")
        ix.columns.foreach(cols.add)
        o.put("unique", ix.unique)
        o.put("sql", ix.sql)
      }
    }
    if (meta.notNull.nonEmpty) {
      val arr = root.putArray("notNull")
      meta.notNull.foreach(arr.add)
    }
    if (meta.defaults.nonEmpty) {
      val o = root.putObject("defaults")
      meta.defaults.foreach { case (k, v) => o.put(k, v) }
    }
    if (meta.uniques.nonEmpty) {
      val arr = root.putArray("uniques")
      meta.uniques.foreach { u =>
        val a = arr.addArray()
        u.foreach(a.add)
      }
    }
    if (meta.checks.nonEmpty) {
      val arr = root.putArray("checks")
      meta.checks.foreach { c =>
        val o = arr.addObject()
        o.put("label", c.label)
        o.put("expr", c.expr)
        if (c.ownerCol.nonEmpty) o.put("owner", c.ownerCol)
      }
    }
    if (meta.generated.nonEmpty) {
      val arr = root.putArray("generated")
      meta.generated.foreach { g =>
        val o = arr.addObject()
        o.put("name", g.name)
        o.put("expr", g.expr)
        o.put("stored", g.stored)
      }
    }
    if (meta.strict) {
      root.put("strict", true)
      val o = root.putObject("strictTypes")
      meta.strictTypes.foreach { case (k, v) => o.put(k, v) }
    }
    meta.ftsSql.foreach(s => root.put("ftsSql", s))
    writeAtomically(metaPath(tierRoot(segmentId), segmentId, table), root.toString)
    tablePlanCache.remove(table) // schema may have widened
  }

  // ------------------------------------------------------------- views

  /** A segment's views, in creation order (view-on-view resolves by
    * registering earlier definitions first). Stored as one small JSON
    * file per segment under `_views/` — absent file = no views, so
    * view support costs view-less segments nothing. SQLite stores view
    * text (not a plan) in `sqlite_master` and resolves it at query
    * time; this registry is the same contract. */
  def views(segmentId: String): Seq[SqliteDdl.ViewDef] = {
    val p = viewsPath(tierRoot(segmentId), segmentId)
    if (!Files.isRegularFile(p)) Nil
    else {
      val node = mapper.readTree(Files.readString(p))
      (0 until node.size()).map { i =>
        SqliteDdl.parseCreateView(node.get(i).get("sql").asText())
      }
    }
  }

  def viewExists(segmentId: String, name: String): Boolean =
    views(segmentId).exists(_.name.equalsIgnoreCase(name))

  /** Views of every segment that HAS any, keyed by segment id —
    * one `_views/` directory listing per tier, so a store with no
    * views (or a readAll over view-less segments) pays a single empty
    * listing, never O(segments) file probes. */
  def allViews(): Map[String, Seq[SqliteDdl.ViewDef]] = {
    tierRoots.flatMap { root =>
      val dir = root.resolve("_views")
      if (!Files.isDirectory(dir)) Nil
      else {
        val stream = Files.list(dir)
        try stream.iterator.asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
          .map(p => p.getFileName.toString.stripSuffix(".json"))
          .toSeq
        finally stream.close()
      }
    }.distinct.map(seg => seg -> views(seg)).filter(_._2.nonEmpty).toMap
  }

  /** Replace the segment's whole view registry (WriteTxn commits its
    * staged set through here; empty clears the file). */
  def putViews(segmentId: String, defs: Seq[SqliteDdl.ViewDef]): Unit = {
    val p = viewsPath(tierRoot(segmentId), segmentId)
    if (defs.isEmpty) { Files.deleteIfExists(p); () }
    else {
      val arr = mapper.createArrayNode()
      defs.foreach(v => arr.addObject().put("sql", v.sql))
      writeAtomically(p, arr.toString)
    }
  }

  /** Record one CREATE VIEW (provision / ingest paths — write scripts
    * stage through [[WriteTxn]] instead). Same-name semantics as
    * SQLite: error unless IF NOT EXISTS; a view may not shadow a
    * table. */
  def recordView(segmentId: String, v: SqliteDdl.ViewDef): Unit = {
    if (v.name.toLowerCase.startsWith("sqlite_"))
      throw new IllegalArgumentException(
        s"object name reserved for internal use: ${v.name}")
    if (tableExists(segmentId, v.name))
      throw new IllegalStateException(s"table ${v.name} already exists")
    val existing = views(segmentId)
    if (existing.exists(_.name.equalsIgnoreCase(v.name))) {
      if (!v.ifNotExists)
        throw new IllegalStateException(s"view ${v.name} already exists")
    } else putViews(segmentId, existing :+ v)
  }

  // ----------------------------------------------------------- triggers

  /** A segment's triggers, in creation order (WriteTxn fires them in
    * REVERSE creation order — SQLite's observed behavior; the registry
    * stays forward so `sqlite_master` catalogs in creation order).
    * Same storage shape as [[views]]: one JSON file per segment under
    * `_triggers/`, absent = none. */
  def triggers(segmentId: String): Seq[SqliteDdl.TriggerDef] = {
    val p = triggersPath(tierRoot(segmentId), segmentId)
    if (!Files.isRegularFile(p)) Nil
    else {
      val node = mapper.readTree(Files.readString(p))
      (0 until node.size()).map { i =>
        SqliteDdl.parseCreateTrigger(node.get(i).get("sql").asText())
      }
    }
  }

  /** Replace the segment's whole trigger registry (WriteTxn commits
    * its staged set through here; empty clears the file). */
  def putTriggers(segmentId: String, defs: Seq[SqliteDdl.TriggerDef]): Unit = {
    val p = triggersPath(tierRoot(segmentId), segmentId)
    if (defs.isEmpty) { Files.deleteIfExists(p); () }
    else {
      val arr = mapper.createArrayNode()
      defs.foreach(t => arr.addObject().put("sql", t.sql))
      writeAtomically(p, arr.toString)
    }
  }

  /** Read one segment's slice of a table; explicit schema from the meta
    * file so empty tables (no parquet files yet) still resolve. Reading
    * the partition directory directly yields no `segment_id` column —
    * the segment-scoped contract (reference reads are per-segment).
    * `session` lets callers bind the scan into an isolated child session
    * (per-read temp view scoping). */
  def loadTable(segmentId: String, table: String,
      session: SparkSession = spark): DataFrame = {
    val meta = tableMeta(segmentId, table)
    val live = recoveredLiveDir(tierRoot(segmentId), segmentId, table)
    // no live dir = no data ever committed (r17: createTable no longer
    // materializes an empty partition dir) — an empty frame of the
    // declared schema, exactly what an empty parquet dir served
    if (!Files.isDirectory(live))
      session.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), meta.schema)
    else session.read.schema(meta.schema).parquet(live.toString)
  }

  /** The table's live directory, after crash recovery:
    * swapPreparedData's rename pair has a window between moving
    * live→._old_ and ._tmp_→live; if a crash landed there, serve (and
    * restore) the previous committed state. Taken under the segment's
    * swap lock: with an in-flight swap serialized out, the (live
    * absent, ._old_ present) state can only mean a crash. */
  private def recoveredLiveDir(root: Path, segmentId: String, table: String): Path = {
    val live = liveDir(root, segmentId, table)
    if (!Files.isDirectory(live)) swapLock(segmentId).synchronized {
      if (!Files.isDirectory(live) && Files.isDirectory(oldDir(root, segmentId, table)))
        Files.move(oldDir(root, segmentId, table), live, StandardCopyOption.ATOMIC_MOVE)
    }
    live
  }

  /** One scan over EVERY segment's slice of a table: the whole table
    * directory as a hive-partitioned dataset with `segment_id` as the
    * partition column. Predicates on `segment_id` become partition
    * filters — pruned at file-listing level, never read. This is the
    * scale path for [[TroughEngine.readAll]]: one relation regardless
    * of segment count (the hot and cold tiers union as at most two).
    *
    * Schema = the union of every segment's meta schema (fields added by
    * per-segment ALTERs read as null elsewhere — same semantics as the
    * previous unionByName(allowMissingColumns) form, without its N-way
    * plan).
    *
    * Cross-segment type conflicts (legal — each segment owns its schema,
    * so one segment may CREATE a column INTEGER and another TEXT) can't
    * be served by forcing one physical read schema onto every segment's
    * parquet: the conversion fails at execution. Instead segments are
    * grouped by their declared types for the conflicting columns, each
    * group scanned with its own physical schema, the conflict columns
    * cast to a widened type (LONG+DOUBLE → DOUBLE, anything else →
    * STRING — the coercion the old unionByName form applied), and the
    * groups unioned. The common no-conflict case stays one relation per
    * tier, so partition pruning and plan size are unaffected. */
  def loadTableAll(table: String, session: SparkSession = spark): DataFrame = {
    // the plan folds EVERY segment's meta file — O(segments)
    // reads+parses — so it's cached per table and invalidated on DDL
    // (writeMeta/dropTable/deleteSegment). Sound in-process because the
    // engine's single-writer locks route all DDL through this store.
    val plan = tablePlanCache.computeIfAbsent(table, _ => buildTablePlan(table))
    val part = StructField("segment_id", StringType, nullable = true)
    val frames = plan.groups.flatMap { g =>
      // existence is checked FRESH per read, never cached: a segment
      // CREATEd in-transaction may have a meta but no data dir yet, and
      // the swap rename pair has a momentary no-live-dir window — a
      // cached snapshot would drop that segment from every subsequent
      // scan until unrelated DDL invalidated the plan. The uniform case
      // checks its single root path directly; conflict groups carry
      // per-segment paths and filter them against ONE readdir of the
      // root — a stat per path costs ~0.2 ms on overlay filesystems,
      // ~20 s alone at 10⁵ segments (r17, measured)
      val dirs =
        if (g.paths.lengthCompare(1) == 0 && g.paths.head == g.basePath)
          g.paths.filter(Files.isDirectory(_))
        else {
          val existing: Set[String] =
            if (!Files.isDirectory(g.basePath)) Set.empty
            else {
              val s = Files.list(g.basePath)
              try s.iterator.asScala.map(_.getFileName.toString)
                .filter(_.startsWith("segment_id=")).toSet
              finally s.close()
            }
          g.paths.filter(p => existing(p.getFileName.toString))
        }
      if (dirs.isEmpty) None
      else Some {
        // explicit schema: data fields + the partition column, so the
        // partition value type is never inferred and empty tables resolve
        val df = session.read
          .option("basePath", g.basePath.toString)
          .schema(StructType(g.readSchema.fields :+ part))
          .parquet(dirs.map(_.toString): _*)
        if (g.readSchema == plan.widened) df
        else df.select(plan.widened.fields.map(f =>
          functions.col(f.name).cast(f.dataType)) :+ functions.col("segment_id"): _*)
      }
    }
    if (frames.isEmpty)
      session.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(plan.widened.fields :+ part))
    else frames.reduce(_.unionByName(_))
  }

  private final case class ScanGroup(basePath: Path, paths: Seq[Path], readSchema: StructType)
  private final case class TablePlan(widened: StructType, groups: Seq[ScanGroup])

  private def buildTablePlan(table: String): TablePlan = {
    val roots = tierRoots.filter(r =>
      Files.isDirectory(tableRoot(r, table)) && metaCount(tableRoot(r, table)) > 0)
    require(roots.nonEmpty, s"no such table in any segment: $table")
    // (tier table root, segment partition dir, declared schema) per
    // segment. Pooled (r17): at trough's 10⁵-segment universe a serial
    // loop makes meta-file read latency the first query's planning
    // bottleneck (measured 27 s at 100k; ~3 s pooled ×16) — same
    // reasoning as the distributed export's pooled spec collection.
    val metas: Seq[(Path, Path, StructType)] = roots.flatMap { r =>
      val tr = tableRoot(r, table)
      val files = listMetaFiles(tr)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      try files
        .map(m => m -> java.util.concurrent.CompletableFuture.supplyAsync(
          () => readMeta(m).schema, pool))
        .map { case (m, f) =>
          val seg = m.getFileName.toString.stripSuffix(".json")
          (tr, tr.resolve(s"segment_id=$seg"), f.join())
        }
      finally pool.shutdown()
    }
    val widened = metas.map(_._3).reduce(widenSchemas)
    val conflictCols: Set[String] = widened.fieldNames.filter { n =>
      metas.flatMap(_._3.fields.find(_.name == n)).map(_.dataType).distinct.size > 1
    }.toSet
    if (conflictCols.isEmpty)
      TablePlan(widened,
        roots.map(r => ScanGroup(tableRoot(r, table), Seq(tableRoot(r, table)), widened)))
    else {
      // Group by (tier, declared type per conflict column). A segment
      // lacking a conflict column entirely reads it as null under any
      // type, so absent joins the widened-type signature.
      val groups = metas
        .groupBy { case (tr, _, s) =>
          (tr, conflictCols.toSeq.sorted.map(c => s.fields.find(_.name == c).map(_.dataType)))
        }
        .toSeq.sortBy { case (_, ms) => ms.head._2.toString } // deterministic plan order
        .map { case ((tr, _), ms) =>
          val sig: Map[String, DataType] =
            ms.head._3.fields.filter(f => conflictCols.contains(f.name))
              .map(f => f.name -> f.dataType).toMap
          val readSchema = StructType(widened.fields.map(f =>
            sig.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)))
          // dir existence deliberately NOT checked here — the plan is
          // cached, and existence is transient (mid-swap window, metas
          // before first commit); loadTableAll filters fresh per read
          ScanGroup(tr, ms.map(_._2), readSchema)
        }
      TablePlan(widened, groups)
    }
  }

  /** Widened cross-segment type: the only numeric pair the DDL type map
    * produces (SqliteDdl: LONG/DOUBLE/STRING/BINARY) widens numerically;
    * every other mismatch goes to STRING, which every type casts to —
    * matching SQLite's text affinity for mixed-type columns. */
  private def widenType(a: DataType, b: DataType): DataType =
    if (a == b) a
    else (a, b) match {
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case _ => StringType
    }

  private val tablePlanCache =
    new java.util.concurrent.ConcurrentHashMap[String, TablePlan]()

  /** Test hook: which tables currently have a cached scan plan —
    * lets specs assert the targeted invalidation in [[deleteSegment]]
    * (unrelated tables keep their plans across a segment delete). */
  private[engine] def cachedPlanTables: Set[String] =
    tablePlanCache.keySet().asScala.toSet

  private def listMetaFiles(tableDir: Path): Seq[Path] = {
    val m = tableDir.resolve("_meta")
    if (!Files.isDirectory(m)) Seq.empty
    else {
      val stream = Files.list(m)
      try stream.iterator.asScala.filter(_.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    }
  }

  private def widenSchemas(a: StructType, b: StructType): StructType =
    StructType(
      a.fields.map { f =>
        b.fields.find(_.name == f.name) match {
          case Some(g) if g.dataType != f.dataType =>
            f.copy(dataType = widenType(f.dataType, g.dataType))
          case _ => f
        }
      } ++ b.fields.filterNot(f => a.fieldNames.contains(f.name)))

  /** Atomically replace a table's data: write to a hidden staging dir,
    * then swap directories. Segments are small by design (reference
    * README.rst:23-25) so a partition rewrite is the intended cost model
    * for UPDATE/DELETE over immutable parquet. */
  def replaceTableData(
      segmentId: String, table: String, df: DataFrame, newMeta: Option[TableMeta] = None): Unit = {
    prepareTableData(segmentId, table, df)
    swapPreparedData(segmentId, table, newMeta)
  }

  /** Phase 1 of the replace: write the new data to `._tmp_<segment>`.
    * The dot prefix keeps it invisible to Spark's file listing, so an
    * in-flight prepare never pollutes concurrent whole-table scans. Any
    * failure here leaves the live dir untouched (a stale staging dir is
    * overwritten by the next prepare). Split out so a multi-table
    * transaction can prepare every table before swapping any —
    * shrinking the non-atomic window from "all parquet writes" to "a
    * few directory renames" (WriteTxn.commit). Creates the table dir on
    * demand so tables CREATEd inside the transaction can be prepared
    * before any storage-visible create happens. */
  def prepareTableData(segmentId: String, table: String, df: DataFrame): Unit = {
    val root = tierRoot(segmentId)
    Files.createDirectories(tableRoot(root, table))
    val tmp = tmpDir(root, segmentId, table)
    if (Files.exists(tmp)) deleteRecursively(tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
  }

  /** Phase 2: swap the staged data into place (per-segment lock — see
    * [[swapLock]]). The live→`._old_` / `._tmp_`→live rename pair has a
    * crash window with no live dir; loadTable self-heals from `._old_`
    * if it finds that state. A table with no live dir yet (first commit
    * after an in-transaction CREATE) degenerates to a single rename. */
  def swapPreparedData(
      segmentId: String, table: String, newMeta: Option[TableMeta] = None): Unit =
    swapLock(segmentId).synchronized {
      val root = tierRoot(segmentId)
      val live = liveDir(root, segmentId, table)
      val old = oldDir(root, segmentId, table)
      if (Files.exists(old)) deleteRecursively(old)
      if (Files.isDirectory(live)) {
        Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmpDir(root, segmentId, table), live, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(old)
      } else {
        Files.move(tmpDir(root, segmentId, table), live, StandardCopyOption.ATOMIC_MOVE)
      }
      newMeta.foreach(writeMeta(segmentId, table, _))
    }

  def dropTable(segmentId: String, table: String): Unit = {
    if (!tableExists(segmentId, table)) // staging leftovers are not tables
      throw new IllegalStateException(s"no such table: $table")
    val root = tierRoot(segmentId)
    Seq(liveDir(root, segmentId, table), tmpDir(root, segmentId, table),
      oldDir(root, segmentId, table)).foreach(deleteRecursively)
    Files.deleteIfExists(metaPath(root, segmentId, table))
    tablePlanCache.remove(table)
  }

  // ------------------------------------------------------------------ utils

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val stream = Files.list(p)
      try stream.iterator.asScala.foreach(deleteRecursively)
      finally stream.close()
    }
    Files.deleteIfExists(p)
  }

  private def copyRecursively(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val stream = Files.walk(src)
    try stream.iterator.asScala.foreach { p =>
      val rel = src.relativize(p)
      val target = dst.resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally stream.close()
  }
}
