package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlInternals
import org.apache.spark.sql.types._

import graft.functions.TroughFunctions

/** The trough-compatible query engine, Spark-first.
  *
  * Observable semantics preserved from the reference (SURVEY §7.1):
  *  - segment-scoped single-SELECT reads returning ujson-shaped rows
  *    (trough/read.py:33-67): [[read]] / [[resultJsonIter]]
  *  - arbitrary write *scripts*, atomic per request, single writer per
  *    segment (trough/write.py:23-57): [[write]]
  *  - named-schema provisioning with validation
  *    (trough/sync.py:152-173, 749-756): [[provisionWritable]]
  *  - promote = durability flush, delete refuses while write-locked
  *    (trough/sync.py:1112-1188, 439-509): [[promote]] / [[deleteSegment]]
  *  - regex segment discovery + fan-out reads with per-segment error
  *    isolation (trough/client.py:171-218, shell/__init__.py:242-262):
  *    [[fanout]] — plus the strictly-better native mode [[readAll]]
  *    (one declarative query over every segment; Catalyst parallelizes
  *    where the reference needed client-side asyncio).
  *
  * The control plane (elections, heartbeats, hash rings, HDFS sync —
  * sync.py:278-650) dissolves into Spark's driver/scheduler; locks are
  * JVM-local because exactly one driver owns the write path.
  */
class TroughEngine(
    val spark: SparkSession,
    val store: SegmentStore,
    val schemas: SchemaRegistry,
    /** node name reported in lock errors (reference: settings['HOSTNAME']) */
    val nodeName: String = "local") {

  TroughFunctions.register(spark)

  /** Engine-owned session for the write path. The SQLite function-name
    * surface (SqliteCompat) shadows core Spark builtins — min, max,
    * date, time, strftime, total — so it must never be registered on the
    * shared parent session, where unrelated code would silently get
    * SQLite semantics (e.g. date() returning a formatted string). Reads
    * already run in per-call child sessions ([[readSession]]); this is
    * the write path's equivalent. Unlike readSession, double-quoted
    * identifiers stay OFF here: write-script VALUES must read ("test")
    * as a string literal (SQLite's lookup-dependent quirk — see the
    * readSession doc and the EngineSpec byte-shape test). */
  private[engine] val writeSession: SparkSession = {
    val s = spark.newSession()
    TroughFunctions.register(s)
    SqliteCompat.register(s)
    // trigger-body RAISE(): rewritten by WriteTxn to this UDF so it can
    // sit anywhere in an expression (CASE branches etc) and still carry
    // control flow out of evaluation
    s.udf.register("graft_trigger_raise",
      (kind: String, msg: String) => TriggerRaise.fire(kind, msg))
    s
  }

  private val writeLocks = new ConcurrentHashMap[String, String]() // segment -> node
  private val scriptLocks =
    new ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** The per-segment script mutex. A script holds its OWN segment's
    * lock for its whole run; WriteTxn.attach() tryLock-acquires an
    * ATTACHED segment's lock at ATTACH time and holds it through
    * commit (r18) — so every read of the attached segment and the
    * commit swap are one serialized unit against scripts addressing
    * that segment directly (no window for a lost update between a
    * mid-script read and the swap). tryLock with a bounded wait is the
    * deadlock story: two scripts cross-attaching each other's segments
    * cannot order their acquisitions globally (each took its own main
    * lock at script start), so the later acquisition gives up after
    * [[WriteTxn.attachLockTimeoutMs]] with sqlite's own busy refusal
    * ('database is locked') instead of wedging both write paths. */
  private[engine] def segmentScriptLock(
      segmentId: String): java.util.concurrent.locks.ReentrantLock =
    scriptLocks.computeIfAbsent(segmentId,
      _ => new java.util.concurrent.locks.ReentrantLock)

  // ------------------------------------------------------------------- read

  /** Isolated child session for one read: per-call temp view scoping,
    * trough UDFs, and SQLite-style double-quoted identifiers
    * (`SELECT * FROM "test"` — used by the reference's own tests,
    * test_read.py:29). The string-literal half of SQLite's DQS quirk —
    * an UNRESOLVABLE double-quoted token reads as a string — is handled
    * lookup-dependently at analysis time ([[sqlWithDqsFallback]], r17). */
  private def buildReadSession(): SparkSession = {
    val sess = spark.newSession()
    TroughFunctions.register(sess)
    SqliteCompat.register(sess)
    sess.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    // pre-warm the lazily-initialized session machinery (SessionState,
    // catalog's first temp-view registration, parser) — pooled builds
    // run OFF the request path, so this moves first-touch costs out of
    // the cold read (ServeProbe r19)
    try {
      import org.apache.spark.sql.functions.lit
      sess.range(1).select(lit(1).as("x"))
        .createOrReplaceTempView("__graft_warm")
      sess.sessionState.sqlParser.parsePlan("SELECT x FROM __graft_warm")
      sess.catalog.dropTempView("__graft_warm")
    } catch { case scala.util.control.NonFatal(_) => () }
    sess
  }

  // One-ahead pool of pre-built read sessions (r19): the newSession +
  // function-registry copy (~8 ms, ServeProbe) is segment-independent,
  // so build the NEXT session asynchronously while the current request
  // does its (single-threaded, driver-side) context build — the
  // standard connection-pool shape, nothing cached depends on segment
  // state. Falls through to a synchronous build when the pool is empty
  // (first request, or a burst).
  private val sessionPool =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]()
  private def readSession(): SparkSession = {
    val pooled = sessionPool.poll()
    java.util.concurrent.CompletableFuture.runAsync { () =>
      try if (sessionPool.size < 2) sessionPool.add(buildReadSession())
      catch { case scala.util.control.NonFatal(_) => () }
    }
    if (pooled != null) pooled else buildReadSession()
  }

  // -------------------------------------------- cached read contexts (r19)
  //
  // The reference's unit of work is one HTTP read against a LOCAL
  // sqlite file — µs of per-request overhead. A fresh isolated session
  // + per-table view registration + parse per request cost this engine
  // ~40 ms before the query even ran (SCALE.md r18: 12 req/s). The
  // session, the registered views, and each successfully planned query
  // are all pure functions of the segment's on-disk state, so they
  // cache per segment, keyed by [[SegmentStore.readFingerprint]] —
  // any write to the segment changes the fingerprint and rebuilds the
  // context, preserving read-your-writes without every mutation path
  // needing an invalidation call. Sessions also drop their shuffle
  // parallelism to 2: a segment is a SMALL database by trough's design
  // ("big data, small databases"), and 32-way shuffles on per-segment
  // reads only add scheduling latency (cross-segment analytics ride
  // readAll/fanout, not this path).

  private final class ReadCtx(val sess: SparkSession, val fingerprint: Long,
      val ftsDefs: Map[String, Fts5.FtsTableDef],
      val brokenViews: Map[String, Throwable]) {
    val plans: java.util.Map[String, DataFrame] =
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, DataFrame]): Boolean = size > 64
        })
  }

  private val readCtxs =
    new java.util.LinkedHashMap[String, ReadCtx](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ReadCtx]): Boolean = size > 64
    }

  private def readCtx(segmentId: String): ReadCtx = readCtxs.synchronized {
    val fp = store.readFingerprint(segmentId)
    val cached = readCtxs.get(segmentId)
    if (cached != null && cached.fingerprint == fp) return cached
    val sess = readSession()
    sess.conf.set("spark.sql.shuffle.partitions", "1")
    // AQE's stage-materialization machinery costs ~25 ms on a
    // single-stage serving query that has nothing to re-plan; the
    // serve path's plans are tiny and local, so re-optimization has
    // no upside here (measured r19: 35 -> 100+ req/s)
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    // a snapshot that SqlInternals.toLocal cannot read driver-side is
    // a `limit(cap+1)` collect, and CollectLimit's incremental
    // escalation (1 partition, then 4× more, ...) costs one sequential
    // JOB per round over the many tiny part files a small segment
    // table typically has — measured 69 ms of the ~100 ms cold
    // first-touch read (ServeProbe r19). One job
    // over every partition at once: per-task output is still
    // LocalLimit-bounded, so memory stays capped either way.
    sess.conf.set("spark.sql.limit.initialNumPartitions", "10000")
    // one FILE per scan split for the snapshot: a small segment table
    // often holds ~32 tiny part files, and packing them into one split
    // makes one task open them SEQUENTIALLY (~3 ms/open — the measured
    // 70-120 ms of the cold read); per-file splits open in parallel
    // across the one job above. Serve-session only — analytics scans
    // keep the global packing.
    sess.conf.set("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
    // keep the snapshot's coalesce(1) around EMPTY tables: the
    // propagate-empty rule rewrites agg-over-empty to agg over a bare
    // empty LocalRelation (UnknownPartitioning), which re-inserts the
    // SinglePartition Exchange and kicks the serve off the driver-local
    // no-job path — an empty table then cost a scheduled job per READ
    // (~19 ms warm; ServeProbe r19). The rule only ever shortcuts
    // already-tiny serve plans, so excluding it loses nothing here.
    sess.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation")
    val ftsDefs = ftsTablesOf(segmentId)
    // the snapshot of metas and rows is taken under the segment's swap
    // lock, so a concurrent commit's data swap and meta rewrite land
    // wholly before or after it. A table within the driver-local cap is
    // served from its rows; a larger one stays parquet-backed and is
    // read lazily, outside the lock.
    store.withSwapLock(segmentId) {
      store.tables(segmentId).map { t =>
        val df0 = store.loadTable(segmentId, t, sess)
        t -> SqlInternals.toLocal(df0).getOrElse(df0)
      }
    }.foreach { case (t, df) =>
      ftsDefs.get(t.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(fd) if fd.content.isDefined =>
          registerContentFts(segmentId, sess, t, fd, df)
        case _ => df.createOrReplaceTempView(t)
      }
    }
    // register every view up front; a broken one only errors when a
    // query actually references it (registerViews' contract)
    val broken = mutable.Map[String, Throwable]()
    store.views(segmentId).foreach { v =>
      if (!sess.catalog.tableExists(v.name))
        try SqliteDialect.sql(sess, v.sparkSelect).createOrReplaceTempView(v.name)
        catch { case scala.util.control.NonFatal(e) => broken(v.name.toLowerCase) = e }
    }
    // the split-size/limit confs above exist for the context-build
    // SNAPSHOT only; left in place they would scan every later user
    // query of an over-cap (parquet-backed) table with many 4 MB
    // splits and one 10k-partition first limit round (ADVICE r19).
    // Steady-state serving keeps only shuffle.partitions=1, AQE off
    // and the PropagateEmptyRelation exclusion — those are the
    // deliberate per-segment-read settings.
    sess.conf.unset("spark.sql.files.maxPartitionBytes")
    sess.conf.unset("spark.sql.limit.initialNumPartitions")
    val ctx = new ReadCtx(sess, fp, ftsDefs, broken.toMap)
    readCtxs.put(segmentId, ctx)
    ctx
  }

  /** Single-SELECT gate (trough/read.py:58-59). Parses with Catalyst and
    * rejects multi-statement bodies and anything that isn't a query, with
    * the reference's exact error message. */
  def validateRead(sql: String, session: SparkSession = null): String = {
    val sess = if (session != null) session else readSession()
    val stmts = SqlScript.split(sql)
    if (stmts.length != 1)
      throw new IllegalArgumentException("Exactly one SELECT query per request, please.")
    // infix GLOB / COLLATE are SQLite syntax Spark's parser rejects and
    // SQLite-raw string literals lex differently — apply the dialect's
    // full textual pre-parse pipeline before the gate parses
    val stmt = SqliteDialect.prepareText(stmts.head)
    // parsePlan consults the *active* session's SQLConf (thread-local),
    // not the parser's owning session — activate sess so the SQLite
    // dialect flags (double-quoted identifiers) apply at the gate too
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(sess)
    val plan: LogicalPlan =
      try sess.sessionState.sqlParser.parsePlan(stmt)
      catch {
        case e: Exception =>
          // infix MATCH is virtual-table (fts) syntax — name the actual
          // limitation instead of surfacing a bare parse error (the
          // write side refuses CREATE VIRTUAL TABLE the same way).
          // Tested over literal-blanked text and only in OPERATOR
          // position — a left operand that isn't the AS keyword — so a
          // failing query that merely CONTAINS the word (in a string
          // literal, a quoted identifier, or an AS alias) keeps its
          // real parse error (ADVICE r10). The right operand is
          // usually a string literal, which blanking erases, so only
          // the left side is testable.
          val matchOp = "(?is)(\\S+)\\s+MATCH\\b".r
          val isInfixMatch = matchOp
            .findAllMatchIn(SqlLexer.blankLiterals(stmt))
            .exists(m => !m.group(1).equalsIgnoreCase("AS"))
          if (isInfixMatch)
            throw new IllegalArgumentException(
              "the MATCH operator could not be resolved: MATCH is " +
                "supported against FTS5 tables of the queried segment " +
                "(left operand = the fts table, an alias of it, or one " +
                "of its columns); rtree tables answer plain range " +
                "predicates (no MATCH); geopoly and other modules are " +
                "libsqlite3 extensions this engine does not embed", e)
          throw new IllegalArgumentException(e.getMessage, e)
      } finally prev.foreach(SparkSession.setActiveSession)
    val bad = plan.isInstanceOf[Command] ||
      plan.getClass.getSimpleName.matches(".*(Insert|Create|Drop|Alter|Delete|Update|Merge).*")
    if (bad)
      throw new IllegalArgumentException("Exactly one SELECT query per request, please.")
    stmt
  }

  /** The segment's fts5 tables: lowercased name → full declaration
    * (columns, UNINDEXED set, porter flag), re-parsed from each stored
    * CREATE VIRTUAL TABLE text ([[Fts5.parseCreateVirtual]] — the
    * declaration travels with the DDL, not the schema). Columns come
    * from the backing table's meta so casing always matches storage. */
  private def ftsTablesOf(segmentId: String): Map[String, Fts5.FtsTableDef] =
    store.tables(segmentId).flatMap { t =>
      val meta = store.tableMeta(segmentId, t)
      meta.ftsSql.flatMap(Fts5.parseCreateVirtual).map(fd =>
        t.toLowerCase(java.util.Locale.ROOT) ->
          // content= backings carry the hidden __rowid first — the
          // DECLARED columns are everything after it
          fd.copy(columns = meta.schema.fieldNames.toSeq
            .filterNot(_ == Fts5.RowidCol)))
    }.toMap

  /** Register the read-side view of a content= fts table (r15).
    *
    * Contentless (`content=''`): declared columns read NULL (probed);
    * the index text rides hidden `col#idx` columns the MATCH/bm25
    * compilers address; rows = index rows.
    *
    * External content (`content='src'`): rows and values come from the
    * CONTENT table (probed: count(*) counts content rows, including
    * ones never indexed); MATCH additionally gates on index membership
    * through the hidden backing view `t#idx` and the content table's
    * rowid column riding as `__rid#t`. A missing content table
    * registers the contentless shape (real fts5 errors lazily at value
    * access; a whole-segment registration cannot). */
  private def registerContentFts(segmentId: String, sess: SparkSession,
      t: String, fd: Fts5.FtsTableDef, backing: DataFrame): Unit = {
    val tLower = t.toLowerCase(java.util.Locale.ROOT)
    backing.createOrReplaceTempView(Fts5.idxView(t))
    def contentlessShape(): Unit =
      backing.select(
        fd.columns.map(c => lit(null).cast("string").as(c)) ++
          fd.columns.map(c => backing(c).as(Fts5.idxCol(c))) :+
          backing(Fts5.RowidCol).as(Fts5.ridCol(tLower)): _*)
        .createOrReplaceTempView(t)
    if (fd.contentless) { contentlessShape(); return }
    val srcName = store.tables(segmentId)
      .find(_.equalsIgnoreCase(fd.content.get))
    srcName match {
      case None => contentlessShape()
      case Some(src) =>
        val srcMeta = store.tableMeta(segmentId, src)
        val ridCol =
          if (Set("rowid", "_rowid_", "oid")
              .contains(fd.contentRowid.toLowerCase(java.util.Locale.ROOT)))
            srcMeta.autoIncrement.getOrElse {
              contentlessShape(); return
            }
          else srcMeta.schema.fieldNames
            .find(_.equalsIgnoreCase(fd.contentRowid)).getOrElse {
              contentlessShape(); return
            }
        val srcDf = store.loadTable(segmentId, src, sess)
        val vals = fd.columns.map { c =>
          srcMeta.schema.fieldNames.find(_.equalsIgnoreCase(c)) match {
            case Some(f) => srcDf(f).cast("string").as(c)
            case None => lit(null).cast("string").as(c)
          }
        }
        srcDf.select(vals :+
            srcDf(ridCol).cast("long").as(Fts5.ridCol(tLower)): _*)
          .createOrReplaceTempView(t)
    }
  }

  /** bm25 corpus statistics for one fts table (r11): ONE aggregate job
    * over the backing table computes N, Σ row token counts (avgdl),
    * and each phrase's hit count. Scale shape: a map-side-combined
    * aggregate, no shuffle of row data — at the reference's per-segment
    * sizes this is a sub-second scan; the constants then literal-fold
    * into the scoring expression so the main query stays one pass. */
  private def ftsAuxStats(segmentId: String, sess: SparkSession,
      tLower: String, phrases: Seq[Fts5.PhraseSpec]): Fts5.AuxStats = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.SqlInternals
    import org.apache.spark.unsafe.types.UTF8String
    val real = store.tables(segmentId)
      .find(_.toLowerCase(java.util.Locale.ROOT) == tLower)
      .getOrElse(throw new IllegalStateException(s"no such fts table: $tLower"))
    val df = store.loadTable(segmentId, real, sess)
    val fd = ftsTablesOf(segmentId)(tLower)
    val cols = fd.columns
    // the table's tokenizer shapes the row side so tf counting matches
    // the already-normalized query phrases (porter stems r12, trigram
    // windows r13)
    def toks(c: String): Column =
      SqlInternals.column(Fts5Tokens(SqlInternals.expression(df(c)), fd.tok))
    // UNINDEXED columns count in no document length (probed)
    val unidx = fd.unindexed
    val dRow = cols
      .filterNot(c => unidx.contains(c.toLowerCase(java.util.Locale.ROOT)))
      .map(c => coalesce(size(toks(c)).cast("long"), lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L))
    // a phrase whose colMask is 0 (narrowed to an UNINDEXED column)
    // scores as absent — zero hits, never a crash
    def hitPred(p: Fts5.PhraseSpec): Column = cols.zipWithIndex.collect {
      case (c, i) if (p.colMask & (1L << i)) != 0 =>
        SqlInternals.column(Fts5PhraseMatch(
          SqlInternals.expression(toks(c)),
          CreateArray(p.tokens.map(t =>
            Literal(UTF8String.fromString(t), org.apache.spark.sql.types.StringType)
              : org.apache.spark.sql.catalyst.expressions.Expression)),
          Literal(p.flags)))
    }.reduceOption(_ || _).getOrElse(lit(false))
    val aggCols = Seq(count(lit(1)).as("n"), sum(dRow).as("tot")) ++
      phrases.zipWithIndex.map { case (p, i) =>
        sum(when(hitPred(p), 1L).otherwise(0L)).as(s"h$i")
      }
    val r = df.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val n = r.getLong(0)
    val tot = if (r.isNullAt(1)) 0L else r.getLong(1)
    Fts5.AuxStats(n, if (n > 0) tot.toDouble / n else 0.0,
      phrases.indices.map(i => if (r.isNullAt(2 + i)) 0L else r.getLong(2 + i)))
  }

  /** Segment-scoped read: the statement runs against views of the
    * segment's tables in an isolated child session (temp views don't leak
    * across concurrent reads). Returns the lazy DataFrame — callers pick
    * collection shape ([[resultJsonIter]] for wire parity). */
  def read(segmentId: String, sql: String): DataFrame = {
    require(store.segmentExists(segmentId), s"no such segment: $segmentId")
    val ctx = readCtx(segmentId)
    val hit = ctx.plans.get(sql)
    if (hit != null) return hit
    val sess = ctx.sess
    // infix MATCH over the segment's fts5 tables compiles to token
    // predicates BEFORE the gate parses (the gate's parser has no
    // MATCH operator); unresolved MATCHes fall through to the gate's
    // named refusal
    val sqlF = {
      val fts = ctx.ftsDefs
      if (fts.isEmpty) sql
      else {
        val matched = Fts5.rewriteMatch(sql, fts,
          (tLower, phrases) => ftsAuxStats(segmentId, sess, tLower, phrases))
        // rowid over content= fts tables resolves to the hidden view
        // column (r15) — the external-content join-back idiom
        Fts5.rewriteRowidRefs(matched,
          fts.collect { case (n, fd) if fd.content.isDefined => n }.toSet)
      }
    }
    val stmt = validateRead(sqlF, sess)
    // a view that failed registration only errors when referenced
    if (ctx.brokenViews.nonEmpty) {
      val refs = referencedTables(stmt, sess)
      ctx.brokenViews.keys.find(refs.contains).foreach { name =>
        throw new IllegalArgumentException(
          s"view $name: ${ctx.brokenViews(name).getMessage}",
          ctx.brokenViews(name))
      }
    }
    val stmt2 = rewritePragmaTvfs(sess, segmentId, stmt)
    if (mentionsMaster(stmt2))
      registerMaster(sess, store.masterCatalog(segmentId).map {
        case (t, n, tb, rp, sq) => Row(t, n, tb, rp, sq)
      }, withSegmentId = false)
    var out = sqlWithDqsFallback(sess, stmt2) // validateRead already prepared it
    // `SELECT *` over a content= fts view would leak its hidden
    // columns — real fts5 shows only the declared ones (r15). An
    // EXPLICIT rowid projection (rewritten to the hidden `__rid#t`)
    // surfaces under real SQLite's column name instead — but ONLY a
    // projection: `SELECT * FROM t WHERE rowid = 5` must still DROP
    // the star-leaked hidden column (r16 — the old any-token-anywhere
    // heuristic kept it as a phantom output column).
    val projected = rowidProjected(sql)
    out.columns.filter(Fts5.isHiddenCol).foreach { c =>
      out =
        if (c.startsWith("__rid#") && projected)
          out.withColumnRenamed(c, "rowid")
        else out.drop(out.col(s"`$c`"))
    }
    // successful plans cache per query text; the cache dies with the
    // context the moment the segment's fingerprint moves
    ctx.plans.put(sql, out)
    out
  }

  /** Is a `rowid`/`_rowid_`/`oid` token in OUTPUT-PROJECTION position —
    * a bare token in a select list (between SELECT and FROM, at that
    * query's own paren depth) at the statement's OUTERMOST query depth
    * (the depth of its first SELECT — covers set-op branches and CTE
    * bodies that feed the output, while an inner subquery's projected
    * rowid, e.g. `WHERE rowid IN (SELECT rowid …)`, contributes no
    * output column and must not count). Tokens in WHERE/ORDER BY/JOIN
    * conditions or inside function calls don't count either: they
    * resolve but the output column is named after the whole
    * expression. */
  private def rowidProjected(sql: String): Boolean = {
    val toks = SqlLexer.tokens(sql)
    // the MAIN query: the first SELECT at the least depth — CTE bodies
    // sit textually before it, subqueries of the main query after it
    val selects = toks.filter(_.is("select"))
    if (selects.isEmpty) return false
    val main = selects.minBy(_.depth)
    val isWith = toks.headOption.exists(_.is("with"))
    // a token counts in the main query's own select list, or (for WITH
    // statements) at the top level of a CTE body's list — both feed
    // output columns; deeper subqueries never do
    val inSelectList = scala.collection.mutable.Map[Int, Boolean]()
    toks.exists { t =>
      if (t.isPunct(')')) inSelectList.remove(t.depth + 1)
      else if (t.is("select")) inSelectList(t.depth) = true
      else if (t.is("from")) inSelectList(t.depth) = false
      t.kind == SqlLexer.Word &&
        Set("rowid", "_rowid_", "oid").contains(t.lower) &&
        inSelectList.getOrElse(t.depth, false) &&
        (t.depth == main.depth || (isWith && t.start < main.start))
    }
  }

  /** SQLite's `pragma_table_info('t')` / `pragma_table_xinfo('t')`
    * table-valued functions on the read path (pragma.html#pragfunc):
    * each call site rewrites to a registered temp view carrying
    * SQLite's exact shape — (cid, name, type, notnull, dflt_value,
    * pk[, hidden]) — with generated columns hidden from `table_info`
    * (cid renumbers among the shown rows) and hidden = 2 (VIRTUAL) /
    * 3 (STORED) in `table_xinfo`; an unknown name yields zero rows;
    * view columns report their engine types. All probed on 3.51.
    * Declared-type text is verbatim for STRICT tables and the export's
    * canonical rendering otherwise (the original declared text is not
    * recorded — the same canonicalization exported DDL applies). */
  private val pragmaTviRe =
    """(?i)\bpragma_table_(x)?info\s*\(\s*(?:'([^']*)'|`([^`]*)`|([A-Za-z_][A-Za-z0-9_]*))\s*\)""".r

  private val tableInfoSchema = StructType(Seq(
    StructField("cid", LongType), StructField("name", StringType),
    StructField("type", StringType), StructField("notnull", LongType),
    StructField("dflt_value", StringType), StructField("pk", LongType)))

  private def rewritePragmaTvfs(sess: SparkSession, segmentId: String,
      stmt: String): String =
    pragmaTviRe.replaceAllIn(stmt, m => {
      val x = m.group(1) != null
      val t = (2 to 4).flatMap(g => Option(m.group(g))).headOption.getOrElse("")
      val viewName = s"__pragma_table_${if (x) "x" else ""}info__" +
        t.toLowerCase.replaceAll("[^a-z0-9_]", "_")
      registerTableInfo(sess, segmentId, t, x, viewName)
      scala.util.matching.Regex.quoteReplacement(s"`$viewName`")
    })

  private def sqliteTypeName(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case LongType => "INTEGER"
      case org.apache.spark.sql.types.DoubleType => "REAL"
      case org.apache.spark.sql.types.BinaryType => "BLOB"
      case _ => "TEXT"
    }

  private def registerTableInfo(sess: SparkSession, segmentId: String,
      table: String, xinfo: Boolean, viewName: String): Unit = {
    import scala.jdk.CollectionConverters._
    val schema =
      if (xinfo) tableInfoSchema.add(StructField("hidden", LongType))
      else tableInfoSchema
    val rows: Seq[Row] =
      if (store.tableExists(segmentId, table)) {
        val meta = store.tableMeta(segmentId, table)
        def genOf(n: String) = meta.generated.find(_.name.equalsIgnoreCase(n))
        val shown =
          (if (xinfo) meta.schema.fields.toSeq
           else meta.schema.fields.toSeq.filter(f => genOf(f.name).isEmpty))
            // content= fts backing rowid is engine-internal (r15)
            .filterNot(f => meta.ftsSql.isDefined && f.name == Fts5.RowidCol)
        shown.zipWithIndex.map { case (f, cid) =>
          val tpe = meta.strictTypes.collectFirst {
            case (c, d) if c.equalsIgnoreCase(f.name) => d
          }.getOrElse(sqliteTypeName(f.dataType))
          val nn = if (meta.notNull.exists(_.equalsIgnoreCase(f.name))) 1L else 0L
          val dflt = meta.defaults.collectFirst {
            case (c, d) if c.equalsIgnoreCase(f.name) => d }.orNull
          val pk = (meta.primaryKey.indexWhere(_.equalsIgnoreCase(f.name)) + 1).toLong
          val base = Seq(cid.toLong, f.name, tpe, nn, dflt, pk)
          Row.fromSeq(if (!xinfo) base else base :+ (genOf(f.name) match {
            case Some(g) if g.stored => 3L
            case Some(_) => 2L
            case None => 0L
          }))
        }
      } else if (sess.catalog.tableExists(table)) {
        // a registered VIEW: SQLite reports view columns too
        sess.table(table).schema.fields.toSeq.zipWithIndex.map { case (f, cid) =>
          val base = Seq(cid.toLong, f.name, sqliteTypeName(f.dataType), 0L, null, 0L)
          Row.fromSeq(if (!xinfo) base else base :+ 0L)
        }
      } else Nil // unknown name: zero rows, like sqlite3
    sess.createDataFrame(rows.asJava, schema).createOrReplaceTempView(viewName)
  }

  /** `sqlite_master` (and its 3.33 alias `sqlite_schema`) as a
    * queryable relation: the reference shell introspects segments by
    * SELECTing from sqlite_master *through the ordinary read path*
    * (shell/__init__.py:149-154 — SHOW TABLES / SHOW CREATE TABLE are
    * client-side rewrites to exactly these queries), so any existing
    * trough client or script may send one over HTTP. Rows come from
    * [[SegmentStore.masterCatalog]] — the same rendering an export
    * writes into a real file. Registered only when the statement names
    * it: catalog assembly reads every table's meta, which the hot read
    * path must not pay. Registration happens after the data tables, so
    * the name always resolves to the catalog — as in SQLite, where
    * `sqlite_*` names are reserved. */
  private def mentionsMaster(stmt: String): Boolean = {
    val low = stmt.toLowerCase(java.util.Locale.ROOT)
    low.contains("sqlite_master") || low.contains("sqlite_schema")
  }

  private val masterSchema = StructType(Seq(
    StructField("type", StringType), StructField("name", StringType),
    StructField("tbl_name", StringType), StructField("rootpage", LongType),
    StructField("sql", StringType)))

  private def registerMaster(
      sess: SparkSession, rows: Seq[Row], withSegmentId: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    val schema =
      if (withSegmentId) masterSchema.add(StructField("segment_id", StringType))
      else masterSchema
    val df = sess.createDataFrame(rows.asJava, schema)
    df.createOrReplaceTempView("sqlite_master")
    df.createOrReplaceTempView("sqlite_schema")
  }

  /** Register a segment's views over the already-registered tables, in
    * creation order (view-on-view). SQLite stores view TEXT and
    * resolves it at use time: a view whose base table was dropped is
    * legal to hold and errors only when a query references it — so a
    * broken view is skipped unless `stmt` names it, in which case its
    * resolution error surfaces. */
  private def registerViews(sess: SparkSession,
      defs: Seq[SqliteDdl.ViewDef], stmt: String): Unit = {
    if (defs.isEmpty) return
    val broken = mutable.Map[String, Throwable]()
    defs.foreach { v =>
      // tables win the namespace (SQLite forbids the collision at
      // create time; a stale registry entry must not shadow a table)
      if (!sess.catalog.tableExists(v.name))
        try SqliteDialect.sql(sess, v.sparkSelect).createOrReplaceTempView(v.name)
        catch { case scala.util.control.NonFatal(e) => broken(v.name.toLowerCase) = e }
    }
    if (broken.nonEmpty) {
      val refs = referencedTables(stmt, sess)
      broken.keys.find(refs.contains).foreach { name =>
        throw new IllegalArgumentException(
          s"view $name: ${broken(name).getMessage}", broken(name))
      }
    }
  }

  /** One query over *all* segments (or a regex subset): the fan-out A6
    * re-expressed as a single declarative plan — each table is ONE
    * hive-partitioned scan with `segment_id` as the partition column
    * ([[SegmentStore.loadTableAll]]), the regex applied as an rlike
    * partition filter. Catalyst prunes the matching partition
    * directories at file-listing time and never reads the rest — the
    * plan is a single FileScan per table regardless of segment count,
    * where a union-per-segment form was a driver-side analysis bomb at
    * the reference's tens-of-thousands-of-segments scale. `rlike` is
    * unanchored, matching the reference's `re.search` discovery
    * semantics (client.py:203-218) and `listSegments(regex)`. */
  def readAll(sql: String, segmentRegex: String = ".*"): DataFrame = {
    val sess = readSession()
    val stmt = validateRead(sql, sess)
    val matched = store.listSegments(segmentRegex)
    require(matched.nonEmpty, s"no segments match regex: $segmentRegex")
    // cross-segment view resolution: a view name is usable when every
    // matched segment defining it agrees on the text — then its body
    // over the unioned tables ≡ the union of per-segment view results
    // (each row of a view body's FROM comes from one segment). A name
    // with CONFLICTING definitions errors only if the query names it.
    val matchedSet = matched.toSet
    val defsByName: Map[String, Seq[SqliteDdl.ViewDef]] =
      store.allViews().filter { case (seg, _) => matchedSet(seg) }
        .values.flatten.toSeq.groupBy(_.name.toLowerCase(java.util.Locale.ROOT))
    val (consistent, conflicting) = defsByName.partition {
      case (_, ds) => ds.map(_.sparkSelect).distinct.size == 1
    }
    // register only the tables the query references: registering the
    // whole catalog would cost O(tables × segments) driver-side meta
    // I/O per query, and a schema problem in an unrelated table would
    // fail queries that never touch it. View bodies pull in their own
    // table references transitively (bounded by the view count).
    val viewByName = consistent.view.mapValues(_.head).toMap
    val referenced = mutable.Set.empty[String] ++ referencedTables(stmt, sess)
    val expanded = mutable.Set.empty[String]
    var grew = true
    while (grew) {
      grew = false
      viewByName.keys.filter(n => referenced(n) && !expanded(n)).foreach { n =>
        expanded += n
        referenced ++= referencedTables(
          SqliteDialect.prepareText(viewByName(n).sparkSelect), sess)
        grew = true
      }
    }
    store.allTables()
      .filter(t => referenced.contains(t.toLowerCase(java.util.Locale.ROOT)))
      .foreach { t =>
        val all = store.loadTableAll(t, sess)
        val scoped = if (segmentRegex == ".*") all
          else all.where(col("segment_id").rlike(segmentRegex))
        scoped.createOrReplaceTempView(t)
      }
    // referenced views register over those unioned tables; iterate so a
    // view-on-view resolves regardless of name order (≤ V passes)
    val toRegister = mutable.LinkedHashMap.empty[String, SqliteDdl.ViewDef] ++
      viewByName.filter { case (n, _) => expanded(n) }
    var progress = true
    while (progress && toRegister.nonEmpty) {
      progress = false
      toRegister.toSeq.foreach { case (name, v) =>
        if (!sess.catalog.tableExists(v.name)) {
          try {
            SqliteDialect.sql(sess, v.sparkSelect).createOrReplaceTempView(v.name)
            toRegister.remove(name); progress = true
          } catch { case scala.util.control.NonFatal(_) => () }
        } else { toRegister.remove(name); progress = true }
      }
    }
    conflicting.keys.find(referencedTables(stmt, sess).contains).foreach { name =>
      throw new IllegalArgumentException(
        s"view $name has conflicting definitions across matched segments")
    }
    // cross-segment introspection: each segment's catalog rows tagged
    // with segment_id (last, like the partition column on data scans).
    // Driver-side meta I/O is O(tables × matched segments) — paid only
    // when the query names the catalog, same gate as [[read]].
    if (mentionsMaster(stmt))
      registerMaster(sess, matched.flatMap(seg => store.masterCatalog(seg).map {
        case (t, n, tb, rp, sq) => Row(t, n, tb, rp, sq, seg)
      }), withSegmentId = true)
    sqlWithDqsFallback(sess, stmt) // validateRead already prepared it
  }

  /** SQLite's double-quoted-string misfeature on the READ path (r17;
    * sqlite.org quirks.html#dblquote — the reference's python sqlite3
    * keeps DQS enabled, so `SELECT "x" FROM t` reads the TEXT 'x' when
    * no column x exists): the session's doubleQuotedIdentifiers flag
    * gives the identifier half; the string-literal half re-runs
    * analysis with exactly the token the analyzer reported unresolvable
    * rewritten to a single-quoted literal — lookup-dependent, like
    * SQLite's own per-token resolution, so aliases, subquery scopes and
    * CTE columns all resolve before anything falls back. Table
    * positions never fall back (`FROM "nosuch"` stays an error — a
    * string cannot stand for a table in SQLite either), and qualified
    * references (`t."x"`) stay errors too (a literal cannot carry a
    * qualifier). */
  private def sqlWithDqsFallback(sess: SparkSession, stmt: String): DataFrame = {
    var cur = stmt
    var guard = 0
    while (true) {
      try return SqliteDialect.sqlPrepared(sess, cur)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if guard < 32 && cur.indexOf('"') >= 0 &&
              Option(e.getCondition).exists(_.startsWith("UNRESOLVED_COLUMN")) =>
          val name = unresolvedSinglePartName(e).getOrElse(throw e)
          val next = dqsLiteralize(cur, name)
          if (next == cur) throw e
          cur = next
          guard += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The unresolved object name from an analyzer error, single-part
    * only (backtick-unescaped); None for qualified names. */
  private def unresolvedSinglePartName(
      e: org.apache.spark.sql.AnalysisException): Option[String] = {
    val raw = Option(e.getMessageParameters)
      .flatMap(m => Option(m.get("objectName"))).getOrElse(return None)
    if (!(raw.length >= 2 && raw.startsWith("`") && raw.endsWith("`"))) return None
    val inner = raw.substring(1, raw.length - 1)
    if (inner.contains("`.`")) None else Some(inner.replace("``", "`"))
  }

  /** Rewrite every DOUBLE-QUOTED occurrence of `name` in `text` to a
    * single-quoted string literal.
    * Exact-case occurrences rewrite when any exist, else case-insensitive
    * ones (the analyzer reports the name as written, but resolution is
    * case-insensitive). Returns `text` unchanged when nothing matched. */
  private def dqsLiteralize(text: String, name: String): String = {
    def pass(matchCase: Boolean): String = SqlLexer.rewrite(text) { (toks, i) =>
      val t = toks(i)
      val hit = t.quote == '"' &&
        (if (matchCase) t.value == name else t.value.equalsIgnoreCase(name))
      if (hit) Some((i + 1, "'" + t.value.replace("'", "''") + "'")) else None
    }
    val exact = pass(matchCase = true)
    if (exact != text) exact else pass(matchCase = false)
  }

  /** Table names referenced by an (already dialect-rewritten) statement,
    * lowercased — includes subquery/CTE bodies; CTE aliases collected
    * harmlessly (they intersect with nothing in the store). */
  private def referencedTables(stmt: String, sess: SparkSession): Set[String] = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(sess)
    try sess.sessionState.sqlParser.parsePlan(stmt).collectWithSubqueries {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    finally prev.foreach(SparkSession.setActiveSession)
  }

  /** Streaming JSON result shape, byte-compatible with the reference's
    * `sql_result_json_iter` (trough/read.py:33-52): `[` + rows joined by
    * `,\n` + `]\n`; each row a `{col: value}` object in select-list
    * order, nulls included, non-ASCII escaped (ujson ensure_ascii). */
  def resultJsonIter(df: DataFrame): Iterator[String] = {
    val schema = df.schema
    // jobless serve (r19): single-stage plans over the read cache's
    // local relations compute on the driver thread — the local-mode
    // job floor (~10 ms) was the read path's whole remaining latency
    val rows: java.util.Iterator[Row] =
      SqlInternals.driverLocalInternalRows(df, Int.MaxValue, maxPartitions = 1) match {
        case Some(internal) =>
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(schema)
          val it = internal.iterator
          new java.util.Iterator[Row] {
            def hasNext: Boolean = it.hasNext
            def next(): Row = conv(it.next()).asInstanceOf[Row]
          }
        case None => df.toLocalIterator()
      }
    new Iterator[String] {
      private var state = 0 // 0 = "[", 1 = rows, 2 = "]\n", 3 = done
      private var first = true
      def hasNext: Boolean = state < 3
      def next(): String = state match {
        case 0 => state = 1; "["
        case 1 =>
          if (rows.hasNext) {
            val prefix = if (first) "" else ",\n"
            first = false
            prefix + JsonShape.rowJson(rows.next(), schema)
          } else { state = 3; "]\n" }
        case _ => state = 3; "]\n"
      }
    }
  }

  def resultJson(df: DataFrame): String = resultJsonIter(df).mkString

  // ------------------------------------------------------------- provision

  /** Provision a writable segment (reference provision cascade
    * sync.py:673-725 minus placement — Spark has no placement choice to
    * make): register/validate schema, create the segment dir + DDL,
    * acquire the write lock. Idempotent. */
  def provisionWritable(segmentId: String, schemaId: String = "default"): Unit = {
    val schemaSql = schemas.get(schemaId).getOrElse(
      throw new IllegalArgumentException(s"no such schema: $schemaId"))
    store.provision(segmentId, schemaSql)
    writeLocks.putIfAbsent(segmentId, nodeName)
  }

  def writeLockHolder(segmentId: String): Option[String] =
    Option(writeLocks.get(segmentId))

  def releaseWriteLock(segmentId: String): Unit = writeLocks.remove(segmentId)

  // ------------------------------------------------------------------ write

  /** Execute a write script: any statements, one atomic unit per request
    * (reference wraps in BEGIN TRANSACTION…COMMIT, write.py:33-40),
    * serialized per segment (single-writer, write.py:55-57). */
  def write(segmentId: String, script: String): String = {
    if (script == null || script.trim.isEmpty)
      throw new IllegalArgumentException("No query provided.")
    val lock = writeLocks.get(segmentId)
    if (lock == null || lock != nodeName)
      // write.py:57 byte-for-byte, Python {!r} reprs included: the node
      // name and segment id render single-quoted, an absent lock is None
      throw new IllegalStateException(
        s"This node (settings['HOSTNAME']='$nodeName') cannot write to segment " +
        s"'$segmentId'. There is no write lock set, or the write lock authorizes " +
        s"another node. Write lock: ${if (lock == null) "None" else s"'$lock'"}")
    if (store.isCold(segmentId))
      throw new IllegalStateException(s"segment $segmentId is in cold storage (read-only)")
    val mutex = segmentScriptLock(segmentId)
    mutex.lock()
    try {
      val txn = new WriteTxn(this, segmentId)
      try {
        SqlScript.split(script).foreach(txn.execute)
        txn.commit()
      } finally txn.releaseAttachedLocks()
    } finally mutex.unlock()
    "OK\n"
  }

  /** [[write]] variant that CAPTURES each statement's `RETURNING` rows
    * (SQLite 3.35) in script order instead of discarding them — the
    * embedded-API analog of driving sqlite3 statement-by-statement.
    * The wire path stays on [[write]], which discards RETURNING output
    * exactly as the reference's `executescript` call does
    * (trough/wsgi/write.py:40). Same locks, same one-transaction
    * atomicity. */
  def writeReturning(segmentId: String, script: String)
      : Seq[(org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])] = {
    if (script == null || script.trim.isEmpty)
      throw new IllegalArgumentException("No query provided.")
    val lock = writeLocks.get(segmentId)
    if (lock == null || lock != nodeName)
      throw new IllegalStateException(
        s"This node (settings['HOSTNAME']='$nodeName') cannot write to segment " +
        s"'$segmentId'. There is no write lock set, or the write lock authorizes " +
        s"another node. Write lock: ${if (lock == null) "None" else s"'$lock'"}")
    if (store.isCold(segmentId))
      throw new IllegalStateException(s"segment $segmentId is in cold storage (read-only)")
    val mutex = segmentScriptLock(segmentId)
    mutex.lock()
    try {
      val txn = new WriteTxn(this, segmentId)
      try {
        val out = SqlScript.split(script).flatMap { stmt =>
          txn.execute(stmt)
          txn.takeReturning()
        }
        txn.commit()
        out
      } finally txn.releaseAttachedLocks()
    } finally mutex.unlock()
  }

  /** Flush a segment to the durable root (reference promotion,
    * sync.py:1112-1188). Returns the remote path, as the reference's
    * promote API does. */
  def promote(segmentId: String, durableRoot: String): String =
    store.promote(segmentId, durableRoot)

  /** Delete ("shred") a segment — refused while a write lock exists
    * (reference sync.py:452-456). */
  def deleteSegment(segmentId: String): Unit = {
    if (writeLocks.containsKey(segmentId))
      throw new IllegalStateException(
        s"cannot delete segment $segmentId because it has a write lock")
    store.deleteSegment(segmentId)
  }

  // ----------------------------------------------------------------- fanout

  final case class FanoutResult(
      perSegment: Seq[(String, Try[Seq[Row]])], totalRows: Long)

  /** Fan-out: the same SELECT against N segments as independent parallel
    * jobs with per-segment error isolation — one bad segment reports its
    * error without failing the others (reference async_fanout semantics,
    * shell/__init__.py:242-262; SURVEY §3.3 notes this is the one place
    * a single union query would *lose* reference semantics).
    *
    * Driver-memory hardening: results land on the driver (the shell
    * display contract), so each segment's rows are pulled through
    * `toLocalIterator` — one partition resident at a time, never the
    * whole result — and capped TWICE: `maxRowsPerSegment` bounds any
    * one segment, and `maxRowsTotal` is a GLOBAL budget shared across
    * all the concurrent futures (the per-segment cap alone still
    * admits segments × cap rows — 10k segments × 100k rows ≈ 10⁹ rows
    * resident at once; VERDICT r10 wrong-list #2). Breaching the
    * global budget fails the whole fanout with a named error (a
    * partial answer silently missing segments would be worse than a
    * refusal); per-segment error isolation still holds for every other
    * failure mode. The overall wait is bounded by `timeoutSeconds`,
    * defaulting to the reference client's read timeout (client.py:266:
    * `timeout=600`). Analytics callers that want unbounded results
    * should use [[readAll]], which never collects. */
  def fanout(
      segmentIds: Seq[String], sql: String,
      maxRowsPerSegment: Int = TroughEngine.DefaultFanoutRowCap,
      timeoutSeconds: Long = 600L,
      maxRowsTotal: Long = TroughEngine.DefaultFanoutGlobalRowCap): FanoutResult = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // decremented per row by every segment's future; < 0 ⇒ budget blown
    val globalBudget = new java.util.concurrent.atomic.AtomicLong(maxRowsTotal)
    // every per-segment job runs under one Spark job group so that a
    // blown deadline CANCELS the stragglers' jobs — without it the
    // futures keep computing on the shared pool after the timeout, and
    // repeated fanouts against a hung segment accumulate blocked
    // threads and running Spark jobs (setJobGroup is thread-local, so
    // it is set inside each future and cleared before the pooled
    // thread is returned)
    val jobGroup = s"graft-fanout-${java.util.UUID.randomUUID()}"
    val futures: Seq[(String, Future[Try[Seq[Row]]])] = segmentIds.map { seg =>
      seg -> Future {
        spark.sparkContext.setJobGroup(jobGroup,
          s"fanout over ${segmentIds.length} segments", interruptOnCancel = true)
        try Try {
          val rows = read(seg, sql).toLocalIterator()
          val out = Seq.newBuilder[Row]
          var n = 0
          while (rows.hasNext && n < maxRowsPerSegment) {
            if (globalBudget.decrementAndGet() < 0)
              throw new TroughEngine.FanoutBudgetExceeded(
                s"fanout over ${segmentIds.length} segments exceeds the global " +
                  s"budget of $maxRowsTotal driver-resident rows; raise " +
                  "maxRowsTotal or use readAll for distributed results")
            out += rows.next(); n += 1
          }
          if (rows.hasNext)
            throw new IllegalStateException(
              s"fanout result for segment '$seg' exceeds $maxRowsPerSegment rows; " +
                "raise maxRowsPerSegment or use readAll for unbounded results")
          out.result()
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    // per-segment isolation extends to the timeout: when the deadline
    // passes, segments that finished keep their results and only the
    // stragglers report a TimeoutException — a global Await.result
    // would discard 99 good results because one segment hung
    try Await.ready(Future.sequence(futures.map(_._2)), Duration(timeoutSeconds, "s"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobGroup(jobGroup)
    }
    val results = futures.map { case (seg, f) =>
      seg -> f.value.map(_.flatten).getOrElse(
        scala.util.Failure(new java.util.concurrent.TimeoutException(
          s"segment '$seg' did not answer within $timeoutSeconds s")))
    }
    // a blown GLOBAL budget fails the fanout as a whole (and cancels
    // the stragglers) — which segment tripped it is a race artifact,
    // not information
    results.collectFirst {
      case (_, scala.util.Failure(e: TroughEngine.FanoutBudgetExceeded)) => e
    }.foreach { e => spark.sparkContext.cancelJobGroup(jobGroup); throw e }
    FanoutResult(results, results.map(_._2.map(_.size).getOrElse(0)).map(_.toLong).sum)
  }
}

object TroughEngine {
  /** Default per-segment row cap for [[TroughEngine.fanout]] — generous
    * for the shell-display use the reference puts fanout to. Bounds one
    * segment only; the driver-wide bound is
    * [[DefaultFanoutGlobalRowCap]]. */
  val DefaultFanoutRowCap: Int = 100000

  /** Default GLOBAL row budget across all segments of one fanout: the
    * per-segment cap alone admits segments × cap driver-resident rows
    * (10⁹ at 10k segments), so the aggregate is bounded separately.
    * 2M rows ≈ a few hundred MB at shell-typical row widths — far past
    * any display use, small enough to never be the driver's OOM. */
  val DefaultFanoutGlobalRowCap: Long = 2000000L

  /** The fanout's aggregate driver-memory budget was exceeded — fails
    * the whole fanout (see [[TroughEngine.fanout]]). */
  final class FanoutBudgetExceeded(msg: String) extends IllegalStateException(msg)
}

/** ujson-compatible row/value serialization (reference read.py:43-44:
  * `ujson.dumps(dict, escape_forward_slashes=False)` with default
  * ensure_ascii=True). */
object JsonShape {
  /** (name, raw value | null) pairs in select-list order — the one row
    * walk shared by the wire JSON, the shell display modes, and the
    * db_api fetch shape (duplicate column names keep their own cells). */
  def fields(row: Row, schema: StructType): Seq[(String, Any)] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      f.name -> (if (row.isNullAt(i)) null else row.get(i))
    }

  def rowJson(row: Row, schema: StructType): String =
    fields(row, schema)
      .map { case (n, v) => str(n) + ":" + value(v) }
      .mkString("{", ",", "}")

  /** python str(datetime) shape: seconds ALWAYS present (Java's
    * LocalDateTime.toString drops ':ss' at whole minutes), microseconds
    * 6 digits only when nonzero — same gotcha SqlValue.pyIso documents,
    * with a space separator at this boundary. */
  private val tsSeconds =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def tsString(t: java.sql.Timestamp): String = {
    val ldt = t.toLocalDateTime
    val base = ldt.format(tsSeconds)
    if (ldt.getNano == 0) base else f"$base.${ldt.getNano / 1000}%06d"
  }

  /** python `repr(float)` / modern-ujson float rendering — the shape
    * the reference's `ujson.dumps` puts on the wire (read.py:44;
    * ujson ≥ 2 renders floats exactly like repr): SHORTEST round-trip
    * digits (computed exactly by precision search — Java 17's
    * Double.toString can emit non-minimal digits, JDK-4511638), fixed
    * notation for decimal exponents in [-4, 16), otherwise scientific
    * with a two-digit-minimum signed exponent and NO forced '.0'
    * mantissa (`1e+16`, `5e-324`, `1e-05`); integral fixed values keep
    * '.0' (`10000000.0` where Java writes `1.0E7`).
    *
    * WIRE CAVEAT, now switchable: the reference pins `ujson-ia>=2.1.1`
    * (setup.py), a 2019 IA fork cut BEFORE upstream ujson 2.0 switched
    * to repr-exact rendering — pre-2.0 encoders default to
    * `double_precision=10` (e.g. 1/3 → 0.3333333333). The fork is
    * unverifiable offline (not on PyPI mirrors in this sandbox), so the
    * DEFAULT stays the modern repr shape; deployments matching the
    * pinned fork byte-for-byte set system property
    * `graft.wire.floatShape=ujson1` to get [[ujson1Float]] (the pre-2.0
    * `double_precision=10` encoder, reimplemented from ultrajson 1.x's
    * public modp_dtoa-style algorithm). Values with ≤10 fractional
    * digits — every float the reference test suite serializes — are
    * byte-identical under both modes. README deviation table row
    * "wire float shape" names the flag. */
  def pyFloat(d: Double): String = {
    if (d.isNaN) return "NaN" // json.dumps writes bare NaN/Infinity
    if (d.isInfinite) return if (d > 0) "Infinity" else "-Infinity"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val a = math.abs(d)
    var bd: java.math.BigDecimal = null
    var p = 1
    while (bd == null && p <= 17) {
      val cand = new java.math.BigDecimal(a)
        .round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
      if (cand.doubleValue() == a) bd = cand.stripTrailingZeros()
      p += 1
    }
    if (bd == null) bd = new java.math.BigDecimal(a).stripTrailingZeros()
    val digits = bd.unscaledValue().abs().toString
    val exp = bd.precision() - 1 - bd.scale()
    val sign = if (d < 0) "-" else ""
    if (exp >= -4 && exp < 16) {
      if (exp >= 0) {
        if (digits.length > exp + 1)
          s"$sign${digits.substring(0, exp + 1)}.${digits.substring(exp + 1)}"
        else sign + digits + "0" * (exp + 1 - digits.length) + ".0"
      } else s"${sign}0." + "0" * (-exp - 1) + digits
    } else {
      val m =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      val es = (if (exp < 0) "-" else "+") +
        (if (math.abs(exp) < 10) "0" else "") + math.abs(exp)
      s"$sign${m}e$es"
    }
  }

  /** Pre-2.0 ujson float rendering (`double_precision=10`), matching
    * the reference's pinned `ujson-ia` fork: the whole part in full,
    * the fraction rounded to 10 decimal places (round-half-up, half-
    * to-even on the last digit — ultrajson 1.x's modp_dtoa rounding),
    * trailing fraction zeros stripped but a bare `.0` kept; |v| past
    * 1e16-1 falls back to C `%.15e`. Consequences faithfully kept:
    * sub-5e-11 magnitudes render `0.0`, and `-0.0` loses its sign
    * (the C code tests `value < 0` after negation). */
  def ujson1Float(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "Infinity" else "-Infinity"
    val v = math.abs(d)
    if (v > 1e16 - 1)
      return String.format(java.util.Locale.ROOT, "%.15e", Double.box(d))
    val pow10 = 1e10
    var whole = v.toLong
    val tmp = (v - whole) * pow10
    var frac = tmp.toLong
    val diff = tmp - frac
    if (diff > 0.5) { frac += 1; if (frac >= pow10.toLong) { frac = 0; whole += 1 } }
    else if (diff == 0.5 && (frac == 0 || (frac & 1) == 1)) frac += 1
    val sb = new StringBuilder
    if (d < 0) sb.append('-')
    sb.append(whole)
    if (frac == 0) sb.append(".0")
    else {
      var f = frac
      var count = 10
      while (f % 10 == 0) { count -= 1; f /= 10 }
      val digits = f.toString
      sb.append('.')
      var pad = count - digits.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(digits)
    }
    sb.toString
  }

  /** Active wire float encoder: modern repr by default; the
    * `graft.wire.floatShape=ujson1` system property selects the pinned
    * fork's pre-2.0 shape (see [[pyFloat]]'s wire caveat). */
  def wireFloat(d: Double): String =
    if ("ujson1".equalsIgnoreCase(
        System.getProperty("graft.wire.floatShape", "repr"))) ujson1Float(d)
    else pyFloat(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => if (b) "true" else "false"
    case d: java.lang.Double => wireFloat(d)
    case f: java.lang.Float => wireFloat(f.doubleValue())
    // BLOB boundary (read.py:44): ujson decodes bytes as UTF-8 — valid
    // sequences serialize as their decoded string (matched here byte for
    // byte). On INVALID UTF-8 the reference's generator dies mid-stream,
    // leaving a truncated response with no closing bracket (read.py:47-49
    // logs and stops). Documented deviation: raise a clean error instead
    // of reproducing the malformed stream.
    case b: Array[Byte] => str(blobUtf8(b))
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => str(tsString(t))
    case d: java.sql.Date => str(d.toString)
    case seq: scala.collection.Seq[_] => seq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => str(k.toString) + ":" + value(mv) }.mkString("{", ",", "}")
    case r: Row => rowJson(r, r.schema)
    case other => other.toString
  }

  private def blobUtf8(b: Array[Byte]): String = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(b)).toString
    catch {
      case e: java.nio.charset.CharacterCodingException =>
        throw new IllegalArgumentException(
          "cannot serialize BLOB value: not valid UTF-8 (the reference's " +
            "ujson serializer aborts the response stream here)", e)
    }
  }

  /** The JVM-side equivalent of `json.loads` over [[value]]'s output:
    * JSON scalar types with the same rendering rules (integers as Long,
    * reals as Double, UTF-8-decoded BLOBs, space-separated timestamp
    * strings). The db_api facade returns these — its reference parses
    * the read response back into dicts (db_api.py:52). */
  def plainValue(v: Any): Any = v match {
    case null => null
    case s: String => s
    case b: Boolean => b
    case b: Array[Byte] => blobUtf8(b)
    case t: java.sql.Timestamp => tsString(t)
    case d: java.sql.Date => d.toString
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    // json.loads of [[value]]'s toPlainString: a rendering without
    // '.'/'e' parses as an int, otherwise a float
    case d: java.math.BigDecimal =>
      val rendered = d.toPlainString
      if (rendered.contains('.') || rendered.toLowerCase.contains('e')) d.doubleValue
      else try d.longValueExact catch { case _: ArithmeticException => d.doubleValue }
    case seq: scala.collection.Seq[_] => seq.map(plainValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => k.toString -> plainValue(mv) }
    case other => other.toString
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/* SqliteCompat (function-name surface) lives in SqliteCompat.scala;
 * SqliteDialect (operator rewrites: nocase LIKE, integer division,
 * infix GLOB) lives in SqliteDialect.scala. */
