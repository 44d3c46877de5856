package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.SqlInternals

import graft.engine.SegmentStore.TableMeta

/** One write script = one transaction (reference trough/write.py:33-40
  * wraps the whole script in BEGIN TRANSACTION…COMMIT).
  *
  * Statements mutate a *staged* working set of DataFrames; nothing
  * touches storage until [[commit]], which rewrites each dirty table via
  * the store's atomic directory swap. A failed statement aborts the whole
  * script with no storage change — the same all-or-nothing contract as
  * the reference, without SQLite's journal.
  *
  * Statement coverage = what the reference ecosystem actually executes
  * (SURVEY §7.4 risk 2) plus the full SQLite trigger surface: CREATE
  * TABLE / CREATE INDEX / DROP / ALTER, INSERT [OR REPLACE|IGNORE]
  * (VALUES and SELECT forms), UPDATE (incl. BUILDREDIRECTARRAY
  * upserts), DELETE, BEGIN/COMMIT no-ops, CREATE/DROP TRIGGER with
  * row-at-a-time firing (BEFORE/AFTER, UPDATE OF, WHEN, NEW./OLD.,
  * RAISE — see the trigger section below; INSTEAD OF is refused).
  *
  * Double-quoted tokens follow SQLite's DQS rule as the reference runs
  * it (python sqlite3 keeps the misfeature on): in UPDATE/DELETE tails
  * a `"name"` resolving to a target-table column is an IDENTIFIER,
  * anything else is a string literal ([[rewriteDqs]], r16 —
  * catalog-aware, probed under `.dbconfig dqs_dml on`); VALUES lists
  * have no row scope and stay literal (the reference test's
  * `VALUES ("test")`). Residual deviation: columns of OTHER tables
  * referenced inside a tail's subquery don't join the resolvable set —
  * quote those with backticks or leave them bare.
  */
private[engine] class WriteTxn(engine: TroughEngine, segmentId: String) {
  // the engine-owned write session: SQLite function names registered,
  // double-quoted identifiers off (VALUES byte-shape), and none of it
  // leaking onto the shared parent session
  private val spark: SparkSession = engine.writeSession
  private val store = engine.store

  /** Parse a scalar expression with the SQLite operator dialect applied
    * (ASCII-nocase LIKE, integer `/`, infix GLOB) — write predicates and
    * SET clauses go through the same SQLite contract as reads. */
  private def dexpr(s: String): Column = SqliteDialect.expr(spark, s)

  /** Column-declared collation pass over a write-path frame. `dexpr`/
    * `dpred` yield unresolved Columns, so the analyzed-plan pass can't
    * run inside them — instead it runs where frames EXECUTE (the
    * constraint gates' aggregates) or leave the txn ([[stage]], which
    * every DML path funnels through). A frame is lazy, so one wrap at
    * the funnel rewrites every comparison, window partition and
    * conflict join accumulated below it; no-op without collated
    * columns. */
  private def collated(df: DataFrame): DataFrame = SqliteCollation(spark, df)
  /** WHERE/CHECK positions: boolean-typed, SQLite truthiness for
    * value-shaped conditions (`WHERE 1`). */
  private def dpred(s: String): Column = SqliteDialect.predicate(spark, s)
  /** A CHECK expression compiled against its table: double-quoted
    * tokens resolve DQS-style against the table's columns first
    * (CHECK("c" > 0) tests column c, not the string 'c' — r19; the
    * plain [[dpred]] path read it as a literal and the check never
    * fired). */
  private def checkPred(meta: TableMeta, expr: String): Column =
    dpred(rewriteDqs(expr, meta.schema.fieldNames.toSet))

  private val working = mutable.LinkedHashMap[String, (TableMeta, DataFrame)]()
  private val dirty = mutable.LinkedHashSet[String]()
  private val created = mutable.LinkedHashSet[String]()
  private val dropped = mutable.LinkedHashSet[String]()

  // staged view registry: loaded lazily, mutated by CREATE/DROP VIEW,
  // persisted at commit — same all-or-nothing contract as table state
  private val stagedViews = mutable.LinkedHashMap[String, SqliteDdl.ViewDef]()
  private var viewsLoaded = false
  private var viewsDirty = false
  private def ensureViews(): Unit = if (!viewsLoaded) {
    backViews.foreach(v => stagedViews(v.name.toLowerCase) = v)
    viewsLoaded = true
  }
  private def isView(name: String): Boolean = {
    ensureViews(); stagedViews.contains(name.toLowerCase)
  }

  // staged trigger registry, same lifecycle as views; keyed lowercase,
  // kept in creation order (firing reverses it — SQLite's observed
  // order; see [[activeTriggers]])
  private val stagedTriggers = mutable.LinkedHashMap[String, SqliteDdl.TriggerDef]()
  private var triggersLoaded = false
  private var triggersDirty = false
  private def ensureTriggers(): Unit = if (!triggersLoaded) {
    backTriggers.foreach(t => stagedTriggers(t.name.toLowerCase) = t)
    triggersLoaded = true
  }

  /** Nested-transaction points (SQLite SAVEPOINT, lang_savepoint.html):
    * every element of staged state is an immutable value or a
    * DataFrame (itself immutable), so a savepoint is a cheap shallow
    * copy of the collections and rollback is a swap-back. The stack
    * allows repeated names; RELEASE and ROLLBACK TO address the most
    * recent match, exactly as SQLite does. */
  private final case class TxnSnapshot(
      working: Seq[(String, (TableMeta, DataFrame))],
      dirty: Seq[String], created: Seq[String], dropped: Seq[String],
      viewsLoaded: Boolean, stagedViews: Seq[(String, SqliteDdl.ViewDef)],
      viewsDirty: Boolean,
      triggersLoaded: Boolean,
      stagedTriggers: Seq[(String, SqliteDdl.TriggerDef)],
      triggersDirty: Boolean)
  /** A savepoint spans the whole connection — EVERY db's staged state
    * (sqlite savepoints roll back attached dbs too) — while ATTACH/
    * DETACH themselves are not transactional (probed: an attach
    * survives ROLLBACK TO an earlier savepoint). */
  private final case class FullSnapshot(main: TxnSnapshot,
      atts: Map[String, TxnSnapshot])
  private def fullSnapshot(): FullSnapshot =
    FullSnapshot(snapshot(), attachedDbs.map { case (k, a) => (k, a.saved) }.toMap)
  private def restoreFull(f: FullSnapshot): Unit = {
    restore(f.main)
    attachedDbs.foreach { case (k, a) =>
      a.saved = f.atts.getOrElse(k, pristineState)
      // the DETACH lock does NOT roll back: real sqlite 3.51 still
      // refuses `SAVEPOINT sp; INSERT INTO a.s …; ROLLBACK TO sp;
      // DETACH a` with 'database a is locked' (probed r18 — only a
      // FULL rollback releases it, handled in the plain-ROLLBACK arm)
    }
  }
  private var savepoints = List.empty[(String, FullSnapshot)]
  private def snapshot(): TxnSnapshot = TxnSnapshot(
    working.toSeq, dirty.toSeq, created.toSeq, dropped.toSeq,
    viewsLoaded, stagedViews.toSeq, viewsDirty,
    triggersLoaded, stagedTriggers.toSeq, triggersDirty)
  private def restore(t: TxnSnapshot): Unit = {
    working.clear(); working ++= t.working
    dirty.clear(); dirty ++= t.dirty
    created.clear(); created ++= t.created
    dropped.clear(); dropped ++= t.dropped
    viewsLoaded = t.viewsLoaded; viewsDirty = t.viewsDirty
    stagedViews.clear(); stagedViews ++= t.stagedViews
    triggersLoaded = t.triggersLoaded; triggersDirty = t.triggersDirty
    stagedTriggers.clear(); stagedTriggers ++= t.stagedTriggers
  }

  private def tableNames: Seq[String] =
    (backTables.filterNot(dropped.contains) ++ created).distinct

  // --------------------------------------------------- attached databases
  //
  // SQLite's ATTACH surface as the reference actually reaches it: modern
  // sqlite3 permits ATTACH/DETACH inside the explicit transaction the
  // reference wraps every script in (write.py:39, probed on the python
  // sqlite3 the reference runs), so a write script may address several
  // databases. Each attached db maps onto this engine's world: a file
  // path maps to the SEGMENT named by its basename (`…/<id>.sqlite` →
  // segment `<id>`, created at commit if absent — sqlite's
  // create-on-attach), and `:memory:`/'' is an ephemeral db that dies
  // with the script (the reference's one-connection-per-script shape
  // makes connection lifetime = script lifetime, so this matches sqlite
  // exactly). State is per-db and scope-swapped: the ACTIVE db's staged
  // state lives in the flat fields above; inactive dbs park theirs as a
  // [[TxnSnapshot]]. Statements are routed to their target db (qualified
  // name, else main-first search order — probed), run under that scope,
  // and cross-db references rewrite to per-scope relation names. Commit
  // is atomic across all touched segments (sqlite's multi-db atomic
  // commit), two-phased over every scope together.
  private final class AttachedDb(
      val name: String,                 // as declared (error texts)
      val seg: Option[String],          // None = ephemeral (:memory:/'')
      var saved: TxnSnapshot,           // parked state while inactive
      var used: Boolean)                // referenced since ATTACH → DETACH locks (probed)
  private val attachedDbs = mutable.LinkedHashMap[String, AttachedDb]() // key = lower name
  private var activeDb: String = "main"
  private var mainSaved: TxnSnapshot = null
  private def pristineState: TxnSnapshot = TxnSnapshot(Nil, Nil, Nil, Nil,
    viewsLoaded = false, Nil, viewsDirty = false,
    triggersLoaded = false, Nil, triggersDirty = false)

  /** The active db's backing segment; None while an ephemeral db is
    * active, or when an attached segment has not been created yet. */
  private def curSegExisting: Option[String] = {
    val seg = if (activeDb == "main") Some(segmentId) else attachedDbs(activeDb).seg
    seg.filter(s => activeDb == "main" || store.segmentExists(s))
  }
  private def backTables: Seq[String] = curSegExisting.map(store.tables).getOrElse(Nil)
  private def backExists(t: String): Boolean = curSegExisting.exists(store.tableExists(_, t))
  private def backMeta(t: String): TableMeta = store.tableMeta(curSegExisting.get, t)
  private def backLoad(t: String): DataFrame = store.loadTable(curSegExisting.get, t, spark)
  private def backViews: Seq[SqliteDdl.ViewDef] = curSegExisting.map(store.views).getOrElse(Nil)
  private def backTriggers: Seq[SqliteDdl.TriggerDef] =
    curSegExisting.map(store.triggers).getOrElse(Nil)

  private def activeDbName: String =
    if (activeDb == "main") "main" else attachedDbs(activeDb).name

  /** Park the active db's flat state and activate `db` (lowercased key,
    * "main" included). */
  private def switchTo(db: String): Unit = {
    if (db == activeDb) return
    val snap = snapshot()
    if (activeDb == "main") mainSaved = snap else attachedDbs(activeDb).saved = snap
    restore(if (db == "main") mainSaved else attachedDbs(db).saved)
    activeDb = db
  }
  /** Run one statement under `db`'s scope; dispatch always starts from
    * main, and returns there, so savepoints and commit see main active. */
  private def inDb[A](db: String)(body: => A): A =
    if (db == activeDb) body
    else { switchTo(db); try body finally switchTo("main") }

  private def dbKeys: Seq[String] = "main" +: attachedDbs.keys.toSeq
  private def scopeSegExisting(db: String): Option[String] = {
    val seg = if (db == "main") Some(segmentId) else attachedDbs(db).seg
    seg.filter(s => db == "main" || store.segmentExists(s))
  }
  private def scopeParked(db: String): TxnSnapshot =
    if (db == "main") Option(mainSaved).getOrElse(pristineState)
    else attachedDbs(db).saved
  private def scopeTables(db: String): Seq[String] =
    if (db == activeDb) tableNames
    else {
      val st = scopeParked(db)
      val backs = scopeSegExisting(db).map(store.tables).getOrElse(Nil)
      (backs.filterNot(st.dropped.contains) ++ st.created).distinct
    }
  private def scopeViews(db: String): Seq[SqliteDdl.ViewDef] =
    if (db == activeDb) { ensureViews(); stagedViews.values.toSeq }
    else {
      val st = scopeParked(db)
      if (st.viewsLoaded) st.stagedViews.map(_._2)
      else scopeSegExisting(db).map(store.views).getOrElse(Nil)
    }
  private def scopeTriggerNames(db: String): Seq[String] =
    if (db == activeDb) { ensureTriggers(); stagedTriggers.keys.toSeq }
    else {
      val st = scopeParked(db)
      if (st.triggersLoaded) st.stagedTriggers.map(_._1)
      else scopeSegExisting(db).map(store.triggers(_).map(_.name.toLowerCase)).getOrElse(Nil)
    }
  private def scopeHasTableOrView(db: String, name: String): Boolean =
    scopeTables(db).exists(_.equalsIgnoreCase(name)) ||
      scopeViews(db).exists(_.name.equalsIgnoreCase(name))
  /** A parked scope's staged frame for `t` (working-state first, then
    * its backing segment). Never called for the active scope. */
  private def scopeTableDf(db: String, t: String): Option[DataFrame] = {
    val st = scopeParked(db)
    st.working.find(_._1.equalsIgnoreCase(t)).map(_._2._2)
      .orElse(scopeSegExisting(db).filter(s => store.tableExists(s, t))
        .map(s => store.loadTable(s, t, spark)))
  }

  /** Per-scope relation name a cross-db reference compiles to: a valid
    * temp-view identifier, unique per (db, table) for sane names. */
  private def mangle(db: String, t: String): String =
    "__db_" + (db + "__" + t).toLowerCase(java.util.Locale.ROOT)
      .map(c => if (c.isLetterOrDigit || c == '_') c else '_')

  // ------------------------------------------- sqlite_master (staged)

  /** Whether the current statement names sqlite_master/sqlite_schema —
    * catalog assembly reads every table's meta, which ordinary DML must
    * not pay (mirrors TroughEngine.mentionsMaster on the read path). */
  private var masterWanted = false

  /** A scope's `sqlite_master` rows over the TXN'S STAGED STATE — the
    * in-transaction view real sqlite gives a script that reads the
    * catalog after its own DDL. Rendering is shared with the export /
    * read path ([[SegmentStore.masterParts]]) so the three can't
    * drift; rootpage is synthetic as there (sequential; 0 for virtual
    * tables, views, triggers). */
  private def scopeMasterRows(db: String)
      : Seq[org.apache.spark.sql.Row] = {
    val active = db == activeDb
    val names = scopeTables(db)
    val metaOf: String => TableMeta = t =>
      if (active) working.get(t).map(_._1).getOrElse(backMeta(t))
      else {
        val st = scopeParked(db)
        st.working.find(_._1.equalsIgnoreCase(t)).map(_._2._1)
          .getOrElse(store.tableMeta(scopeSegExisting(db).get, t))
      }
    val vs = scopeViews(db)
    val tgs: Seq[SqliteDdl.TriggerDef] =
      if (active) { ensureTriggers(); stagedTriggers.values.toSeq }
      else {
        val st = scopeParked(db)
        if (st.triggersLoaded) st.stagedTriggers.map(_._2)
        else scopeSegExisting(db).map(store.triggers).getOrElse(Nil)
      }
    val rows = Seq.newBuilder[org.apache.spark.sql.Row]
    var page = 1L
    names.foreach { t =>
      val meta = metaOf(t)
      meta.ftsSql match {
        case Some(ddl) => rows += org.apache.spark.sql.Row("table", t, t, 0L, ddl)
        case None =>
          val parts = SegmentStore.masterParts(t, meta)
          page += 1
          rows += org.apache.spark.sql.Row("table", t, t, page, parts.ddl)
          parts.autoIdxSets.foreach { case (n, _) =>
            page += 1
            rows += org.apache.spark.sql.Row("index", n, t, page, null)
          }
          parts.secondary.foreach { case (ix, _) =>
            page += 1
            rows += org.apache.spark.sql.Row("index", ix.name, t, page, ix.sql)
          }
      }
    }
    vs.foreach(v => rows += org.apache.spark.sql.Row("view", v.name, v.name, 0L, v.sql))
    tgs.foreach(t => rows += org.apache.spark.sql.Row("trigger", t.name, t.table, 0L, t.sql))
    rows.result()
  }

  private def masterDf(db: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("type", StringType), StructField("name", StringType),
      StructField("tbl_name", StringType), StructField("rootpage", LongType),
      StructField("sql", StringType)))
    spark.createDataFrame(scopeMasterRows(db).asJava, schema)
  }

  /** The fts5 declaration of `table` when it is an fts table in the
    * txn's working state (created tables included). */
  private def ftsDefOf(table: String): Option[Fts5.FtsTableDef] = {
    val real = tableNames.find(_.equalsIgnoreCase(table)).getOrElse(return None)
    val meta = working.get(real).map(_._1)
      .orElse(if (backExists(real)) Some(backMeta(real)) else None)
    meta.flatMap(_.ftsSql).flatMap(Fts5.parseCreateVirtual)
  }

  private def isRowidAlias(c: String): Boolean = {
    val l = c.toLowerCase(java.util.Locale.ROOT)
    l == "rowid" || l == "_rowid_" || l == "oid"
  }

  /** Rewrite standalone rowid aliases (rowid / _rowid_ / oid, unquoted,
    * any case) to the content-fts backing column — UPDATE/DELETE on a
    * content= fts table address rows by rowid in real fts5. Matches
    * are found on literal-blanked text so strings survive. */
  /** SQLite's double-quoted-string misfeature (quirks.html#dblquote),
    * the rule the reference actually runs under (python's sqlite3
    * keeps DQS enabled): a double-quoted token in EXPRESSION scope is
    * an identifier when it resolves — here, when it names a column of
    * the statement's target table (or the rowid aliases) — else a
    * string literal. VALUES lists have no row scope and stay literal
    * (probed under `.dbconfig dqs_dml on`: INSERT INTO t VALUES("a")
    * inserts the TEXT 'a' even when column a exists). Applied to
    * UPDATE/DELETE tails (r16), killing the silent literal-comparison
    * hazard for `WHERE "a" = 'x'`. */
  private def rewriteDqs(text: String, resolvable: Set[String]): String = {
    if (text.indexOf('"') < 0) return text
    val res = resolvable.map(_.toLowerCase(java.util.Locale.ROOT)) ++
      Set("rowid", "_rowid_", "oid")
    SqlLexer.rewrite(text) { (toks, i) =>
      val t = toks(i)
      if (t.quote != '"') None
      else if (res.contains(t.value.toLowerCase(java.util.Locale.ROOT)))
        Some((i + 1, "`" + t.value.replace("`", "``") + "`"))
      else Some((i + 1, "'" + t.value.replace("'", "''") + "'"))
    }
  }

  /** Rewrite the TARGET fts table's `rowid`/`_rowid_`/`oid` references
    * in an UPDATE/DELETE tail to the hidden backing column. Scoped
    * (r16): a QUALIFIED reference rewrites only when its qualifier is
    * the target table (or its alias) — `src.rowid` stays src's — and a
    * BARE reference inside a parenthesized subquery rewrites only when
    * that subquery's own FROM/JOIN sources are all the target table
    * (where SQLite binds it to the target's rowid); `(SELECT rowid
    * FROM src)` binds to src and must stay untouched. A subquery with
    * no FROM of its own (correlated EXISTS(SELECT 1 …)) inherits the
    * enclosing scope's decision. */
  private def rewriteFtsRowids(text: String, targets: Set[String]): String = {
    val targetsL = targets.map(_.toLowerCase(java.util.Locale.ROOT))
    val toks = SqlLexer.tokens(text)
    def isRowid(t: SqlLexer.Tok) =
      t.kind == SqlLexer.Word && Set("rowid", "_rowid_", "oid").contains(t.lower)
    // pass 1: paren regions [start, end) and each SELECT region's
    // direct FROM/JOIN sources
    final case class Region(start: Int, var end: Int = Int.MaxValue,
      var isSelect: Boolean = false,
      sources: mutable.ArrayBuffer[String] = mutable.ArrayBuffer())
    val all = mutable.ArrayBuffer[Region]()
    val stack = mutable.ArrayBuffer[Region]()
    toks.indices.foreach { i =>
      val t = toks(i)
      if (t.isPunct('(')) { val r = Region(t.start); all += r; stack += r }
      else if (t.isPunct(')') && stack.nonEmpty) {
        stack.last.end = t.start; stack.remove(stack.length - 1)
      } else if (stack.nonEmpty && t.is("select")) stack.last.isSelect = true
      else if (stack.nonEmpty && (t.is("from") || t.is("join")) &&
          toks.lift(i + 1).exists(_.isName))
        stack.last.sources += toks(i + 1).value.toLowerCase(java.util.Locale.ROOT)
    }
    // pass 2: rewrite decisions — the innermost enclosing SELECT region
    // WITH its own sources decides; source-less select regions and
    // plain parens defer outward; top level binds to the target
    def bareRewrites(pos: Int): Boolean =
      all.filter(r => r.isSelect && r.start < pos && pos < r.end)
        .sortBy(r => -r.start)
        .find(_.sources.nonEmpty) match {
          case Some(r) => r.sources.forall(targetsL.contains)
          case None => true
        }
    // a target-qualified reference drops its qualifier too: the
    // single-table predicate paths filter the unaliased frame, where
    // `t.__rowid` would not resolve
    SqlLexer.rewrite(text) { (ts, i) =>
      val qualified = i + 2 < ts.length && ts(i).kind == SqlLexer.Word &&
        ts(i + 1).isPunct('.') && isRowid(ts(i + 2))
      if (qualified) {
        if (targetsL.contains(ts(i).lower)) Some((i + 3, Fts5.RowidCol))
        else Some((i + 3, text.substring(ts(i).start, ts(i + 2).end)))
      } else if (isRowid(ts(i)) && !(i > 0 && ts(i - 1).isPunct('.')) &&
          bareRewrites(ts(i).start)) Some((i + 1, Fts5.RowidCol))
      else None
    }
  }

  private def load(table: String): (TableMeta, DataFrame) =
    working.getOrElseUpdate(table, {
      if (dropped.contains(table) || !backExists(table)) {
        if (isView(table))
          throw new IllegalArgumentException(
            s"cannot modify $table because it is a view")
        // in an attached scope sqlite prefixes the db name (probed:
        // "no such table: a.mlog" from a trigger in db a)
        val qual = if (activeDb == "main") "" else activeDbName + "."
        throw new IllegalArgumentException(s"no such table: $qual$table")
      }
      val meta = backMeta(table)
      // bound into the write session: expressions referencing SQLite
      // function names must resolve where SqliteCompat is registered.
      // A table within the driver-local cap is read once here; every
      // statement of the script then works on its rows in memory
      val df = backLoad(table)
      (meta, SqlInternals.toLocal(df).getOrElse(df))
    })

  private def stage(table: String, meta: TableMeta, df: DataFrame,
      fold: Boolean = true): Unit = {
    // reject reserved columns at stage time — every CREATE/ALTER path
    // funnels through here, and commit-phase failures are the wrong
    // place to discover a schema problem
    SegmentStore.requireNoReservedColumns(meta)
    // generated columns re-derive from their expressions on every
    // mutation (SQLite recomputes on INSERT and on UPDATE of any
    // referenced base column — probed); recomputing unconditionally at
    // the staging funnel is idempotent and covers every DML path
    val df2 =
      if (meta.generated.isEmpty) df
      else GeneratedColumns.recompute(spark, df, meta.schema, meta.generated)
    // rtree backings coerce every mutation at the funnel (float32/int32
    // outward rounding + the module's min≤max constraint), so INSERT,
    // UPDATE, upserts and trigger bodies stay uniform (r15)
    val df3 = meta.ftsSql.flatMap(Rtree.parseCreateVirtual) match {
      case Some(rd) => Rtree.coerceAndCheck(rd, df2)
      case None => df2
    }
    // declared collations travel as FIELD METADATA; the projections a
    // DML builds (CASE WHEN … AS c) drop it, and with it every later
    // statement's collation rewrite over this frame (r17 fuzz [749]:
    // an UPDATE's RTRIM WHERE stopped matching after an earlier SET of
    // the same column). Restore the declared metadata at the funnel.
    val df4 =
      if (meta.schema.fields.forall(f => f.metadata ==
          org.apache.spark.sql.types.Metadata.empty)) df3
      else if (df3.columns.length == meta.schema.fields.length &&
          meta.schema.fields.forall(f =>
            df3.columns.exists(_.equalsIgnoreCase(f.name))))
        df3.select(meta.schema.fields.map(f =>
          col(df3.columns.find(_.equalsIgnoreCase(f.name)).get)
            .as(f.name, f.metadata)).toSeq: _*)
      else df3
    working(table) = (meta, if (fold) settled(collated(df4)) else collated(df4))
    dirty += table
  }

  /** A staged frame over driver-local leaves only (LocalRelation,
    * OneRowRelation, a checkpointed LogicalRDD) held as one local
    * relation when it fits the cap: evaluated once now, instead of its
    * lineage re-running in every later job of the script. Frames that
    * read a parquet scan (an over-cap table) stay lazy. */
  private def settled(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation}
    import org.apache.spark.sql.execution.LogicalRDD
    val localLeaves = df.queryExecution.analyzed.collectLeaves().forall {
      case _: LocalRelation | _: OneRowRelation | _: LogicalRDD => true
      case _ => false
    }
    if (localLeaves) SqlInternals.toLocal(df).getOrElse(df) else df
  }

  /** `df` with a row id column `rid`, pinned so every later evaluation
    * sees the same ids: folded into the frame's local relation when it
    * is driver-local, else checkpointed. */
  private def tagRows(df: DataFrame, rid: String): DataFrame = {
    val tagged = settled(df.withColumn(rid, monotonically_increasing_id()))
    if (SqlInternals.localRelation(tagged).isDefined) tagged
    else tagged.localCheckpoint(true)
  }

  /** `rows` (values in `schema` order) appended to the local relation
    * `lr`, each value placed by column name — a relation's column
    * order need not be the declared one. `keep` filters the existing
    * rows first. */
  private def localAppend(lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      schema: StructType, rows: Seq[IndexedSeq[Any]],
      keep: org.apache.spark.sql.catalyst.InternalRow => Boolean = _ => true): DataFrame = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(lr.schema)
    val at = lr.output.map(a => schema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name)))
    SqlInternals.localFrame(spark, lr.output, lr.data.filter(keep) ++ rows.map(r =>
      conv(org.apache.spark.sql.Row.fromSeq(at.map(r(_))))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
  }

  // ----------------------------------------------------------- RETURNING

  /** RETURNING output of the most recent INSERT/UPDATE/DELETE (SQLite
    * 3.35, lang_returning.html), evaluated AT STATEMENT TIME — later
    * statements in the script can't retroactively change it, matching
    * SQLite's during-statement computation. The reference's wire path
    * discards these rows exactly as sqlite3's executescript does
    * (write.py:40); they exist for the embedded surface and specs. */
  private var returningBuf: Option[(org.apache.spark.sql.types.StructType,
    Seq[org.apache.spark.sql.Row])] = None
  def lastReturning: Option[(org.apache.spark.sql.types.StructType,
    Seq[org.apache.spark.sql.Row])] = returningBuf

  /** Read-and-clear, so a caller iterating a script attributes rows to
    * the statement that produced them (a following non-DML statement
    * must not re-report the previous DML's output). */
  def takeReturning(): Option[(org.apache.spark.sql.types.StructType,
    Seq[org.apache.spark.sql.Row])] = {
    val r = returningBuf; returningBuf = None; r
  }

  /** RETURNING rows buffer to the driver by definition; bounded so a
    * bulk statement can't silently become a driver-memory problem. */
  private val MaxReturningRows = 100000

  /** Split a trailing top-level `RETURNING <exprs>` off a DML statement.
    * Known parse limitation (shared with the write dialect generally): a
    * column literally named `returning` used UNQUOTED at the top level
    * of the statement will be taken for the clause. */
  private def splitReturning(stmt: String): (String, Option[String]) = {
    val at = SqlLexer.firstTopLevel(stmt, "RETURNING")
    if (at < 0) (stmt, None)
    else (stmt.substring(0, at),
      Some(stmt.substring(at + 9).trim.stripSuffix(";").trim))
  }

  /** SQLite's prepare-time refusal for DML naming a generated column
    * (probed: `cannot INSERT into generated column "s"` / `cannot
    * UPDATE generated column "s"`). */
  private def requireNotGenerated(meta: TableMeta, colName: String,
      verb: String): Unit =
    if (meta.generated.exists(_.name.equalsIgnoreCase(colName)))
      throw new IllegalArgumentException(
        s"""cannot $verb generated column "$colName"""")

  /** Evaluate RETURNING expressions over the statement's affected-row
    * images. Output naming follows SQLite: `AS alias` if given, the
    * column name for a bare column, else the expression text. `*`
    * expands to the table's columns. */
  private def applyReturning(affected0: DataFrame, meta: TableMeta,
      text: String): Unit = {
    // generated columns re-derive on the affected image too (an UPDATE
    // of a base column must report the NEW generated value)
    val affected =
      if (meta.generated.isEmpty) affected0
      else GeneratedColumns.recompute(spark, affected0, meta.schema, meta.generated)
    val items = SqlLexer.splitTopLevel(text).map(_.trim).filter(_.nonEmpty)
    require(items.nonEmpty, s"cannot parse RETURNING clause: $text")
    val identRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
    val sel = items.flatMap { it =>
      if (it == "*") meta.schema.fieldNames.toSeq.map(f => s"`$f`")
      else if (identRe.matches(it) || SqlLexer.firstTopLevel(it, "AS") >= 0) Seq(it)
      else Seq(s"($it) AS `${it.replace("`", "")}`")
    }
    val view = "__graft_affected"
    val out = runSelect("SELECT " + sel.mkString(", ") + s" FROM `$view`",
      overrides = Map(view -> affected))
    val rows = out.limit(MaxReturningRows + 1).collect().toSeq
    if (rows.length > MaxReturningRows)
      throw new UnsupportedOperationException(
        s"RETURNING would buffer more than $MaxReturningRows rows to the driver")
    returningBuf = Some((out.schema, rows))
  }

  /** v1 scope rule: RETURNING composes with every non-trigger path; a
    * statement that BOTH fires triggers AND returns rows is refused
    * loudly (the firing loop would need per-row image accounting of
    * RAISE(IGNORE) abandonment to report truthfully). */
  private def refuseReturningWithTriggers(retText: Option[String],
      haveTriggers: Boolean): Unit =
    if (retText.isDefined && haveTriggers)
      throw new UnsupportedOperationException(
        "RETURNING on a statement that fires triggers is not supported; " +
          "drop the trigger or split the statement")

  // ------------------------------------------------------------- dispatch

  private val savepointRe = "(?is)^\\s*SAVEPOINT\\s+(.+?)\\s*;?\\s*$".r
  private val releaseRe = "(?is)^\\s*RELEASE\\s+(?:SAVEPOINT\\s+)?(.+?)\\s*;?\\s*$".r
  private val rollbackToRe =
    "(?is)^\\s*ROLLBACK\\s+(?:TRANSACTION\\s+)?TO\\s+(?:SAVEPOINT\\s+)?(.+?)\\s*;?\\s*$".r

  def execute(stmt: String): Unit = SqlScript.firstWord(stmt) match {
    case "BEGIN" | "COMMIT" | "END" => ()
    case "ATTACH" => attach(stmt)
    case "DETACH" => detach(stmt)
    case "SAVEPOINT" =>
      val name = SqlScript.unquoteIdent(
        savepointRe.findFirstMatchIn(stmt).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt")).group(1))
      savepoints ::= (name.toLowerCase, fullSnapshot())
    case "RELEASE" =>
      val name = SqlScript.unquoteIdent(
        releaseRe.findFirstMatchIn(stmt).getOrElse(
          throw new IllegalArgumentException(s"cannot parse: $stmt")).group(1))
      val at = savepoints.indexWhere(_._1 == name.toLowerCase)
      if (at < 0) // SQLite's exact refusal
        throw new IllegalArgumentException(s"no such savepoint: $name")
      savepoints = savepoints.drop(at + 1) // changes since it are KEPT
    case "ROLLBACK" =>
      rollbackToRe.findFirstMatchIn(stmt) match {
        case Some(m) =>
          val name = SqlScript.unquoteIdent(m.group(1))
          val at = savepoints.indexWhere(_._1 == name.toLowerCase)
          if (at < 0)
            throw new IllegalArgumentException(s"no such savepoint: $name")
          restoreFull(savepoints(at)._2)
          savepoints = savepoints.drop(at) // the savepoint itself survives
        case None =>
          // plain ROLLBACK: discard everything staged so far; later
          // statements run against storage state as a fresh transaction.
          // Attached dbs stay attached (not transactional) but their
          // staged state resets and their DETACH locks release — the
          // transaction that was using them is over.
          restore(pristineState)
          attachedDbs.values.foreach { a =>
            a.saved = pristineState; a.used = false
          }
          segScopeUse.clear() // txn-lifetime read locks release with it
          savepoints = Nil
      }
    // the reference write path runs whatever SQLite accepts (write.py:40)
    // and real-world scripts commonly carry PRAGMA lines. Only pragmas
    // that tune SQLite's PHYSICAL layer (no analog over immutable
    // parquet) are no-ops, same treatment as CREATE INDEX; pragmas that
    // change QUERY SEMANTICS (case_sensitive_like would flip LIKE
    // matching under this engine's SQLite-default emulation) must error
    // loudly rather than silently diverge, as must unknown ones.
    case "PRAGMA" =>
      val name0 = stmt.trim.stripPrefix("PRAGMA").stripPrefix("pragma")
        .trim.takeWhile(c => c != '=' && c != '(' && c != ';')
        .toLowerCase.trim
      // a pragma may be db-qualified (PRAGMA aux.synchronous); the db
      // prefix routes, the pragma name decides
      val name = name0.split("\\.", 2) match {
        case Array(db, rest) if db == "main" || attachedDbs.contains(db) => rest
        case _ => name0
      }
      if (!WriteTxn.physicalPragmas.contains(name))
        throw new UnsupportedOperationException(
          s"PRAGMA $name is not supported: only physical-layer pragmas " +
            "(journal_mode, synchronous, ...) are accepted as no-ops; " +
            "semantics-changing pragmas would silently diverge from SQLite")
    case _ =>
      // route to the statement's target db (ATTACH, r17): an explicit
      // qualifier is stripped and decides; unqualified object names
      // resolve main-first then attach-order (probed). Cross-db body
      // references rewrite to per-scope relation names. Zero rewriting
      // when nothing is attached and no main. qualifier appears.
      val (db, routed, targetPos) = routeStatement(stmt)
      masterWanted = {
        val low = stmt.toLowerCase(java.util.Locale.ROOT)
        low.contains("sqlite_master") || low.contains("sqlite_schema") ||
          // a DML can FIRE a trigger whose body reads the catalog even
          // when the outer statement never mentions it (r18)
          (SqlScript.firstWord(routed) match {
            case "INSERT" | "REPLACE" | "UPDATE" | "DELETE" =>
              triggerBodiesWantMaster
            case _ => false
          })
      }
      val mainQualified = attachedDbs.isEmpty &&
        "(?i)(?<![A-Za-z0-9_$.])main\\s*\\.\\s*[A-Za-z_\"`\\[]".r
          .findFirstIn(SqlLexer.blankLiterals(routed, keepIdents = true)).isDefined
      val rewritten =
        if (attachedDbs.isEmpty && !mainQualified) routed
        else SqlScript.firstWord(routed) match {
          case "INSERT" | "REPLACE" | "UPDATE" | "DELETE" =>
            rewriteDbRefs(routed, db, skipPos = targetPos)
          case _ => routed
        }
      inDb(db) { executeCore(rewritten) }
  }

  private def executeCore(stmt: String): Unit = SqlScript.firstWord(stmt) match {
    case "CREATE" =>
      val upper = stmt.toUpperCase
      if (upper.matches("(?s)\\s*CREATE\\s+VIRTUAL\\s+TABLE.*"))
        // fts5 (r11, Fts5.scala: plain-TEXT backing table + MATCH
        // compiled to token predicates on the read path) and
        // rtree/rtree_i32 (r15, Rtree.scala: coerced plain backing)
        // have native analogs; other modules keep the crisp named
        // refusal, raised inside Fts5.parseCreateVirtual
        createVirtualTable(stmt)
      else if (upper.matches("(?s)\\s*CREATE\\s+(UNIQUE\\s+)?INDEX.*")) createIndex(stmt)
      else if (upper.matches("(?s)\\s*CREATE\\s+(TEMP\\w*\\s+)?TRIGGER.*"))
        createTrigger(stmt)
      else if (upper.matches("(?s)\\s*CREATE\\s+(TEMP\\w*\\s+)?VIEW.*"))
        createView(stmt)
      else createTable(stmt)
    case "DROP" =>
      if (stmt.toUpperCase.matches("(?s)\\s*DROP\\s+VIEW.*")) dropView(stmt)
      else if (stmt.toUpperCase.matches("(?s)\\s*DROP\\s+TRIGGER.*")) dropTrigger(stmt)
      else dropTable(stmt)
    case "INSERT" | "REPLACE" => returningBuf = None; insert(stmt)
    case "UPDATE" =>
      returningBuf = None
      // predicates/assignments carrying subqueries (WHERE rowid IN
      // (SELECT …)) resolve their relations eagerly under the txn's
      // temp views (r16); statements without one skip the registration
      if (SqlLexer.hasWord(stmt, "select")) withRelationsVisible()(update(stmt))
      else update(stmt)
    case "DELETE" =>
      returningBuf = None
      if (SqlLexer.hasWord(stmt, "select")) withRelationsVisible()(delete(stmt))
      else delete(stmt)
    case "ALTER" => alter(stmt)
    case other =>
      throw new UnsupportedOperationException(s"unsupported write statement: $other")
  }

  // ------------------------------------------------------- ATTACH / DETACH

  /** `ATTACH [DATABASE] expr AS name` (lang_attach.html) as the
    * reference reaches it: modern sqlite3 permits ATTACH inside the
    * transaction write.py:39 wraps every script in (probed on python's
    * sqlite3). The filename expression evaluates like sqlite's (any
    * scalar expression); `':memory:'` and `''` attach an EPHEMERAL db
    * that dies with the script — identical to sqlite under the
    * reference's one-connection-per-script write path — and a file path
    * maps to the SEGMENT named by its basename (`…/<id>.sqlite` →
    * segment `<id>`), created at commit if absent (sqlite's
    * create-on-attach). Limits and error texts are sqlite's, probed:
    * max 10 attached, duplicate name `database X is already in use`,
    * `no such database`, `cannot detach database main`, and DETACH of a
    * db this transaction has referenced `database X is locked`. */
  private def attach(stmt: String): Unit = {
    val body = stmt.trim.stripSuffix(";").trim
      .replaceFirst("(?is)^ATTACH\\s+(DATABASE\\s+)?", "")
    val asAt = SqlLexer.lastTopLevel(body, "AS")
    if (asAt < 0) throw new IllegalArgumentException(s"cannot parse: $stmt")
    val fileExpr = body.substring(0, asAt).trim
    val name = SqlScript.unquoteIdent(body.substring(asAt + 2).trim)
    val key = name.toLowerCase(java.util.Locale.ROOT)
    if (key == "main" || key == "temp" || attachedDbs.contains(key))
      throw new IllegalArgumentException(s"database $name is already in use")
    if (attachedDbs.size >= 10)
      throw new IllegalArgumentException("too many attached databases - max 10")
    val fv = spark.range(1).select(dexpr(fileExpr).cast(StringType)).head()
    val file = if (fv.isNullAt(0)) "" else fv.getString(0)
    val seg = segIdOfAttachPath(file)
    seg.foreach { s =>
      if (!store.segmentExists(s) && !SegmentStore.SegmentIdPattern.matches(s))
        throw new IllegalArgumentException(s"unable to open database: $file")
      acquireSegLock(s)
    }
    attachedDbs(key) = new AttachedDb(name, seg, pristineState, used = false)
  }

  /** Cross-SCRIPT serialization for an attached segment, taken AT
    * ATTACH TIME and held through commit (r18): every later read of
    * the segment and the commit swap happen under one lock, so a
    * concurrent script addressing that segment directly can never
    * commit between this script's reads and its swap (lost update).
    * tryLock with a bounded wait instead of a blocking acquire: two
    * scripts cross-attaching each other's segments have no global
    * acquisition order (each already holds its own main lock), so the
    * later one refuses with sqlite's busy error after the timeout —
    * the same 'database is locked' a busy sqlite file lock raises
    * through python's default 5 s busy_timeout — rather than
    * deadlocking both segments' write paths forever. Reentrant cases
    * never reach the lock: attaching main's own segment, or one
    * segment under a second alias, reuses the hold already in place. */
  private val heldSegLocks =
    mutable.ArrayBuffer[(String, java.util.concurrent.locks.ReentrantLock)]()
  private def acquireSegLock(s: String): Unit = {
    if (s == segmentId || heldSegLocks.exists(_._1 == s)) return
    val l = engine.segmentScriptLock(s)
    val ok =
      try l.tryLock(WriteTxn.attachLockTimeoutMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt(); false
      }
    if (!ok) throw new IllegalArgumentException("database is locked")
    heldSegLocks += ((s, l))
  }

  /** Release every attached segment's script lock — the engine's write
    * entry points call this in a finally around the whole script, so
    * the locks drop on commit AND on any statement error. */
  def releaseAttachedLocks(): Unit = {
    heldSegLocks.foreach(_._2.unlock())
    heldSegLocks.clear()
  }

  private def detach(stmt: String): Unit = {
    val name = SqlScript.unquoteIdent(stmt.trim.stripSuffix(";").trim
      .replaceFirst("(?is)^DETACH\\s+(DATABASE\\s+)?", "").trim)
    val key = name.toLowerCase(java.util.Locale.ROOT)
    if (key == "main")
      throw new IllegalArgumentException("cannot detach database main")
    val a = attachedDbs.getOrElse(key,
      throw new IllegalArgumentException(s"no such database: $name"))
    if (a.used)
      throw new IllegalArgumentException(s"database $name is locked")
    attachedDbs.remove(key)
    // release the segment's script lock unless another alias (or main)
    // still maps to it; clear its use mark so a later re-attach under a
    // fresh name starts unreferenced (the detached db held no staged
    // state — DETACH refuses while used)
    a.seg.foreach { s =>
      segScopeUse.filterInPlace { case (_, scope) => scope != key }
      if (s != segmentId &&
          !attachedDbs.valuesIterator.exists(_.seg.contains(s))) {
        val i = heldSegLocks.indexWhere(_._1 == s)
        if (i >= 0) heldSegLocks.remove(i)._2.unlock()
      }
    }
  }

  /** Map an ATTACH filename to a segment id: the basename, minus a
    * `.sqlite` suffix — trough's own `local_path()` naming
    * (sync.py segment files). `:memory:`, `''` and `mode=memory` URIs
    * are ephemeral (None). */
  private def segIdOfAttachPath(f: String): Option[String] = {
    if (f.contains("mode=memory")) return None
    val path = if (f.startsWith("file:"))
      f.stripPrefix("file:").stripPrefix("//").takeWhile(_ != '?') else f
    if (path.isEmpty || path == ":memory:") None
    else {
      val base = path.substring(path.lastIndexOf('/') + 1)
      val id = if (base.toLowerCase(java.util.Locale.ROOT).endsWith(".sqlite"))
        base.dropRight(7) else base
      if (id.isEmpty) None else Some(id)
    }
  }

  // ------------------------------------------------------- db routing

  /** Mark an attached db as referenced by this transaction — sqlite
    * locks it against DETACH from the first use, reads included
    * (probed: `database a is locked`). */
  /** First scope (db key) to touch each underlying SEGMENT this txn.
    * Two scopes can map to one segment (sqlite 3.51 permits attaching
    * the main file, or one file twice — probed; older releases refused
    * with 'database is already attached'): their pagers are separate,
    * so the moment a SECOND scope touches a segment another scope
    * already holds a transaction-lifetime read/write lock on, real
    * sqlite steps into 'database is locked' (probed: write-then-read,
    * read-then-write, and write-then-write across main + a same-file
    * alias all refuse; disjoint use of a single alias is fine). This
    * map reproduces that refusal — and with it, no two staged scopes
    * over one segment can ever diverge and race the commit swap. */
  private val segScopeUse = mutable.Map[String, String]()

  private def markUsed(db: String): Unit = {
    if (db != "main") attachedDbs(db).used = true
    val seg = if (db == "main") Some(segmentId) else attachedDbs(db).seg
    seg.foreach { g =>
      segScopeUse.get(g) match {
        case Some(prev) if prev != db =>
          throw new IllegalArgumentException("database is locked")
        case None => segScopeUse(g) = db
        case _ => ()
      }
    }
  }

  /** Writes into a cold-tier attached segment refuse with the engine's
    * cold-storage contract (main's check lives in TroughEngine.write). */
  private def requireWritable(db: String): Unit =
    if (db != "main")
      attachedDbs(db).seg.filter(store.isCold).foreach { s =>
        throw new IllegalStateException(
          s"segment $s is in cold storage (read-only)")
      }

  private val targetHeadRe = ("(?is)^(\\s*(?:" +
    "INSERT\\s+(?:OR\\s+\\w+\\s+)?INTO|REPLACE\\s+INTO|" +
    "UPDATE(?:\\s+OR\\s+\\w+)?|DELETE\\s+FROM|" +
    "CREATE\\s+VIRTUAL\\s+TABLE(?:\\s+IF\\s+NOT\\s+EXISTS)?|" +
    "CREATE\\s+(?:UNIQUE\\s+)?INDEX(?:\\s+IF\\s+NOT\\s+EXISTS)?|" +
    "CREATE\\s+TABLE(?:\\s+IF\\s+NOT\\s+EXISTS)?|" +
    "CREATE\\s+TRIGGER(?:\\s+IF\\s+NOT\\s+EXISTS)?|" +
    "CREATE\\s+VIEW(?:\\s+IF\\s+NOT\\s+EXISTS)?|" +
    "DROP\\s+(?:TABLE|VIEW|TRIGGER|INDEX)(?:\\s+IF\\s+EXISTS)?|" +
    "ALTER\\s+TABLE)\\s+)").r

  /** Route a statement to its target db: an explicit qualifier decides
    * (and is stripped from the text); unqualified names resolve
    * main-first then attach-order, sqlite's search order (probed).
    * Returns (dbKey, text, targetNameOffset) — the offset lets the body
    * rewriter skip the statement's own target (`DELETE FROM t`'s head
    * FROM must not re-resolve). */
  private def routeStatement(stmt: String): (String, String, Int) = {
    val m = targetHeadRe.findFirstMatchIn(stmt).getOrElse(return ("main", stmt, -1))
    val headEnd = m.end
    val head = m.group(1).trim.toUpperCase.replaceAll("\\s+", " ")
    val verb = head.takeWhile(!_.isWhitespace)
    val toks = SqlLexer.tokens(stmt)
    val fi = toks.indexWhere(_.start >= headEnd)
    if (fi < 0 || toks(fi).start != headEnd || !toks(fi).isName) return ("main", stmt, -1)
    if (toks.lift(fi + 1).exists(_.isPunct('.'))) {
      val nameTok = toks.lift(fi + 2).filter(_.isName).getOrElse(return ("main", stmt, -1))
      val name = nameTok.value
      val q = toks(fi).value
      val ql = q.toLowerCase(java.util.Locale.ROOT)
      if (ql != "main" && !attachedDbs.contains(ql)) {
        // sqlite's error shapes, probed: CREATE says "unknown database",
        // everything else reports the missing object with its qualifier
        if (verb == "CREATE")
          throw new IllegalArgumentException(s"unknown database $q")
        val obj =
          if (head.startsWith("DROP TRIGGER")) "trigger"
          else if (head.startsWith("DROP VIEW")) "view" else "table"
        throw new IllegalArgumentException(s"no such $obj: $q.$name")
      }
      val db = if (ql == "main") "main" else ql
      // the qualified-DML missing-table error keeps the qualifier
      // (probed: "no such table: a.missing")
      if (Set("INSERT", "REPLACE", "UPDATE", "DELETE").contains(verb) &&
          !scopeHasTableOrView(db, name))
        throw new IllegalArgumentException(s"no such table: $q.$name")
      if (head.startsWith("DROP TABLE") && !scopeTables(db).exists(_.equalsIgnoreCase(name)) &&
          !scopeViews(db).exists(_.name.equalsIgnoreCase(name)) && !head.contains("IF EXISTS"))
        throw new IllegalArgumentException(s"no such table: $q.$name")
      markUsed(db); requireWritable(db)
      (db, stmt.substring(0, headEnd) + stmt.substring(nameTok.start), headEnd)
    } else {
      // unqualified: CREATE always lands in main; the rest search
      if (verb == "CREATE" || attachedDbs.isEmpty) {
        if (attachedDbs.nonEmpty) markUsed("main") // same-segment alias gate
        ("main", stmt, headEnd)
      }
      else {
        val n = toks(fi).value
        val db =
          if (head.startsWith("DROP TRIGGER"))
            dbKeys.find(scopeTriggerNames(_).contains(
              n.toLowerCase(java.util.Locale.ROOT))).getOrElse("main")
          else dbKeys.find(scopeHasTableOrView(_, n)).getOrElse("main")
        markUsed(db); requireWritable(db)
        (db, stmt, headEnd)
      }
    }
  }

  /** True when any scope's triggers read the catalog — a firing
    * trigger body resolves sqlite_master even when the outer DML never
    * mentions it (r18), so the staged catalog views must register for
    * such statements too. Trigger text loads lazily once per scope. */
  private def triggerBodiesWantMaster: Boolean = dbKeys.exists { db =>
    val defs: Iterable[SqliteDdl.TriggerDef] =
      if (db == activeDb) { ensureTriggers(); stagedTriggers.values }
      else {
        val st = scopeParked(db)
        if (st.triggersLoaded) st.stagedTriggers.map(_._2)
        else scopeSegExisting(db).map(store.triggers).getOrElse(Nil)
      }
    defs.exists { t =>
      val l = t.sql.toLowerCase(java.util.Locale.ROOT)
      l.contains("sqlite_master") || l.contains("sqlite_schema")
    }
  }

  /** A trigger-body DML statement with a db-qualified target — refused
    * by sqlite categorically (probed, `main.` included). */
  private def hasQualifiedDmlTarget(b: String): Boolean = {
    val m = targetHeadRe.findFirstMatchIn(b).getOrElse(return false)
    val head = m.group(1).trim.toUpperCase
    if (!(head.startsWith("INSERT") || head.startsWith("REPLACE") ||
      head.startsWith("UPDATE") || head.startsWith("DELETE"))) return false
    val toks = SqlLexer.tokens(b)
    val fi = toks.indexWhere(_.start >= m.end)
    fi >= 0 && toks(fi).start == m.end && toks(fi).isName &&
      toks.lift(fi + 1).exists(_.isPunct('.'))
  }

  /** Keywords that end a FROM-source position — anything else after a
    * rewritten `db.tbl` is taken for an explicit alias (so no implicit
    * one is added). */
  private val aliasStops = Set(
    "WHERE", "ON", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
    "NATURAL", "OUTER", "GROUP", "ORDER", "LIMIT", "OFFSET", "UNION",
    "EXCEPT", "INTERSECT", "SET", "WHEN", "THEN", "ELSE", "END", "AND",
    "OR", "NOT", "USING", "HAVING", "WINDOW", "RETURNING", "VALUES",
    "SELECT", "FROM", "COLLATE", "INDEXED", "ASC", "DESC", "CASE", "AS")

  /** Rewrite cross-db references in a statement body (r17 ATTACH):
    * 3-part `db.tbl.col` and FROM/JOIN `db.tbl` become per-scope
    * relation names (bare for the statement's own scope unless
    * `mangleOwn`); unqualified FROM/JOIN sources that resolve OUTSIDE
    * the target scope under sqlite's main-first search order mangle
    * too (CTE names and the routed target at `skipPos` are exempt).
    * A query over the statement's tokens. BARE identifiers only: a
    * double-quoted qualifier (`"a"."t"`) stays untouched and resolves loudly or not at all —
    * never silently to the wrong db. */
  private def rewriteDbRefs(text: String, ownDb: String,
      mangleOwn: Boolean = false, skipPos: Int = -1,
      qualifiedOnly: Boolean = false,
      foreignRefusal: Option[String] = None): String = {
    val toks = SqlLexer.tokens(text)
    def word(i: Int) = i < toks.length && toks(i).kind == SqlLexer.Word
    def dot(i: Int) = i < toks.length && toks(i).isPunct('.')
    def head(i: Int) = word(i) && !(i > 0 && toks(i - 1).isPunct('.'))
    val dbSet = dbKeys.toSet
    // CTE names (`name AS (`) shadow same-named tables
    val shadows = toks.indices.filter(i => head(i) &&
      toks.lift(i + 1).exists(_.is("AS")) && toks.lift(i + 2).exists(_.isPunct('(')))
      .map(toks(_).lower).toSet
    // edits collected as (start, end, replacement), applied right-to-left
    val edits = mutable.ArrayBuffer[(Int, Int, String)]()
    val consumed = mutable.ArrayBuffer[(Int, Int)]()
    def resolved(db: String, t: String): String = {
      // view/trigger bodies may reference their OWN db only (sqlite's
      // create-time check, probed error shapes)
      foreignRefusal.filter(_ => db != ownDb).foreach { desc =>
        val dn = if (db == "main") "main" else attachedDbs(db).name
        throw new IllegalArgumentException(
          s"$desc cannot reference objects in database $dn")
      }
      markUsed(db)
      // bare output (the regexes only match bare identifiers): the
      // UPDATE/DELETE self-qualifier machinery recognizes `t.col`, not
      // a backtick-quoted qualifier
      if (db == ownDb && !mangleOwn) t else mangle(db, t)
    }
    // pass 1: db.tbl.col anywhere (expression scope's only db form).
    // The column rides on the relation's EXPOSED name — the FROM pass
    // below re-aliases every rewritten source back to its bare table
    // name, so `db.tbl.col` compiles to `tbl`.col regardless of scope.
    toks.indices.foreach { i =>
      if (head(i) && dot(i + 1) && word(i + 2) && dot(i + 3) && word(i + 4) &&
          dbSet.contains(toks(i).lower)) {
        val tbl = toks(i + 2).text
        resolved(toks(i).lower, tbl) // foreign-refusal + DETACH-lock effects
        edits += ((toks(i).start, toks(i + 2).end, tbl))
        consumed += ((toks(i).start, toks(i + 4).end))
      }
    }
    // pass 2: FROM/JOIN sources, qualified and unqualified
    toks.indices.foreach { i =>
      val isSource = (toks(i).is("FROM") || toks(i).is("JOIN")) &&
        !(i > 0 && toks(i - 1).isPunct('.')) && word(i + 1)
      val qualified = isSource && dot(i + 2) && word(i + 3)
      val last = if (qualified) i + 3 else i + 1
      val identStart = if (isSource) toks(i + 1).start else -1
      val inConsumed = consumed.exists { case (s, e) => identStart >= s && identStart < e }
      val followedByParen = toks.lift(last + 1).exists(_.isPunct('('))
      if (isSource && !inConsumed && !followedByParen && identStart != skipPos) {
        val a = toks(i + 1).text
        val al = a.toLowerCase(java.util.Locale.ROOT)
        val (target, endTok): (Option[(String, String)], Int) =
          if (qualified && dbSet.contains(al)) (Some((al, toks(i + 3).text)), i + 3)
          else if (!qualified && !qualifiedOnly && !shadows.contains(al)) {
            val hit =
              if (mangleOwn) Some(ownDb).filter(scopeHasTableOrView(_, a))
              else dbKeys.find(scopeHasTableOrView(_, a))
            hit match {
              case Some(db) if db != ownDb || mangleOwn => (Some((db, a)), i + 1)
              case _ => (None, 0)
            }
          } else (None, 0)
        target.foreach { case (db, tbl) =>
          // re-alias to the bare table name unless an explicit alias
          // follows — sqlite exposes `db.tbl` as `tbl`
          val aliasFollows = toks.lift(endTok + 1).exists(t => t.isName &&
            (!aliasStops.contains(t.text.toUpperCase) || t.is("AS")))
          val rel = resolved(db, tbl)
          val rep = if (aliasFollows) rel else s"$rel AS $tbl"
          edits += ((identStart, toks(endTok).end, rep))
        }
      }
    }
    if (edits.isEmpty) return text
    val sb = new java.lang.StringBuilder(text)
    edits.sortBy(-_._1).foreach { case (s, e, r) => sb.replace(s, e, r) }
    sb.toString
  }

  /** One db's commit-ready effects: evaluated frames, drops, registry
    * writes — gathered per scope so the two-phase swap spans EVERY
    * touched segment together (sqlite's atomic multi-db commit). */
  private final case class ScopeCommit(seg: String,
      materialized: Seq[(String, TableMeta, DataFrame)],
      drops: Seq[String],
      views: Option[Seq[SqliteDdl.ViewDef]],
      triggers: Option[Seq[SqliteDdl.TriggerDef]],
      isNew: Boolean)

  /** Gather the ACTIVE scope's effects (forcing evaluation of every
    * staged plan *before* anything mutates storage, so a bad expression
    * can't leave a half-applied script). */
  private def gatherScope(seg: String): ScopeCommit = ScopeCommit(
    seg,
    // a driver-local frame is already evaluated (and commits as one
    // part file); anything else is forced once here
    dirty.toSeq.map { t =>
      val (meta, df) = working(t)
      (t, meta,
        if (SqlInternals.localRelation(df).isDefined) df else df.localCheckpoint(eager = true))
    },
    dropped.filterNot(created.contains).toSeq,
    if (viewsDirty) Some(stagedViews.values.toSeq) else None,
    if (triggersDirty) Some(stagedTriggers.values.filterNot(_.temp).toSeq) else None,
    isNew = !store.segmentExists(seg))

  def commit(): Unit = {
    // dispatch always returns to main; commit relies on it
    switchTo("main")
    val plans = mutable.ArrayBuffer[ScopeCommit]()
    plans += gatherScope(segmentId)
    attachedDbs.foreach { case (key, a) =>
      a.seg.foreach { seg =>
        switchTo(key)
        try {
          if (dirty.nonEmpty || dropped.nonEmpty || viewsDirty || triggersDirty)
            plans += gatherScope(seg)
        } finally switchTo("main")
      }
    }
    // cross-script serialization is already in place: main's lock is
    // held by TroughEngine.write for the whole script, and every
    // attached segment's lock has been held since its ATTACH statement
    // (acquireSegLock) — taking them only here left a window where a
    // concurrent script could commit between this script's reads of an
    // attached segment and this swap (r18; the same late acquisition
    // inside two held main locks could also deadlock cross-attaching
    // scripts, which the ATTACH-time tryLock now refuses instead)
    commitPlans(plans.toSeq)
  }

  private def commitPlans(plans: Seq[ScopeCommit]): Unit = {
    // constraint gate BEFORE any storage effect: SQLite raises the
    // moment a duplicate key lands and the whole wrapped script rolls
    // back (write.py:36-40); checking each dirty table's final state
    // once here gives the same observable outcome — the script 500s,
    // nothing commits — at one job per table instead of one per
    // statement. (Deviation: a script that creates and then deletes a
    // duplicate passes here where SQLite errored mid-script.)
    plans.foreach(p => p.materialized.foreach { case (t, meta, df) =>
      enforceUnique(t, meta, df)
    })
    // a segment first materialized by ATTACH exists from this commit —
    // sqlite's create-on-attach, deferred to the atomic boundary
    plans.filter(p => p.isNew && (p.materialized.nonEmpty ||
      p.drops.nonEmpty || p.views.isDefined || p.triggers.isDefined))
      .foreach(p => store.provision(p.seg, ""))
    // Two-phase across ALL storage effects of ALL touched segments:
    // phase 1 writes EVERY dirty table's parquet to its data_tmp dir
    // (any failure — disk full, codec error — aborts with no visible
    // change, including scripts that DROP and recreate tables); phase 2
    // is only cheap renames and meta writes. A DROPped-and-reCREATEd
    // table needs no explicit drop: the swap below replaces both its
    // data dir and its meta. New tables need no explicit create:
    // prepare makes the dir, and the swap degenerates to a single
    // data_tmp→data rename + meta write.
    plans.foreach(p => p.materialized.foreach { case (t, _, df) =>
      store.prepareTableData(p.seg, t, df)
    })
    plans.foreach(p => p.materialized.foreach { case (t, meta, _) =>
      store.swapPreparedData(p.seg, t, Some(meta))
    })
    // Explicit drops go LAST: every other phase-2 effect (the swaps) is
    // self-healing after a crash (data_old restore, re-runnable renames),
    // but a dropped table is gone irrecoverably — sequencing the
    // non-healable effect after all healable ones means a crash anywhere
    // in phase 2 leaves either a fully-consistent pre-drop state or only
    // the drops themselves unfinished (re-running just the drops heals).
    plans.foreach(p => p.drops.foreach { t =>
      if (store.tableExists(p.seg, t)) store.dropTable(p.seg, t)
    })
    // view registry last among the healable effects' tail: one cheap
    // file write per touched segment holding its whole staged set
    plans.foreach(p => p.views.foreach(vs => store.putViews(p.seg, vs)))
    // trigger registry likewise; TEMP triggers die with the script
    plans.foreach(p => p.triggers.foreach(ts => store.putTriggers(p.seg, ts)))
  }

  /** The PRIMARY KEY and every recorded UNIQUE index must hold over the
    * table's post-script state, with SQLite's exact failure text
    * (`UNIQUE constraint failed: t.a, t.b`). Rows with a NULL in any
    * key column never conflict — SQLite's historical PRIMARY-KEY-
    * allows-NULL rule treats each NULL as distinct. Indexes whose
    * columns no longer all exist (dropped/renamed mid-script) are
    * skipped: they can't be evaluated, and export already prunes
    * them. */
  /** Statement-time constraint gate for UPDATE, restricted to the
    * constraints the ASSIGNED columns can actually break (r18): an
    * UPDATE leaves every other column untouched, so NOT NULL on
    * unassigned columns, CHECKs that reference none of the assigned
    * columns, and unique key sets disjoint from the assignment all
    * still hold from the pre-statement state (which the previous
    * statement's gate validated). When nothing intersects, the gate is
    * ZERO Spark jobs — the difference between µs and a full-table
    * aggregation per firing for trigger bodies like
    * `UPDATE t SET c = c + 1 WHERE id = NEW.id` (general tier:
    * measured 3/s → see SCALE.md r18 trigger throughput). */
  /** `meta` restricted to the constraints an UPDATE of `assigned`
    * columns can actually break (see [[enforceUniqueForUpdate]]). */
  private def narrowedForUpdate(meta: TableMeta,
      assigned: Iterable[String]): TableMeta = {
    val asg = assigned.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def hit(c: String): Boolean = asg.contains(c.toLowerCase(java.util.Locale.ROOT))
    def checkMentions(expr: String): Boolean = {
      // quoted names kept: a CHECK referencing an assigned column as a
      // QUOTED identifier (CHECK("c" > 0)) must stay in the statement-time gate — erasing identifier quotes
      // dropped it, deferring the violation to the commit gate where a
      // later statement could wash it (r18 advice)
      val blanked = SqlLexer.blankLiterals(expr, keepIdents = true)
        .toLowerCase(java.util.Locale.ROOT)
      asg.exists(c =>
        ("(^|[^a-z0-9_])" + java.util.regex.Pattern.quote(c) + "([^a-z0-9_]|$)").r
          .findFirstIn(blanked).isDefined)
    }
    meta.copy(
      notNull = meta.notNull.filter(hit),
      checks = meta.checks.filter(c => checkMentions(c.expr)),
      primaryKey = if (meta.primaryKey.exists(hit)) meta.primaryKey else Nil,
      uniques = meta.uniques.filter(_.exists(hit)),
      indexes = meta.indexes.filter(ix => !ix.unique || ix.columns.exists(hit)))
  }

  private def updateGateNeeded(narrowed: TableMeta): Boolean =
    narrowed.notNull.nonEmpty || narrowed.checks.nonEmpty ||
      narrowed.primaryKey.nonEmpty || narrowed.uniques.nonEmpty ||
      narrowed.indexes.exists(_.unique)

  private def enforceUniqueForUpdate(table: String, meta: TableMeta,
      df: DataFrame, assigned: Iterable[String]): Unit = {
    val narrowed = narrowedForUpdate(meta, assigned)
    if (updateGateNeeded(narrowed))
      enforceUnique(table, narrowed, df)
  }

  private def enforceUnique(table: String, meta: TableMeta, df: DataFrame): Unit = {
    val fields = meta.schema.fieldNames
    def resolve(cols: Seq[String]): Option[Seq[String]] = {
      val rs = cols.map(c => fields.find(_.equalsIgnoreCase(c)))
      if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
    }
    // NOT NULL first (SQLite reports it before uniqueness for a row
    // violating both), all declared columns in one aggregate job
    val nn = meta.notNull.flatMap(c => fields.find(_.equalsIgnoreCase(c)))
    if (nn.nonEmpty) {
      val counts = df.select(nn.map(c =>
        count(when(col(c).isNull, 1)).as(c)): _*).head()
      nn.zipWithIndex.foreach { case (c, i) =>
        if (counts.getLong(i) > 0) throw new IllegalArgumentException(
          s"NOT NULL constraint failed: $table.$c")
      }
    }
    // CHECK constraints: a row violates only when the expression
    // evaluates to FALSE — NULL passes (SQLite's rule); all checks in
    // one aggregate job, failure labeled as sqlite3 labels it
    if (meta.checks.nonEmpty) {
      val counts = collated(df.select(meta.checks.zipWithIndex.map { case (c, i) =>
        count(when(!coalesce(checkPred(meta, c.expr), lit(true)), 1)).as(s"c$i")
      }: _*)).head()
      meta.checks.zipWithIndex.foreach { case (c, i) =>
        if (counts.getLong(i) > 0) throw new IllegalArgumentException(
          s"CHECK constraint failed: ${c.label}")
      }
    }
    val keySets =
      (if (meta.primaryKey.nonEmpty) Seq(meta.primaryKey.toSeq) else Nil) ++
        meta.uniques ++
        meta.indexes.filter(_.unique).map(_.columns)
    keySets.distinct.foreach { keys0 =>
      resolve(keys0).foreach { keys =>
        val nonNull = keys.foldLeft(df)((d, k) => d.where(col(k).isNotNull))
        // the collation pass folds collated grouping keys, so 'abc'
        // and 'ABC' land in one group and conflict — SQLite's NOCASE
        // unique-index behavior
        val dup = collated(nonNull.groupBy(keys.map(col): _*).count()
          .where(col("count") > 1)).limit(1).count()
        if (dup > 0) throw new IllegalArgumentException(
          s"UNIQUE constraint failed: ${keys.map(k => s"$table.$k").mkString(", ")}")
      }
    }
  }

  // ----------------------------------------------------------------- DDL

  private def createTable(stmt: String): Unit = {
    val td = SqliteDdl.parseCreateTable(stmt)
    if (tableNames.contains(td.name)) {
      if (td.ifNotExists) return
      throw new IllegalStateException(s"table ${td.name} already exists")
    }
    if (isView(td.name)) {
      // IF NOT EXISTS suppresses the error for ANY same-named object
      // (SQLite semantics) but never silently shadows the view
      if (td.ifNotExists) return
      throw new IllegalStateException(s"view ${td.name} already exists")
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], td.schema)
    created += td.name
    stage(td.name, TableMeta(td.schema, td.primaryKey, td.autoIncrement,
      notNull = td.notNull, defaults = td.defaults, uniques = td.uniques,
      checks = td.checks, generated = td.generated), empty)
  }

  /** `CREATE VIRTUAL TABLE … USING fts5(cols)` (r11): the storage is a
    * plain all-TEXT table (fts5 columns are typeless text for search
    * purposes); the original DDL text rides the meta so sqlite_master
    * and the read path's MATCH compiler see the virtual-ness. Non-fts5
    * modules and fts5 options refuse by name inside the parse. */
  private def createVirtualTable(stmt: String): Unit =
    Fts5.parseCreateVirtual(stmt) match {
      case Some(fd) => createFtsTable(fd)
      case None => Rtree.parseCreateVirtual(stmt) match {
        case Some(rd) => createRtreeTable(rd)
        case None => throw new IllegalArgumentException(
          s"cannot parse CREATE VIRTUAL TABLE statement: $stmt")
      }
    }

  /** `CREATE VIRTUAL TABLE … USING rtree|rtree_i32` (r15): a plain
    * coerced backing table ([[Rtree]] — the staging funnel applies the
    * module's float32/int32 outward coercions and min≤max checks). */
  private def createRtreeTable(rd: Rtree.RtreeDef): Unit = {
    if (tableNames.contains(rd.name) || isView(rd.name)) {
      if (rd.ifNotExists) return
      throw new IllegalStateException(s"table ${rd.name} already exists")
    }
    val schema = Rtree.schemaOf(rd)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    created += rd.name
    stage(rd.name, Rtree.metaOf(rd), empty)
  }

  private def createFtsTable(fd: Fts5.FtsTableDef): Unit = {
    if (tableNames.contains(fd.name) || isView(fd.name)) {
      if (fd.ifNotExists) return
      throw new IllegalStateException(s"table ${fd.name} already exists")
    }
    // content= tables (external content / contentless, r15) keep the
    // INDEX state: explicit rowids (real fts5's sync commands address
    // rows by rowid) plus the indexed text as inserted. Plain fts
    // tables stay rowid-less — their content IS the index source.
    val rowidField =
      if (fd.content.isDefined)
        Seq(org.apache.spark.sql.types.StructField(
          Fts5.RowidCol, org.apache.spark.sql.types.LongType))
      else Nil
    val schema = org.apache.spark.sql.types.StructType(
      rowidField ++ fd.columns.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    created += fd.name
    val meta =
      if (fd.content.isDefined)
        TableMeta(schema, Seq(Fts5.RowidCol), Some(Fts5.RowidCol),
          ftsSql = Some(fd.sql))
      else TableMeta(schema, Nil, None, ftsSql = Some(fd.sql))
    stage(fd.name, meta, empty)
  }

  /** Plain CREATE INDEX is recorded in the table's meta inside the
    * transaction (committed with it); non-plain shapes stay no-op
    * hints, same as provision ([[SegmentStore.recordIndex]] semantics
    * against the txn's working set instead of storage). */
  private def createIndex(stmt: String): Unit =
    SqliteDdl.parseCreateIndex(stmt).foreach { ix =>
      // SQLite: "object name reserved for internal use" — an exported
      // sqlite_autoindex_* collision would corrupt the catalog
      if (ix.name.toLowerCase.startsWith("sqlite_"))
        throw new IllegalArgumentException(
          s"object name reserved for internal use: ${ix.name}")
      if (isView(ix.table)) // SQLite's exact refusal
        throw new IllegalArgumentException("views may not be indexed")
      val (meta, df) = load(ix.table) // throws "no such table" like SQLite
      if (meta.indexes.exists(_.name.equalsIgnoreCase(ix.name))) {
        if (!ix.ifNotExists)
          throw new IllegalStateException(s"index ${ix.name} already exists")
      } else if (ix.columns.forall(c => meta.schema.fieldNames.exists(_.equalsIgnoreCase(c))))
        stage(ix.table, meta.copy(indexes = meta.indexes :+ ix), df)
      else throw new IllegalArgumentException(
        s"index ${ix.name} references columns not in table ${ix.table}")
    }

  /** CREATE VIEW stores the statement TEXT (SQLite's own contract:
    * views resolve at query time, so a view over a not-yet-created or
    * since-dropped table is legal to create and errors only when
    * used). Staged like every other DDL effect — a failed script
    * leaves no view behind. */
  private def createView(stmt: String): Unit = {
    val v0 = SqliteDdl.parseCreateView(stmt)
    // a view may reference its OWN db's objects only (sqlite refuses
    // the rest at CREATE, probed: "view vv cannot reference objects in
    // database a"); own-db qualifiers strip — the view body resolves
    // under this db's scope at query time
    val v =
      v0.copy(select = rewriteDbRefs(v0.select, activeDb,
        qualifiedOnly = true, foreignRefusal = Some(s"view ${v0.name}")))
    if (v.name.toLowerCase.startsWith("sqlite_"))
      throw new IllegalArgumentException(
        s"object name reserved for internal use: ${v.name}")
    if (tableNames.exists(_.equalsIgnoreCase(v.name)))
      throw new IllegalStateException(s"table ${v.name} already exists")
    ensureViews()
    if (stagedViews.contains(v.name.toLowerCase)) {
      if (!v.ifNotExists)
        throw new IllegalStateException(s"view ${v.name} already exists")
    } else {
      stagedViews(v.name.toLowerCase) = v
      viewsDirty = true
    }
  }

  /** CREATE TRIGGER: staged like views; the definition text is what
    * persists (SQLite’s own contract — trigger programs re-parse from
    * sqlite_master). Validation matches sqlite3’s prepare-time checks
    * with its exact error texts (probed): the target table must exist,
    * must not be a view (INSTEAD OF is refused in the parser), and the
    * name — triggers have their OWN namespace — must be free. TEMP
    * triggers live only for this script (the reference’s one-connection-
    * per-script write path makes connection scope = script scope). */
  private def createTrigger(stmt: String): Unit = {
    val tg0 = SqliteDdl.parseCreateTrigger(stmt)
    // sqlite's trigger database rules (probed): a db-qualified DML
    // target anywhere in the body refuses categorically; any other
    // reference may qualify only the trigger's OWN db (stripped here —
    // the body executes under this db's scope at fire time, where the
    // bare name is the correct one)
    tg0.body.foreach { b =>
      if (hasQualifiedDmlTarget(b))
        throw new IllegalArgumentException(
          "qualified table names are not allowed on INSERT, UPDATE, " +
            "and DELETE statements within triggers")
    }
    val tg =
      tg0.copy(
        when = tg0.when.map(rewriteDbRefs(_, activeDb, qualifiedOnly = true,
          foreignRefusal = Some(s"trigger ${tg0.name}"))),
        body = tg0.body.map(rewriteDbRefs(_, activeDb, qualifiedOnly = true,
          foreignRefusal = Some(s"trigger ${tg0.name}"))))
    if (tg.name.toLowerCase.startsWith("sqlite_"))
      throw new IllegalArgumentException(
        s"object name reserved for internal use: ${tg.name}")
    ensureTriggers()
    // probed (3.51): INSTEAD OF pairs only with views, BEFORE/AFTER
    // only with tables
    if (tg.timing == "INSTEAD OF") {
      if (tableNames.exists(_.equalsIgnoreCase(tg.table)))
        throw new IllegalArgumentException(
          s"cannot create INSTEAD OF trigger on table: ${tg.table}")
      if (!isView(tg.table))
        throw new IllegalArgumentException(s"no such table: $activeDbName.${tg.table}")
    } else {
      if (isView(tg.table))
        throw new IllegalArgumentException(
          s"cannot create ${tg.timing} trigger on view: ${tg.table}")
      if (!tableNames.exists(_.equalsIgnoreCase(tg.table)))
        throw new IllegalArgumentException(s"no such table: $activeDbName.${tg.table}")
    }
    if (stagedTriggers.contains(tg.name.toLowerCase)) {
      if (!tg.ifNotExists)
        throw new IllegalStateException(s"trigger ${tg.name} already exists")
    } else {
      // SQLite’s trigger-body grammar: DML and SELECT only — no DDL, no
      // transaction control (prepare-time refusal there too)
      tg.body.foreach { b =>
        val w = SqlScript.firstWord(b)
        if (!Set("INSERT", "REPLACE", "UPDATE", "DELETE", "SELECT", "WITH").contains(w))
          throw new IllegalArgumentException(
            s"cannot use $w in a trigger body")
      }
      stagedTriggers(tg.name.toLowerCase) = tg
      triggersDirty = true
    }
  }

  private val dropTriggerRe =
    "(?is)^\\s*DROP\\s+TRIGGER\\s+(IF\\s+EXISTS\\s+)?(.+?)\\s*$".r
  private def dropTrigger(stmt: String): Unit = {
    val m = dropTriggerRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse: $stmt"))
    val name = SqlScript.unquoteIdent(m.group(2))
    ensureTriggers()
    if (stagedTriggers.remove(name.toLowerCase).isDefined) triggersDirty = true
    else if (m.group(1) == null)
      throw new IllegalArgumentException(s"no such trigger: $name")
  }

  private val dropViewRe = "(?is)^\\s*DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(.+?)\\s*$".r
  private def dropView(stmt: String): Unit = {
    val m = dropViewRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse: $stmt"))
    val name = SqlScript.unquoteIdent(m.group(2))
    ensureViews()
    if (stagedViews.remove(name.toLowerCase).isDefined) {
      viewsDirty = true
      // a view's INSTEAD OF triggers drop with it (SQLite's rule, same
      // as a table's triggers on DROP TABLE)
      ensureTriggers()
      val orphaned = stagedTriggers.filter(_._2.table.equalsIgnoreCase(name)).keys.toSeq
      if (orphaned.nonEmpty) {
        orphaned.foreach(stagedTriggers.remove); triggersDirty = true
      }
    }
    else if (tableNames.exists(_.equalsIgnoreCase(name)))
      throw new IllegalArgumentException(s"use DROP TABLE to delete table $name")
    else if (m.group(1) == null)
      throw new IllegalArgumentException(s"no such view: $name")
  }

  private val dropRe = "(?is)^\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?(.+?)\\s*$".r
  private def dropTable(stmt: String): Unit = {
    val m = dropRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse: $stmt"))
    val name = SqlScript.unquoteIdent(m.group(2))
    if (!tableNames.contains(name)) {
      if (isView(name))
        throw new IllegalArgumentException(s"use DROP VIEW to delete view $name")
      if (m.group(1) != null) return
      throw new IllegalArgumentException(s"no such table: $name")
    }
    working.remove(name); dirty -= name; created -= name
    dropped += name
    // SQLite drops a table’s triggers with it (lang_droptable.html);
    // triggers on OTHER tables whose bodies mention this one survive
    // and error at fire time, as SQLite’s do
    ensureTriggers()
    val orphaned = stagedTriggers.filter(_._2.table.equalsIgnoreCase(name)).keys.toSeq
    if (orphaned.nonEmpty) { orphaned.foreach(stagedTriggers.remove); triggersDirty = true }
  }

  private val alterAddRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\S+)\\s+ADD(\\s+COLUMN)?\\s+(.+)$".r
  private val alterRenameRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+(\\S+)\\s+RENAME\\s+TO\\s+(\\S+)\\s*$".r
  /** One column name in any SQLite quoting (a quoted one may hold spaces). */
  private val colNamePat = """("(?:[^"]|"")*"|`(?:[^`]|``)*`|\[[^\]]*\]|[^\s"`\[;]+)"""
  private val alterRenameColRe = ("(?is)^\\s*ALTER\\s+TABLE\\s+(\\S+)\\s+RENAME\\s+(?:COLUMN\\s+)?" +
    colNamePat + "\\s+TO\\s+" + colNamePat + "\\s*;?\\s*$").r
  private val alterDropRe = ("(?is)^\\s*ALTER\\s+TABLE\\s+(\\S+)\\s+DROP(?:\\s+COLUMN)?\\s+" +
    colNamePat + "\\s*;?\\s*$").r
  private def alter(stmt: String): Unit = stmt match {
    case alterRenameRe(from, to) =>
      val (meta, df) = load(SqlScript.unquoteIdent(from))
      val target = SqlScript.unquoteIdent(to)
      working.remove(SqlScript.unquoteIdent(from))
      dirty -= SqlScript.unquoteIdent(from)
      dropped += SqlScript.unquoteIdent(from)
      created += target
      // recorded indexes follow the table — SQLite itself rewrites
      // their sqlite_master sql on RENAME; stale `ON oldname` text
      // would make an exported schema malformed to real SQLite
      stage(target, meta.copy(
        indexes = meta.indexes.map(SqliteDdl.retargetIndex(_, target))), df)
      // triggers follow too (their ON clause; body text stays as
      // written — pre-3.25 SQLite behavior, documented in retargetTrigger)
      ensureTriggers()
      val fromLc = SqlScript.unquoteIdent(from).toLowerCase
      stagedTriggers.keys.toSeq.foreach { k =>
        if (stagedTriggers(k).table.toLowerCase == fromLc) {
          stagedTriggers(k) = SqliteDdl.retargetTrigger(stagedTriggers(k), target)
          triggersDirty = true
        }
      }
    // SQLite 3.25 RENAME COLUMN: the schema records rename with the
    // reference rewrites real SQLite performs on its AST — here at
    // identifier-token level (renameIdentIn) over checks, generated
    // expressions, index DDL, trigger WHEN/bodies, and view texts
    case alterRenameColRe(table0, old0, new0) =>
      val name = SqlScript.unquoteIdent(table0)
      val (meta, df) = load(name)
      val oldReq = SqlScript.unquoteIdent(old0)
      val field = meta.schema.fields.find(_.name.equalsIgnoreCase(oldReq)).getOrElse(
        throw new IllegalArgumentException(s"""no such column: "$oldReq""""))
      val oldName = field.name
      val newName = SqlScript.unquoteIdent(new0)
      if (meta.schema.fields.exists(f =>
          !f.name.equalsIgnoreCase(oldName) && f.name.equalsIgnoreCase(newName)))
        throw new IllegalArgumentException(
          s"error in table $name after rename: duplicate column name: $newName")
      def rn(txt: String) = SqliteDdl.renameIdentIn(txt, oldName, newName)
      def rnCol(c: String) = if (c.equalsIgnoreCase(oldName)) newName else c
      val meta2 = meta.copy(
        schema = StructType(meta.schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f)),
        primaryKey = meta.primaryKey.map(rnCol),
        autoIncrement = meta.autoIncrement.map(rnCol),
        notNull = meta.notNull.map(rnCol),
        defaults = meta.defaults.map { case (k, v) => rnCol(k) -> v },
        uniques = meta.uniques.map(_.map(rnCol)),
        checks = meta.checks.map(c => c.copy(
          label = if (c.label == c.expr) rn(c.expr) else c.label,
          expr = rn(c.expr), ownerCol = rnCol(c.ownerCol))),
        generated = meta.generated.map(g =>
          g.copy(name = rnCol(g.name), expr = rn(g.expr))),
        strictTypes = meta.strictTypes.map { case (k, v) => rnCol(k) -> v },
        // retargetIndex regenerates the catalog sql from the renamed parts
        indexes = meta.indexes.map { ix =>
          if (!ix.columns.exists(_.equalsIgnoreCase(oldName))) ix
          else SqliteDdl.retargetIndex(
            ix.copy(columns = ix.columns.map(rnCol)), ix.table)
        })
      stage(name, meta2, df.withColumnRenamed(oldName, newName))
      ensureTriggers()
      val nameLc = name.toLowerCase
      stagedTriggers.keys.toSeq.foreach { k =>
        val tg = stagedTriggers(k)
        if (tg.table.toLowerCase == nameLc) {
          // retargetTrigger regenerates the sql from the rewritten parts
          stagedTriggers(k) = SqliteDdl.retargetTrigger(tg.copy(
            ofColumns = tg.ofColumns.map(rnCol),
            when = tg.when.map(rn),
            body = tg.body.map(rn)), tg.table)
          triggersDirty = true
        }
      }
      ensureViews()
      stagedViews.keys.toSeq.foreach { k =>
        val v = stagedViews(k)
        // only views that mention BOTH the table and the column — a
        // same-named column of another table must not rewrite
        if (SqliteDdl.referencesIdent(v.sql, oldName) &&
            v.sql.toLowerCase.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(nameLc)}\\b.*")) {
          stagedViews(k) = v.copy(select = rn(v.select), sql = rn(v.sql))
          viewsDirty = true
        }
      }

    // SQLite 3.35 DROP COLUMN with the probed refusal matrix: PK /
    // inline-UNIQUE members refuse at prepare; references from other
    // checks, generated columns, indexes, views, and this table's
    // triggers refuse with the step-time texts; the column's OWN CHECK
    // (and its NOT NULL/DEFAULT/strict records) drop silently with it
    case alterDropRe(table0, col0) =>
      val name = SqlScript.unquoteIdent(table0)
      val (meta, df) = load(name)
      val colReq = SqlScript.unquoteIdent(col0)
      val field = meta.schema.fields.find(_.name.equalsIgnoreCase(colReq)).getOrElse(
        throw new IllegalArgumentException(s"""no such column: "$colReq""""))
      val colName = field.name
      if (meta.schema.fields.length == 1)
        throw new IllegalArgumentException(
          s"""cannot drop column "$colName": no other columns exist""")
      if (meta.primaryKey.exists(_.equalsIgnoreCase(colName)) ||
          meta.autoIncrement.exists(_.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(
          s"""cannot drop PRIMARY KEY column: "$colName"""")
      if (meta.uniques.exists(u => u.size == 1 && u.head.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(
          s"""cannot drop UNIQUE column: "$colName"""")
      def tableErr(): Nothing = throw new IllegalArgumentException(
        s"error in table $name after drop column: no such column: $colName")
      if (meta.uniques.exists(u => u.size > 1 && u.exists(_.equalsIgnoreCase(colName))))
        tableErr()
      if (meta.checks.exists(c => !c.ownerCol.equalsIgnoreCase(colName) &&
          SqliteDdl.referencesIdent(c.expr, colName)))
        tableErr()
      if (meta.generated.exists(g => !g.name.equalsIgnoreCase(colName) &&
          SqliteDdl.referencesIdent(g.expr, colName)))
        tableErr()
      meta.indexes.find(_.columns.exists(_.equalsIgnoreCase(colName))).foreach { ix =>
        throw new IllegalArgumentException(
          s"error in index ${ix.name} after drop column: no such column: $colName")
      }
      ensureViews()
      stagedViews.values.find(v => SqliteDdl.referencesIdent(v.sql, colName) &&
          v.sql.toLowerCase.matches(
            s"(?s).*\\b${java.util.regex.Pattern.quote(name.toLowerCase)}\\b.*"))
        .foreach { v =>
          throw new IllegalArgumentException(
            s"error in view ${v.name} after drop column: no such column: $colName")
        }
      ensureTriggers()
      stagedTriggers.values.find(tg => tg.table.equalsIgnoreCase(name) && {
        val texts = tg.when.toSeq ++ tg.body
        texts.exists(SqliteDdl.referencesIdent(_, colName))
      }).foreach { tg =>
        // echo the reference as written: qualified NEW./OLD. when the
        // body uses it that way (probed message shape)
        val texts = (tg.when.toSeq ++ tg.body).mkString(" ")
        val qual = s"(?i)\\b(NEW|OLD)\\s*\\.\\s*${java.util.regex.Pattern.quote(colName)}\\b".r
          .findFirstMatchIn(SqlLexer.blankLiterals(texts))
          .map(m => s"${m.group(1).toUpperCase}.$colName")
        throw new IllegalArgumentException(
          s"error in trigger ${tg.name} after drop column: " +
            s"no such column: ${qual.getOrElse(colName)}")
      }
      stage(name, meta.copy(
        schema = StructType(meta.schema.fields.filterNot(_.name == colName)),
        notNull = meta.notNull.filterNot(_.equalsIgnoreCase(colName)),
        defaults = meta.defaults.filterNot(_._1.equalsIgnoreCase(colName)),
        checks = meta.checks.filterNot(_.ownerCol.equalsIgnoreCase(colName)),
        generated = meta.generated.filterNot(_.name.equalsIgnoreCase(colName)),
        strictTypes = meta.strictTypes.filterNot(_._1.equalsIgnoreCase(colName))),
        df.drop(colName))

    case alterAddRe(table, _, colDef) =>
      val name = SqlScript.unquoteIdent(table)
      val (meta, df) = load(name)
      val parts = colDef.trim.split("\\s+", 2)
      val colName = SqlScript.unquoteIdent(parts(0))
      val tail0 = if (parts.length > 1) parts(1) else ""
      // STRICT tables validate the new column's datatype with SQLite's
      // add-column error prefix (probed: "error in table t after add
      // column: unknown datatype for t.b: \"VARCHAR\"")
      if (meta.strict) {
        try SqliteDdl.validateStrictType(name, colName,
          SqliteDdl.declaredType(colDef))
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"error in table $name after add column: ${e.getMessage}")
        }
      }
      // a generated clause: VIRTUAL is addable (backfill = evaluation,
      // which stage() performs); STORED is SQLite's own refusal, and
      // the clause text must not leak into affinity detection
      val genAdd = SqliteDdl.generatedClause(colDef)
      genAdd.foreach { case (_, stored) =>
        if (stored) throw new IllegalArgumentException("cannot add a STORED column")
        if (SqliteDdl.defaultClause(colDef).isDefined)
          throw new IllegalArgumentException(
            "cannot use DEFAULT on a generated column")
      }
      val tail = if (genAdd.isEmpty) tail0
        else "(?is)\\b(?:GENERATED\\s+ALWAYS\\s+)?AS\\s*\\(.*$".r
          .replaceAllIn(tail0, "")
      // STRICT ANY: adopt the DEFAULT's class when one is declared
      // (the backfill must store verbatim), else provisional INTEGER
      // adopted from later writes — the same observed-class typing as
      // parseCreateTable
      val colType =
        if (meta.strict && SqliteDdl.declaredType(colDef).trim.equalsIgnoreCase("ANY"))
          SqliteDdl.defaultClause(colDef) match {
            case Some(d) => df.select(dexpr(d)).schema.head.dataType match {
              case IntegerType | ShortType | ByteType | LongType | BooleanType => LongType
              case _: DecimalType | FloatType | DoubleType => DoubleType
              case BinaryType => BinaryType
              case NullType => LongType
              case _ => StringType
            }
            case None => LongType
          }
        else SqliteDdl.affinity(tail)
      // SQLite backfills existing rows with the declared DEFAULT (or
      // NULL when absent) — dropping it would silently NULL-fill rows
      // that queries then expect to hold the default
      // SQLite's own prepare-time refusals for un-backfillable shapes
      if (SqlLexer.hasWord(tail, "UNIQUE"))
        throw new IllegalArgumentException("Cannot add a UNIQUE column")
      if (SqlLexer.hasWord(tail, "PRIMARY", "KEY"))
        throw new IllegalArgumentException("Cannot add a PRIMARY KEY column")
      val dflt = SqliteDdl.defaultClause(colDef)
      val nn = SqlLexer.hasWord(tail, "NOT", "NULL")
      // SQLite's refusal, which since 3.35 applies only when rows exist
      // to backfill (an empty table takes the constraint fine)
      if (nn && dflt.forall(_.equalsIgnoreCase("NULL")) && df.limit(1).count() > 0)
        throw new IllegalArgumentException(
          "Cannot add a NOT NULL column with default value NULL")
      val backfill = dflt match {
        case Some(literal) => dexpr(literal).cast(colType)
        case None => lit(null).cast(colType)
      }
      // an added column may declare its own collation, same as CREATE
      val collMeta = SqliteDdl.collateClause(colDef) match {
        case Some(c) => new org.apache.spark.sql.types.MetadataBuilder()
          .putString(SqliteDdl.CollationKey, c).build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      val newSchema = meta.schema.add(
        StructField(colName, colType, nullable = true, metadata = collMeta))
      // copy, not re-construct: a fresh TableMeta would silently drop
      // the recorded indexes (and now the constraint/default records)
      stage(name, meta.copy(schema = newSchema,
        notNull = if (nn) meta.notNull :+ colName else meta.notNull,
        defaults = meta.defaults ++ dflt.map(colName -> _),
        generated = meta.generated ++ genAdd.map {
          case (expr, stored) => SqliteDdl.GeneratedDef(colName, expr, stored) },
        strictTypes = if (!meta.strict) meta.strictTypes
          else meta.strictTypes +
            (colName -> SqliteDdl.declaredType(colDef).trim.toUpperCase)),
        df.select(col("*"), backfill.as(colName, collMeta)))
    case _ => throw new IllegalArgumentException(s"cannot parse ALTER statement: $stmt")
  }

  // ----------------------------------------------------------------- DML

  private val insertRe =
    ("(?is)^\\s*(?:INSERT(?:\\s+OR\\s+(REPLACE|IGNORE))?|(REPLACE))\\s+INTO\\s+" +
      "([^\\s(]+)\\s*(?:\\(([^)]*)\\))?\\s*(VALUES\\s*(.*)|SELECT\\b.*|DEFAULT\\s+VALUES\\s*;?\\s*)$").r

  /** A column's DEFAULT as an evaluable dialect expression; the
    * `CURRENT_*` keywords map to their SQLite datetime renderings
    * (lang_createtable.html §3.2 — text in UTC, second precision). */
  private def defaultExpr(meta: TableMeta, field: String): Option[String] =
    meta.defaults.collectFirst { case (c, d) if c.equalsIgnoreCase(field) =>
      d.toUpperCase match {
        case "CURRENT_TIMESTAMP" => "datetime('now')"
        case "CURRENT_DATE" => "date('now')"
        case "CURRENT_TIME" => "time('now')"
        case _ => d
      }
    }

  // ------------------------------------------------------------ STRICT

  /** SQLite numeric-text shape (sqlite3AtoF's whole-string parse, the
    * conversion STRICT columns apply to TEXT values): optional sign,
    * digits with optional point, optional exponent. `inf`/`nan`/hex
    * text are NOT numeric to SQLite. */
  private val NumericTextRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  private def declOf(meta: TableMeta, colName: String): String =
    meta.strictTypes.collectFirst {
      case (c, d) if c.equalsIgnoreCase(colName) => d
    }.getOrElse("TEXT")

  /** STRICT ANY columns (stricttables.html §3): SQLite stores each
    * value with its own class, no conversion. Over concretely-typed
    * parquet that becomes OBSERVED-CLASS typing: the column's type
    * adopts what's actually written — directly while the table is
    * empty, else widening INT+REAL → REAL and any TEXT mix → TEXT
    * (the cross-segment lattice; documented deviation: mixed-class
    * columns report the widened typeof). BLOB never mixes — SQLite
    * would keep the classes apart and no text rendering is faithful,
    * so the mix is refused crisply. */
  private def adaptAnyTypes(table: String, meta: TableMeta,
      existing: DataFrame, incoming: DataFrame): (TableMeta, DataFrame) = {
    val anyCols = meta.strictTypes.collect {
      case (c, d) if d.equalsIgnoreCase("ANY") => c }.toSeq
    if (!meta.strict || anyCols.isEmpty) return (meta, existing)
    var schema = meta.schema
    var ex = existing
    lazy val isEmpty = existing.limit(1).count() == 0
    anyCols.foreach { c =>
      val cur = schema.fields.find(_.name.equalsIgnoreCase(c)).get
      incoming.schema.fields.find(_.name.equalsIgnoreCase(c)).foreach { inF =>
        val inT = anyClassOf(inF.dataType, cur.dataType)
        val adopted =
          if (inT == cur.dataType) cur.dataType
          else if (isEmpty) inT
          else (cur.dataType, inT) match {
            case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
            case (BinaryType, _) | (_, BinaryType) =>
              throw new UnsupportedOperationException(
                s"cannot mix BLOB and non-BLOB values in ANY column " +
                  s"$table.${cur.name} (observed-class typing holds one " +
                  "storage class per column)")
            case _ => StringType
          }
        if (adopted != cur.dataType) {
          schema = StructType(schema.fields.map(f =>
            if (f.name.equalsIgnoreCase(c)) f.copy(dataType = adopted) else f))
          ex = ex.select(schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name, f.metadata)).toSeq: _*)
        }
      }
    }
    if (schema eq meta.schema) (meta, existing)
    else (meta.copy(schema = schema), ex)
  }

  /** The storage class an ANY column holds a value of Spark type `dt`
    * as (`cur`, the column's own, for a NULL). */
  private def anyClassOf(dt: DataType, cur: DataType): DataType = dt match {
    case IntegerType | ShortType | ByteType | LongType | BooleanType => LongType
    case _: DecimalType | FloatType | DoubleType => DoubleType
    case BinaryType => BinaryType
    case NullType => cur
    case _ => StringType
  }

  /** The storage class of an external value held on the driver. */
  private def classOfValue(v: Any): DataType = v match {
    case _: java.lang.Long => LongType
    case _: java.lang.Double => DoubleType
    case _: Array[Byte] => BinaryType
    case _ => StringType
  }

  /** An external value of an ANY column cast to `to` as a column cast
    * would (the adoption of rows already held on the driver). */
  private def castValue(v: Any, to: DataType): Any =
    if (v == null || classOfValue(v) == to) v
    else {
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      CatalystTypeConverters.convertToScala(
        Cast(Literal.create(v, classOfValue(v)), to, Some("UTC")).eval(), to)
    }

  /** Storage-class coercion of a value (evaluated Spark type `in`) into
    * a STRICT column declared `declared`: (stored value, per-row
    * violation classifier — NULL when the row is fine, else the value's
    * SQLite type name for the error text). Probed vs sqlite3 3.51
    * (stricttables.html §2): INTEGER/REAL accept numeric TEXT when the
    * conversion is lossless (integer text converts EXACTLY, so a
    * 19-digit id survives — the double round trip is only the fallback
    * for point/exponent forms); TEXT renders numbers (REAL in SQLite's
    * shortest-round-trip form, via [[SqliteTextValue]]); BLOB converts
    * nothing. */
  /** `try_cast`: NULL instead of an ANSI error — the strict gate must
    * CLASSIFY bad values, never let Spark's cast throw first. */
  private def tryCast(c: Column, dt: DataType): Column =
    SqlInternals.column(org.apache.spark.sql.catalyst.expressions.Cast(
      SqlInternals.expression(c), dt, None,
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))

  private def strictCoerce(declared: String, target: DataType,
      in: DataType, v0: Column): (Column, Option[Column]) = {
    // a DECIMAL (Spark's type for a `12.5` literal) is a REAL to
    // SQLite; normalize once so every branch below sees DoubleType
    val (in1, v) = in match {
      case _: DecimalType => (DoubleType, v0.cast(DoubleType))
      case FloatType => (DoubleType, v0.cast(DoubleType))
      case IntegerType | ShortType | ByteType => (LongType, v0.cast(LongType))
      case _ => (in, v0)
    }
    def blobViol(t: DataType) =
      (lit(null).cast(t), Some(when(v.isNotNull, lit("BLOB"))))
    declared match {
      case "INT" | "INTEGER" => in1 match {
        case NullType => (v.cast(LongType), None)
        case BinaryType => blobViol(LongType)
        case DoubleType =>
          val value = tryCast(v, LongType)
          (value, Some(when(v.isNotNull &&
            (isnan(v) || value.isNull ||
              value.cast(DoubleType) =!= v), lit("REAL"))))
        case StringType =>
          val t = trim(v)
          val direct = tryCast(t, LongType) // exact for pure-integer text
          val d = tryCast(t, DoubleType)
          val viaD = tryCast(d, LongType)
          val viol = when(v.isNotNull && !t.rlike(NumericTextRe), lit("TEXT"))
            .when(v.isNotNull && direct.isNull &&
              (viaD.isNull || viaD.cast(DoubleType) =!= d), lit("REAL"))
          (coalesce(direct, viaD), Some(viol))
        case _ => (v.cast(LongType), None)
      }
      case "REAL" => in1 match {
        case NullType => (v.cast(DoubleType), None)
        case BinaryType => blobViol(DoubleType)
        case StringType =>
          (tryCast(trim(v), DoubleType),
            Some(when(v.isNotNull && !trim(v).rlike(NumericTextRe), lit("TEXT"))))
        case _ => (v.cast(DoubleType), None)
      }
      case "TEXT" => in1 match {
        case NullType | StringType => (v.cast(StringType), None)
        case BinaryType => blobViol(StringType)
        case DoubleType =>
          (SqlInternals.column(
            SqliteTextValue(SqlInternals.expression(v))), None)
        case _ => (v.cast(StringType), None)
      }
      case "BLOB" => in1 match {
        case NullType | BinaryType => (v.cast(BinaryType), None)
        case StringType =>
          (lit(null).cast(BinaryType), Some(when(v.isNotNull, lit("TEXT"))))
        case DoubleType =>
          (lit(null).cast(BinaryType), Some(when(v.isNotNull, lit("REAL"))))
        case _ =>
          (lit(null).cast(BinaryType), Some(when(v.isNotNull, lit("INT"))))
      }
      case _ => (v.cast(target), None)
    }
  }

  /** Raise SQLite's `cannot store X value in Y column t.c` on the first
    * violating row of `df`, if any — one bounded job, run only when a
    * column actually needs a per-row check. */
  private def strictProbe(table: String, meta: TableMeta, df: DataFrame,
      viols: Seq[(String, Column)]): Unit = {
    if (viols.isEmpty) return
    // synthetic output names: aliasing a classifier to its column's own
    // name would make the where-clause re-resolve the classifier over
    // the PROJECTED frame (where that name now holds the class string)
    df.select(viols.zipWithIndex.map { case ((_, c), i) => c.as(s"__viol_$i") }: _*)
      .where(viols.indices.map(i => col(s"__viol_$i").isNotNull).reduce(_ || _))
      .limit(1).collect().headOption.foreach { r =>
        val i = (0 until r.length).find(!r.isNullAt(_)).get
        val colName = viols(i)._1
        throw new IllegalArgumentException(
          s"cannot store ${r.getString(i)} value in " +
            s"${declOf(meta, colName)} column $table.$colName")
      }
  }

  /** Align an incoming frame to the table schema: the plain per-column
    * cast for ordinary tables; for STRICT tables the probed storage-
    * class coercions with SQLite's error on a violating row. */
  private def alignToSchema(table: String, meta: TableMeta,
      full: DataFrame): DataFrame = {
    // aliases re-attach the field metadata (a cast is not a
    // NamedExpression, so the collation marker would otherwise drop off
    // the aligned frame — and with it batch-internal nocase conflicts)
    if (!meta.strict)
      return full.select(meta.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata)).toSeq: _*)
    val coerced = meta.schema.fields.map { f =>
      val in = full.schema.fields.find(_.name.equalsIgnoreCase(f.name))
        .map(_.dataType).getOrElse(f.dataType)
      // ANY columns were already adopted/widened to fit the incoming
      // class (adaptAnyTypes) — no storage-class coercion, no probe
      f -> (if (declOf(meta, f.name).equalsIgnoreCase("ANY"))
        (col(f.name).cast(f.dataType), None: Option[Column])
      else strictCoerce(declOf(meta, f.name), f.dataType, in, col(f.name)))
    }
    strictProbe(table, meta, full,
      coerced.collect { case (f, (_, Some(c))) => f.name -> c }.toSeq)
    full.select(coerced.map { case (f, (value, _)) =>
      value.as(f.name, f.metadata) }.toSeq: _*)
  }

  /** INSERT [OR IGNORE | OR REPLACE] … [ON CONFLICT …] [RETURNING …].
    * A plain INSERT that fires no trigger is one union under the
    * statement-time constraint gate; every other INSERT — any conflict
    * clause, any INSERT trigger — takes the one row loop,
    * [[insertRows]], which resolves conflicts the way SQLite does, row
    * by row in arrival order. */
  private def insert(stmt00: String): Unit = {
    val (stmt0, retText) = splitReturning(stmt00)
    val (stmt, upsertClause) = splitOnConflict(stmt0)
    val m = insertRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse INSERT statement: $stmt0"))
    val conflict = Option(m.group(1)).map(_.toUpperCase)
      .orElse(Option(m.group(2)).map(_ => "REPLACE"))
    val table = SqlScript.unquoteIdent(m.group(3))
    var colList = Option(m.group(4)).map(
      s => SqlLexer.splitTopLevel(s).map(SqlScript.unquoteIdent))
    if (isView(table)) {
      // INSTEAD OF INSERT: the trigger programs ARE the write
      if (conflict.isDefined || upsertClause.isDefined)
        throw new UnsupportedOperationException(
          "conflict clauses on a view INSERT are not supported " +
            "(INSTEAD OF trigger programs decide conflict handling)")
      refuseReturningWithTriggers(retText, haveTriggers = true)
      viewInsert(table, colList, m.group(5), m.group(6))
      return
    }
    // fts5 command surface (r15): INSERT INTO t(t[, rowid, cols…])
    // VALUES('delete'|'delete-all'|'rebuild'|'optimize'|…) — the
    // hidden column named after the table routes to the command
    // handler, never to storage (fts5.html §7/§4.4.3)
    val ftsDef = ftsDefOf(table)
    if (ftsDef.isDefined &&
        colList.exists(_.exists(_.equalsIgnoreCase(table)))) {
      if (conflict.isDefined || upsertClause.isDefined || retText.isDefined)
        throw new UnsupportedOperationException(
          "conflict clauses and RETURNING do not apply to fts5 commands")
      ftsCommand(table, ftsDef.get, colList.get, m.group(5), m.group(6))
      return
    }
    // content= fts tables (r15): the rowid aliases address the hidden
    // __rowid backing column; a bare VALUES list addresses the
    // DECLARED columns only (the rowid auto-assigns, probed)
    if (ftsDef.exists(_.hasRowids))
      colList = colList
        .map(_.map(c => if (isRowidAlias(c)) Fts5.RowidCol else c))
        .orElse(Some(ftsDef.get.columns))
    // meta0/existing0 are PRE-adaptation: STRICT ANY columns may adopt
    // the incoming frame's storage classes below (adaptAnyTypes), after
    // which `meta`/`existing` carry the adapted schema for the rest of
    // the statement
    val (meta0, existing0) = load(table)
    // SQLite's prepare-time refusal (probed); a bare VALUES list takes
    // values for the BASE columns only ("table t has 3 columns")
    colList.foreach(_.foreach { c =>
      if (meta0.generated.exists(_.name.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"""cannot INSERT into generated column "$c"""")
    })
    val baseCols: Seq[String] = meta0.schema.fieldNames.toSeq
      .filterNot(c => meta0.generated.exists(_.name.equalsIgnoreCase(c)))

    val body = m.group(5)
    val incoming: DataFrame =
      if (body.toUpperCase.matches("(?s)DEFAULT\\s+VALUES\\s*;?\\s*")) {
        // INSERT INTO t DEFAULT VALUES: one row, every column its
        // default (the rowid alias auto-assigns through the
        // omitted-column completion below)
        require(colList.isEmpty,
          s"cannot combine a column list with DEFAULT VALUES: $stmt0")
        val cols = baseCols
          .filterNot(f => meta0.autoIncrement.exists(_.equalsIgnoreCase(f)))
        colList = Some(cols)
        if (cols.isEmpty) // rowid-alias-only table: a bare one-row frame
          runSelect("SELECT NULL AS __dv").drop("__dv")
        else runSelect("SELECT " + cols.map(c =>
          s"${defaultExpr(meta0, c).getOrElse("NULL")} AS `$c`").mkString(", "))
      } else if (body.toUpperCase.startsWith("VALUES"))
        valuesFrame(m.group(6), colList.getOrElse(baseCols))
      else {
        val df = runSelect(body)
        val targetCols = colList.getOrElse(baseCols)
        require(df.columns.length == targetCols.length,
          s"INSERT arity mismatch: ${df.columns.length} vs ${targetCols.length}")
        df.toDF(targetCols: _*)
      }

    // complete missing columns (declared DEFAULT, else NULL — SQLite's
    // omitted-column rule), then auto-assign the rowid-style column if
    // it was omitted (safe: single writer per segment)
    var full = incoming
    meta0.schema.fieldNames
      .filterNot(f => full.columns.exists(_.equalsIgnoreCase(f)))
      .foreach { missing0 =>
        full = full.withColumn(missing0,
          defaultExpr(meta0, missing0).map(dexpr).getOrElse(lit(null)))
      }
    val aiAssigned: Option[String] = meta0.autoIncrement.filter(ai =>
      colList.exists(cl => !cl.exists(_.equalsIgnoreCase(ai))))
    val aiBase: Option[Long] = aiAssigned.map { _ =>
      val maxRow = existing0.agg(max(col(meta0.autoIncrement.get))).head()
      if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    }
    aiAssigned.foreach { ai =>
      full = full.withColumn(ai,
        lit(aiBase.get) + row_number().over(Window.orderBy(monotonically_increasing_id())))
    }
    // generated values derive AFTER completion and rowid assignment so
    // their expressions can reference defaults and the rowid alias;
    // stage() re-derives too, but trigger images and RETURNING read
    // the pre-stage frame
    if (meta0.generated.nonEmpty)
      full = GeneratedColumns.recompute(spark, full, meta0.schema, meta0.generated)
    // STRICT ANY adoption: from here on the statement runs against the
    // (possibly) class-adapted schema
    val (meta, existing) = adaptAnyTypes(table, meta0, existing0, full)
    val aligned0 = alignToSchema(table, meta, full)
    if (conflict.isDefined && upsertClause.isDefined)
      // SQLite's grammar rejects the combination too
      throw new IllegalArgumentException(
        s"cannot combine INSERT OR ... with an ON CONFLICT clause: $stmt0")
    val insTrigs = activeTriggers(table, "INSERT")
    if (conflict.isEmpty && upsertClause.isEmpty && insTrigs.isEmpty) {
      // a plain INSERT: one union, gated at statement time (SQLite's
      // timing) — a commit-only check can be WASHED by a later DELETE /
      // UPDATE / ALTER in the same script (fuzz-caught)
      val merged = existing.unionByName(aligned0)
      enforceUnique(table, meta, merged)
      stage(table, meta, merged)
      retText.foreach(t => applyReturning(aligned0, meta, t))
      return
    }
    val (metaS, affected) = insertRows(table, meta, existing, aligned0,
      conflict, upsertClause, insTrigs, aiAssigned, aiBase, retText)
    retText.foreach(t => applyReturning(localDf(metaS.schema, affected), metaS, t))
  }

  /** fts5 special INSERT commands (fts5.html §4.4.3/§7): 'delete'
    * (remove one rowid from a content= index), 'delete-all',
    * 'rebuild' (re-derive an external-content index from its content
    * table), and the maintenance/config commands this engine accepts
    * as no-ops. Error texts are real fts5's (probed on the sandbox
    * sqlite3 3.51). */
  private def ftsCommand(table: String, fd: Fts5.FtsTableDef,
      cols: Seq[String], body: String, tuples0: String): Unit = {
    val targetCols = cols.map(c => if (isRowidAlias(c)) Fts5.RowidCol else c)
    val frames: Seq[DataFrame] =
      if (body.toUpperCase.startsWith("VALUES")) {
        SqlLexer.splitTopLevel(tuples0).map { t =>
          val inner = t.trim.stripPrefix("(").stripSuffix(")")
          val exprs = SqlLexer.splitTopLevel(inner)
          require(exprs.length == targetCols.length,
            s"INSERT arity mismatch: ${exprs.length} values for " +
              s"${targetCols.length} columns")
          runSelect("SELECT " + exprs.zip(targetCols)
            .map { case (e, c) => s"$e AS `$c`" }.mkString(", "))
        }
      } else {
        val df = runSelect(body)
        require(df.columns.length == targetCols.length,
          s"INSERT arity mismatch: ${df.columns.length} vs ${targetCols.length}")
        Seq(df.toDF(targetCols: _*))
      }
    val cmdIdx = targetCols.indexWhere(_.equalsIgnoreCase(table))
    frames.foreach { f =>
      // streamed, uncapped (r17) — bulk 'delete' maintenance over a
      // SELECT source is a legal fts5 shape
      streamRows(f).foreach { row =>
        val cmd =
          if (row.isNullAt(cmdIdx)) "" else row.get(cmdIdx).toString
        applyFtsCommand(table, fd, cmd, targetCols, row)
      }
    }
  }

  private def applyFtsCommand(table: String, fd: Fts5.FtsTableDef,
      cmd: String, cols: Seq[String], row: org.apache.spark.sql.Row): Unit = {
    // real fts5's catch-all for malformed commands (probed: 'delete'
    // on a plain content table, unknown command names)
    def logicError(): Nothing =
      throw new IllegalArgumentException("SQL logic error")
    val (meta, df) = load(table)
    cmd match {
      case "delete" =>
        // probed: real fts5's own refusal under contentless_delete=1
        if (fd.contentlessDelete)
          throw new IllegalArgumentException(
            "'delete' may not be used with a contentless_delete=1 table")
        if (!fd.hasRowids) logicError()
        val ridIdx = cols.indexWhere(_.equalsIgnoreCase(Fts5.RowidCol))
        if (ridIdx < 0 || row.isNullAt(ridIdx)) logicError()
        val rid = row.get(ridIdx) match {
          case l: java.lang.Number => l.longValue()
          case s: String =>
            try s.trim.toLong catch { case _: Exception => logicError() }
          case _ => logicError()
        }
        // real fts5 takes the OLD column values to unindex; removal
        // here is exact by rowid, so they are accepted and unused
        stage(table, meta, df.where(!(col(Fts5.RowidCol) === rid)))
      case "delete-all" =>
        if (!fd.hasRowids)
          throw new IllegalArgumentException(
            "'delete-all' may only be used with a contentless or external " +
              "content fts5 table")
        stage(table, meta, df.limit(0))
      case "rebuild" =>
        if (fd.contentless)
          throw new IllegalArgumentException(
            "'rebuild' may not be used with a contentless fts5 table")
        else if (fd.externalContent) {
          val src = tableNames.find(_.equalsIgnoreCase(fd.content.get))
            .getOrElse(throw new IllegalArgumentException(
              s"no such table: ${fd.content.get}"))
          val (srcMeta, srcDf) = load(src)
          val ridCol = resolveContentRowid(fd, src, srcMeta)
          val vals = fd.columns.map { c =>
            val f = srcMeta.schema.fieldNames
              .find(_.equalsIgnoreCase(c)).getOrElse(
                throw new IllegalArgumentException(s"no such column: $c"))
            srcDf(f).cast("string").as(c)
          }
          stage(table, meta, srcDf.select(
            srcDf(ridCol).cast("long").as(Fts5.RowidCol) +: vals: _*))
        } // plain content table: the content IS the index — no-op
      case "optimize" | "merge" | "automerge" | "usermerge" | "crisismerge"
          | "pgsz" | "flush" | "integrity-check" | "rank"
          | "secure-delete" => () // maintenance/config no-ops here
      case _ => logicError()
    }
  }

  /** Resolve an fts5 `content_rowid=` against the content table: a
    * named column, or the table's INTEGER PRIMARY KEY rowid alias for
    * the default `rowid`. */
  private def resolveContentRowid(fd: Fts5.FtsTableDef, src: String,
      srcMeta: TableMeta): String =
    if (isRowidAlias(fd.contentRowid))
      srcMeta.autoIncrement.getOrElse(
        throw new UnsupportedOperationException(
          s"fts5 content table $src has no INTEGER PRIMARY KEY rowid " +
            "alias: this engine addresses external content by a visible " +
            "column — declare content_rowid=<column> or give the content " +
            "table an INTEGER PRIMARY KEY"))
    else srcMeta.schema.fieldNames
      .find(_.equalsIgnoreCase(fd.contentRowid)).getOrElse(
        throw new IllegalArgumentException(
          s"no such column: ${fd.contentRowid}"))

  /** Resolved unique key sets in SQLite's constraint order: PRIMARY
    * KEY, declared UNIQUEs, unique indexes. */
  private def uniqueKeySets(meta: TableMeta): Seq[Seq[String]] = {
    val fields = meta.schema.fieldNames
    def resolve(cols: Seq[String]): Option[Seq[String]] = {
      val rs = cols.map(c => fields.find(_.equalsIgnoreCase(c)))
      if (rs.nonEmpty && rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
    }
    ((if (meta.primaryKey.nonEmpty) Seq(meta.primaryKey.toSeq) else Nil) ++
      meta.uniques ++ meta.indexes.filter(_.unique).map(_.columns))
      .flatMap(resolve).distinct
  }

  /** Statement-time NOT NULL/CHECK gate on a statement's new rows (one
    * bounded aggregate job), for the set-based paths: a commit-time
    * gate alone could be washed by a later statement of the script. */
  private def enforceIncomingConstraints(table: String, meta: TableMeta,
      rows: DataFrame): Unit = {
    val fields = meta.schema.fieldNames
    val nn = meta.notNull.flatMap(c => fields.find(_.equalsIgnoreCase(c)))
    if (nn.isEmpty && meta.checks.isEmpty) return
    val aggs = nn.zipWithIndex.map { case (c, i) =>
      count(when(col(c).isNull, 1)).as(s"__nn$i") } ++
      meta.checks.zipWithIndex.map { case (c, i) =>
        count(when(!coalesce(checkPred(meta, c.expr), lit(true)), 1)).as(s"__ck$i") }
    val r = collated(rows.select(aggs: _*)).head()
    nn.zipWithIndex.foreach { case (c, i) =>
      if (r.getLong(i) > 0) throw new IllegalArgumentException(
        s"NOT NULL constraint failed: $table.$c")
    }
    meta.checks.zipWithIndex.foreach { case (c, i) =>
      if (r.getLong(nn.length + i) > 0) throw new IllegalArgumentException(
        s"CHECK constraint failed: ${c.label}")
    }
  }

  /** Find the last top-level `ON CONFLICT` (outside quotes/parens) and
    * split the statement there. Returns (insert-part, Some(clause)). */
  private def splitOnConflict(s: String): (String, Option[String]) = {
    val toks = SqlLexer.tokens(s)
    val at = toks.indices.lastIndexWhere(i => toks(i).depth == 0 && toks(i).is("ON") &&
      toks.lift(i + 1).exists(_.is("CONFLICT")))
    if (at < 0) (s, None)
    else (s.substring(0, toks(at).start), Some(s.substring(toks(at).start)))
  }

  /** The SQLite 3.24 upsert (lang_upsert.html): `ON CONFLICT [(cols)]
    * DO NOTHING | DO UPDATE SET ... [WHERE ...]`. The target names the
    * PRIMARY KEY or a recorded UNIQUE ([[upsertKeyCols]]); SET/WHERE
    * read the conflicting row as bare columns and the incoming row as
    * `excluded.*`; [[insertRows]] resolves it row by row. */
  private val onConflictRe =
    """(?is)^ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+(NOTHING|UPDATE\s+SET\s+(.+))\s*$""".r

  /** Rewrite `excluded.<ident>` references (any SQLite ident quoting) to
    * the upsert probe's `__exc_<ident>` columns. */
  private def rewriteExcluded(s: String): String =
    WriteTxn.rewriteRowRefs(s, Set("excluded"), (_, name) => s"`__exc_$name`")

  /** The predicate of a DELETE tail `[WHERE pred]`: None when the tail
    * is empty, refused when it is anything but a WHERE clause. */
  private def deleteWhere(rest: String, stmt: String): Option[String] =
    SqlLexer.tokens(rest).headOption.map { t =>
      require(t.is("WHERE") && rest.length > t.end, s"cannot parse DELETE statement: $stmt")
      rest.substring(t.end)
    }

  private val updateHeadRe =
    "(?is)^\\s*UPDATE\\s+(\\S+)(?:\\s+AS\\s+(\\S+))?\\s+SET\\b\\s*(.*)$".r
  private def update(stmt0: String): Unit = {
    val (stmt, retText) = splitReturning(stmt0)
    val m = updateHeadRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse UPDATE statement: $stmt"))
    val table = SqlScript.unquoteIdent(m.group(1))
    val alias = Option(m.group(2)).map(SqlScript.unquoteIdent)
    if (isView(table)) {
      refuseReturningWithTriggers(retText, haveTriggers = true)
      viewUpdate(table, m.group(3))
      return
    }
    // content= fts tables (r15): contentless refuses like real fts5;
    // external content updates the INDEX state (backing), rowid
    // aliases addressing the hidden __rowid column — real fts5's
    // UPDATE-on-synced-table semantics (the content table is NOT
    // touched there either)
    val ftsDefU = ftsDefOf(table)
    if (ftsDefU.exists(fd => fd.contentless && !fd.contentlessDelete))
      throw new IllegalArgumentException(
        s"cannot UPDATE contentless fts5 table: $table")
    val (metaL, dfL0) = load(table)
    // expose the table (or alias) name for self-qualified references —
    // sqlite's `UPDATE t … WHERE t.id = 1` / `a.t.id` after the db
    // qualifier strips (r17)
    val dfL = dfL0.alias(alias.getOrElse(table))
    val body0 = rewriteDqs(m.group(3),
      metaL.schema.fieldNames.toSet + table ++ alias)
    val body =
      if (ftsDefU.exists(_.hasRowids))
        rewriteFtsRowids(body0, Set(table) ++ alias)
      else body0
    val fromAt = SqlLexer.firstTopLevel(body, "FROM")
    if (fromAt >= 0) { updateFrom(table, alias, metaL, dfL, body, fromAt, retText); return }
    val whereAt = SqlLexer.lastTopLevel(body, "WHERE")
    val (setPart, predPart) =
      if (whereAt < 0) (body, None)
      else (body.substring(0, whereAt), Some(body.substring(whereAt + 5)))
    val pred = predPart.map(dpred).getOrElse(lit(true))
    val rawAssigns: Seq[(StructField, Column)] =
      SqlLexer.splitTopLevel(setPart).map { assignment =>
        val eq = topLevelEq(assignment)
        val colName = SqlScript.unquoteIdent(assignment.substring(0, eq).trim)
        val valueExpr = dexpr(assignment.substring(eq + 1).trim)
        requireNotGenerated(metaL, colName, "UPDATE")
        val field = metaL.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $colName"))
        field -> valueExpr
      }
    // STRICT ANY adoption for SET targets: an assigned value of a new
    // storage class adapts the column type before coercion — but only
    // when the predicate actually selects a row (ADVICE r10: `UPDATE t
    // SET a='x' WHERE 1=0` must not retype the column; sqlite3 changes
    // nothing). One bounded limit(1) job, ANY-SET path only.
    val (meta, df) = {
      val anyAssigns = rawAssigns.filter { case (f, _) =>
        metaL.strict && declOf(metaL, f.name).equalsIgnoreCase("ANY") }
      if (anyAssigns.isEmpty) (metaL, dfL)
      else if (dfL.where(coalesce(pred, lit(false))).limit(1).count() == 0)
        (metaL, dfL)
      else adaptAnyTypes(table, metaL, dfL,
        dfL.select(anyAssigns.map { case (f, v) => v.as(f.name) }: _*))
    }
    // STRICT: coerce each SET value's storage class, probing only the
    // rows the predicate selects (SQLite checks at the UPDATE step)
    val coercedAssigns: Seq[(StructField, (Column, Option[Column]))] =
      rawAssigns.map { case (f0, v) =>
        // re-resolve: ANY adoption may have retyped the field
        val f = meta.schema.fields.find(_.name.equalsIgnoreCase(f0.name)).get
        if (!meta.strict) f -> (v.cast(f.dataType), None)
        else if (declOf(meta, f.name).equalsIgnoreCase("ANY"))
          f -> (v.cast(f.dataType), None)
        else {
          val in = df.select(v).schema.head.dataType
          f -> strictCoerce(declOf(meta, f.name), f.dataType, in, v)
        }
      }
    if (meta.strict)
      strictProbe(table, meta, df.where(coalesce(pred, lit(false))),
        coercedAssigns.collect { case (f, (_, Some(c))) => f.name -> c })
    val assignments: Map[String, Column] =
      coercedAssigns.map { case (f, (v, _)) => f.name -> v }.toMap
    val trigs = activeTriggers(table, "UPDATE", Some(assignments.keys.toSeq))
    if (trigs.nonEmpty) {
      refuseReturningWithTriggers(retText, haveTriggers = true)
      updateWithTriggers(table, meta, df, assignments, pred, trigs)
      return
    }
    // single projection: WHERE and every RHS evaluate against the
    // pre-statement row state (SQLite semantics) — sequential
    // withColumn would let later assignments see earlier ones and
    // re-evaluate the predicate against already-updated columns
    val out = df.select(meta.schema.fields.map { f =>
      assignments.get(f.name)
        .map(v => when(pred, v).otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }.toSeq: _*)
    // statement-time constraint gate: SQLite errors at the UPDATE, and
    // a commit-only check could be washed by a later statement
    // (fuzz-caught); restricted to constraints the assigned columns
    // can break (r18) — zero jobs when none intersect
    enforceUniqueForUpdate(table, meta, out, assignments.keys)
    stage(table, meta, out)
    retText.foreach { t =>
      // post-update image of the rows the predicate selected
      val affected = df.where(coalesce(pred, lit(false)))
        .select(meta.schema.fields.map { f =>
          assignments.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
        }.toSeq: _*)
      applyReturning(affected, meta, t)
    }
  }

  /** SQLite 3.33's `UPDATE target SET … FROM from-list WHERE join-pred`
    * (lang_update.html §2, modeled on the Postgres form): the target is
    * joined against the FROM relations; every target row with at least
    * one join match is updated ONCE, taking assignment values from one
    * matching row (SQLite leaves which unspecified when several match;
    * here: first by join order, deterministically). Target rows with no
    * match are untouched. SET expressions and the WHERE see the
    * pre-statement target row plus the FROM columns.
    *
    * Shape at scale: one dialect-SQL join (Catalyst plans it — broadcast
    * for small FROM sides), a per-rowid first-match window, and a rid
    * left-join back onto the target; nothing collects except the
    * row-at-a-time trigger path (cap-bounded, as all trigger firing). */
  private def updateFrom(table: String, alias: Option[String], meta0: TableMeta,
      df0: DataFrame, body: String, fromAt: Int,
      retText: Option[String] = None): Unit = {
    val setPart = body.substring(0, fromAt)
    val rest = body.substring(fromAt + 4)
    val whereAt = SqlLexer.lastTopLevel(rest, "WHERE")
    val (fromText, predText) =
      if (whereAt < 0) (rest.trim.stripSuffix(";").trim, None)
      else (rest.substring(0, whereAt),
            Some(rest.substring(whereAt + 5).trim.stripSuffix(";").trim))
    val assigns0: Seq[(StructField, String)] =
      SqlLexer.splitTopLevel(setPart).map { assignment =>
        val eq = topLevelEq(assignment)
        val colName = SqlScript.unquoteIdent(assignment.substring(0, eq).trim)
        requireNotGenerated(meta0, colName, "UPDATE")
        val field = meta0.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $colName"))
        field -> assignment.substring(eq + 1).trim
      }
    val rid = "__uf_rid"
    val tName = alias.getOrElse(table)
    val sel = new StringBuilder("SELECT ")
    sel ++= s"`$tName`.`$rid` AS `$rid`"
    assigns0.zipWithIndex.foreach { case ((_, rhs), i) =>
      sel ++= s", ($rhs) AS `__uf_v$i`"
    }
    sel ++= s" FROM `$tName`, "
    sel ++= fromText
    predText.foreach(p => sel ++= s" WHERE $p")
    // STRICT ANY adoption for SET targets fed from the FROM join
    // (ADVICE r10 medium): without it, strictCoerce's ANY fallback is a
    // plain cast that silently stores NULL for a new storage class.
    // Probe join runs only on the ANY-SET path, and adoption only when
    // some target row actually matches.
    val anyIdx = assigns0.zipWithIndex.collect {
      case ((f, _), i)
          if meta0.strict && declOf(meta0, f.name).equalsIgnoreCase("ANY") =>
        (f, i)
    }
    val (meta, df) =
      if (anyIdx.isEmpty) (meta0, df0)
      else {
        val probe = runSelect(sel.toString, overrides =
          Map(tName -> df0.withColumn(rid, monotonically_increasing_id())))
        val incoming = probe.select(
          anyIdx.map { case (f, i) => col(s"__uf_v$i").as(f.name) }: _*)
        if (incoming.limit(1).count() == 0) (meta0, df0)
        else adaptAnyTypes(table, meta0, df0, incoming)
      }
    // re-resolve: adoption may have retyped assigned fields
    val assigns: Seq[(StructField, String)] = assigns0.map { case (f0, rhs) =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(f0.name)).get -> rhs
    }
    // rid-tagged pre-statement target, pinned so every later evaluation
    // sees the same row ids
    val tagged = tagRows(df, rid)
    val matches0 = runSelect(sel.toString, overrides = Map(tName -> tagged))
    // STRICT: probe+coerce the assignment values taken from each
    // target row's first matching join row; ANY columns store the
    // (possibly widened) adopted class directly
    val coerced: Seq[(Column, Option[Column])] =
      assigns.zipWithIndex.map { case ((f, _), i) =>
        if (!meta.strict) (col(s"__uf_v$i").cast(f.dataType), None)
        else if (declOf(meta, f.name).equalsIgnoreCase("ANY"))
          (col(s"__uf_v$i").cast(f.dataType), None)
        else {
          val in = matches0.schema.fields.find(_.name == s"__uf_v$i").get.dataType
          strictCoerce(declOf(meta, f.name), f.dataType, in, col(s"__uf_v$i"))
        }
      }
    val firstMatch0 = matches0
      .withColumn("__uf_seq", monotonically_increasing_id())
      .withColumn("__uf_rn", row_number().over(
        Window.partitionBy(col(rid)).orderBy(col("__uf_seq"))))
      .where(col("__uf_rn") === 1)
    if (meta.strict)
      strictProbe(table, meta, firstMatch0,
        assigns.zip(coerced).collect {
          case (((f, _)), (_, Some(c))) => f.name -> c
        })
    val firstMatch = firstMatch0
      .select((col(rid) +: coerced.zipWithIndex.map { case ((v, _), i) =>
        v.as(s"__uf_v$i")
      }) :+ lit(true).as("__uf_hit"): _*)
    val trigs = activeTriggers(table, "UPDATE", Some(assigns.map(_._1.name)))
    if (trigs.nonEmpty) {
      refuseReturningWithTriggers(retText, haveTriggers = true)
      // per-row firing, as for plain UPDATE with triggers: OLD = the
      // pre-statement image, NEW = assignments from the matched row
      val fields = meta.schema.fields
      val nF = fields.length
      val ridSchema = org.apache.spark.sql.types.StructType(
        fields :+ org.apache.spark.sql.types.StructField(
          rid, org.apache.spark.sql.types.LongType, nullable = false))
      val hit = tagged.join(firstMatch.drop("__uf_hit"), Seq(rid), "inner")
      val imgSel = (fields.map(f => col(f.name).as(s"__o_${f.name}")) ++
        fields.map { f =>
          assigns.indexWhere(_._1.name == f.name) match {
            case -1 => col(f.name).as(s"__n_${f.name}")
            case i => col(s"__uf_v$i").as(s"__n_${f.name}")
          }
        }) :+ col(rid)
      // fire in SQLite's rowid scan order: the rowid-alias value when
      // the table has one, else the rid (original row order — parquet
      // file packing can reorder partitions, so a bare collect is
      // partition-arbitrary)
      val aiIdx = meta.autoIncrement
        .map(ai => fields.indexWhere(_.name.equalsIgnoreCase(ai))).filter(_ >= 0)
      val ordKey: Column = aiIdx match {
        case Some(i) =>
          coalesce(col(s"__o_${fields(i).name}").cast("long"), col(rid))
        case None => col(rid)
      }
      val rows = streamRows(hit.select(imgSel.toSeq: _*).orderBy(ordKey))
      rowTriggerLoop(table, meta, tagged, rid, trigs, rows.map { r =>
        val oldV = (0 until nF).map(r.get(_)).toIndexedSeq
        val newV = (nF until 2 * nF).map(r.get(_)).toIndexedSeq
        (r.getLong(2 * nF), oldV, Some(newV))
      }, ridSchema)
      return
    }
    val joined = tagged.join(firstMatch, Seq(rid), "left")
    // statement-time NOT NULL/CHECK on the post-image of matched rows
    // (same rule as plain UPDATE)
    enforceIncomingConstraints(table, meta,
      joined.where(coalesce(col("__uf_hit"), lit(false)))
        .select(meta.schema.fields.map { f =>
          assigns.indexWhere(_._1.name == f.name) match {
            case -1 => col(f.name)
            case i => col(s"__uf_v$i").as(f.name)
          }
        }.toSeq: _*))
    val out = joined.select(meta.schema.fields.map { f =>
      assigns.indexWhere(_._1.name == f.name) match {
        case -1 => col(f.name)
        case i => when(coalesce(col("__uf_hit"), lit(false)), col(s"__uf_v$i"))
          .otherwise(col(f.name)).as(f.name)
      }
    }.toSeq: _*)
    // statement-time constraint gate, as for plain UPDATE — restricted
    // to constraints the assigned columns can break (r18)
    enforceUniqueForUpdate(table, meta, out, assigns.map(_._1.name))
    stage(table, meta, out)
    retText.foreach { t =>
      val affected = joined.where(coalesce(col("__uf_hit"), lit(false)))
        .select(meta.schema.fields.map { f =>
          assigns.indexWhere(_._1.name == f.name) match {
            case -1 => col(f.name)
            case i => col(s"__uf_v$i").as(f.name)
          }
        }.toSeq: _*)
      applyReturning(affected, meta, t)
    }
  }

  /** Offset of the first top-level assignment `=` (not part of `==`,
    * `<=`, `>=`, `!=`). */
  private def topLevelEq(s: String): Int = {
    val toks = SqlLexer.tokens(s)
    def glued(a: Int, b: Int) = toks(a).end == toks(b).start
    toks.indices.find { i =>
      toks(i).depth == 0 && toks(i).isPunct('=') &&
        !(i > 0 && glued(i - 1, i) && "<>!=".contains(toks(i - 1).text)) &&
        !(i + 1 < toks.length && glued(i, i + 1) && toks(i + 1).isPunct('='))
    }.map(toks(_).start).getOrElse(
      throw new IllegalArgumentException(s"cannot parse assignment: $s"))
  }

  private val deleteHeadRe = "(?is)^\\s*DELETE\\s+FROM\\s+(\\S+)\\s*(.*)$".r
  private def delete(stmt0: String): Unit = {
    val (stmt, retText) = splitReturning(stmt0)
    val m = deleteHeadRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse DELETE statement: $stmt"))
    val table = SqlScript.unquoteIdent(m.group(1))
    if (isView(table)) {
      refuseReturningWithTriggers(retText, haveTriggers = true)
      viewDelete(table, m.group(2).trim)
      return
    }
    // content= fts tables (r15): see update()'s note
    val ftsDefD = ftsDefOf(table)
    if (ftsDefD.exists(fd => fd.contentless && !fd.contentlessDelete))
      throw new IllegalArgumentException(
        s"cannot DELETE from contentless fts5 table: $table")
    val (meta, df0) = load(table)
    // expose the table name for self-qualified references (see update)
    val df = df0.alias(table)
    val rest0 = rewriteDqs(m.group(2).trim, meta.schema.fieldNames.toSet + table)
    val rest =
      if (ftsDefD.exists(_.hasRowids))
        rewriteFtsRowids(rest0, Set(table))
      else rest0
    val delPred: Column = deleteWhere(rest, stmt)
      .map(p => coalesce(dpred(p), lit(false))).getOrElse(lit(true))
    val trigs = activeTriggers(table, "DELETE")
    if (trigs.nonEmpty) {
      refuseReturningWithTriggers(retText, haveTriggers = true)
      deleteWithTriggers(table, meta, df, delPred, trigs)
      return
    }
    val out = if (rest.isEmpty) df.limit(0) else df.where(!delPred)
    stage(table, meta, out)
    // RETURNING on DELETE reports the OLD image of each removed row
    retText.foreach(t => applyReturning(df.where(delPred), meta, t))
  }


  // ------------------------------------------------ INSTEAD OF (views)
  // DML on a view fires its INSTEAD OF trigger programs per affected
  // row and performs NO base write — the programs ARE the write
  // (lang_createtrigger.html §4; behaviors probed on 3.51: a view DML
  // with no matching trigger for its event — or an UPDATE whose SET
  // columns miss every trigger's OF filter — errors "cannot modify v
  // because it is a view").

  /** The view's column names and current frame through the txn's
    * staged state. */
  private def viewFrame(view: String): (Seq[String], DataFrame) = {
    val df = runSelect(s"SELECT * FROM `$view`")
    (df.schema.fieldNames.toSeq, df)
  }

  private def insteadOfTriggers(view: String, event: String,
      setCols: Option[Seq[String]] = None): Seq[SqliteDdl.TriggerDef] = {
    ensureTriggers()
    stagedTriggers.values.toSeq.reverse
      .filter(t => t.timing == "INSTEAD OF" &&
        t.table.equalsIgnoreCase(view) && t.event == event)
      .filter(t => t.ofColumns.isEmpty ||
        setCols.forall(sc => t.ofColumns.exists(oc => sc.exists(_.equalsIgnoreCase(oc)))))
      .filterNot(t => firingStack.contains(t.name.toLowerCase))
  }

  /** Fire programs per row with NEW./OLD. bound to VIEW columns;
    * RAISE(IGNORE) abandons the row's remaining triggers, the same
    * convention as the table loops. */
  private def fireInsteadOf(trigs: Seq[SqliteDdl.TriggerDef], cols: Seq[String],
      changes: Iterator[(Option[IndexedSeq[Any]], Option[IndexedSeq[Any]])]): Unit =
    changes.foreach { case (oldV, newV) =>
      def resolve(kw: String, c: String): String = {
        val i = cols.indexWhere(_.equalsIgnoreCase(c))
        val img = if (kw == "old") oldV else newV
        if (i < 0 || img.isEmpty)
          throw new IllegalArgumentException(s"no such column: $kw.$c")
        sqliteLiteral(img.get(i))
      }
      var ignored = false
      trigs.foreach(t => if (!ignored && !runTriggerProgram(t, resolve)) ignored = true)
    }

  /** The rows of an `INSERT … VALUES` list: each tuple evaluates as a
    * SELECT, so arbitrary expressions work (incl. the client's
    * datetime('<iso>') literals, UDF calls that Spark's inline VALUES
    * tables refuse), and the N-way UNION ALL folds into one local
    * relation — one partition instead of N for every later job. The
    * tuples parse ValuesChunk at a time: Spark's parser recurses once
    * per UNION ALL, and a list of ~1,500 tuples overflows its stack. */
  private def valuesFrame(tuplesText: String, targetCols: Seq[String]): DataFrame = {
    val selects = SqlLexer.splitTopLevel(tuplesText).map { t =>
      val exprs = SqlLexer.splitTopLevel(t.trim.stripPrefix("(").stripSuffix(")"))
      require(exprs.length == targetCols.length,
        s"INSERT arity mismatch: ${exprs.length} values for ${targetCols.length} columns")
      "SELECT " + exprs.zip(targetCols)
        .map { case (e, c) => s"$e AS `$c`" }.mkString(", ")
    }
    val df = withRelationsVisible() {
      selects.grouped(WriteTxn.ValuesChunk)
        .map(chunk => runSelect(chunk.mkString(" UNION ALL "))).reduce(_ union _)
    }
    SqlInternals.toLocal(df).getOrElse(df)
  }

  private def viewInsert(view: String, colList: Option[Seq[String]],
      body: String, valuesTail: String): Unit = {
    val trigs = insteadOfTriggers(view, "INSERT")
    if (trigs.isEmpty)
      throw new IllegalArgumentException(s"cannot modify $view because it is a view")
    val (viewCols, _) = viewFrame(view)
    val targetCols = colList.getOrElse(viewCols)
    val incoming: DataFrame =
      if (body.toUpperCase.matches("(?s)DEFAULT\\s+VALUES\\s*;?\\s*"))
        // views have no defaults; SQLite binds all-NULL NEW values
        runSelect("SELECT " +
          viewCols.map(c => s"NULL AS `$c`").mkString(", "))
      else if (body.toUpperCase.startsWith("VALUES"))
        valuesFrame(valuesTail, targetCols)
      else {
        val df = runSelect(body)
        require(df.columns.length == targetCols.length,
          s"INSERT arity mismatch: ${df.columns.length} vs ${targetCols.length}")
        df.toDF(targetCols: _*)
      }
    var full = incoming
    viewCols.filterNot(c => full.columns.exists(_.equalsIgnoreCase(c)))
      .foreach(miss => full = full.withColumn(miss, lit(null)))
    full = full.select(viewCols.map(c => col(s"`$c`")): _*)
    val rows = streamRows(full)
    fireInsteadOf(trigs, viewCols, rows.map(r => (None, Some(r.toSeq.toIndexedSeq))))
  }

  private def viewUpdate(view: String, body: String): Unit = {
    if (SqlLexer.firstTopLevel(body, "FROM") >= 0)
      throw new UnsupportedOperationException(
        "UPDATE ... FROM on a view is not supported")
    val whereAt = SqlLexer.lastTopLevel(body, "WHERE")
    val (setPart, predPart) =
      if (whereAt < 0) (body, None)
      else (body.substring(0, whereAt), Some(body.substring(whereAt + 5)))
    val (viewCols, vdf) = viewFrame(view)
    val assignments: Seq[(String, Column)] =
      SqlLexer.splitTopLevel(setPart).map { a =>
        val eq = topLevelEq(a)
        val colName = SqlScript.unquoteIdent(a.substring(0, eq).trim)
        val c = viewCols.find(_.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $colName"))
        c -> dexpr(a.substring(eq + 1).trim)
      }
    val trigs = insteadOfTriggers(view, "UPDATE", Some(assignments.map(_._1)))
    if (trigs.isEmpty)
      throw new IllegalArgumentException(s"cannot modify $view because it is a view")
    val pred = predPart.map(dpred).getOrElse(lit(true))
    val img = vdf.where(coalesce(pred, lit(false))).select(
      (viewCols.map(c => col(s"`$c`").as(s"__o_$c")) ++
        viewCols.map(c => assignments.collectFirst { case (n, v) if n == c => v }
          .getOrElse(col(s"`$c`")).as(s"__n_$c"))): _*)
    val n = viewCols.length
    val rows = streamRows(img)
    fireInsteadOf(trigs, viewCols, rows.map { r =>
      (Some((0 until n).map(r.get(_)).toIndexedSeq),
        Some((n until 2 * n).map(r.get(_)).toIndexedSeq))
    })
  }

  private def viewDelete(view: String, rest: String): Unit = {
    val trigs = insteadOfTriggers(view, "DELETE")
    if (trigs.isEmpty)
      throw new IllegalArgumentException(s"cannot modify $view because it is a view")
    val (viewCols, vdf) = viewFrame(view)
    val pred: Column = deleteWhere(rest, rest)
      .map(p => coalesce(dpred(p), lit(false))).getOrElse(lit(true))
    val rows = streamRows(vdf.where(pred))
    fireInsteadOf(trigs, viewCols, rows.map(r => (Some(r.toSeq.toIndexedSeq), None)))
  }

  // ----------------------------------------------------------- triggers

  /** Batch size for streamed trigger-loop processing (r17 — the loops
    * themselves are uncapped; trigger programs still run row-at-a-time,
    * SQLite's execution model). */
  private val FoldBatchRows = 1000

  private var firingStack: List[String] = Nil

  /** Triggers that would fire for `event` on `table`, in SQLite's
    * observed firing order (REVERSE creation order — probed; the docs
    * leave it unspecified), minus any currently executing (recursive-
    * trigger suppression: PRAGMA recursive_triggers defaults OFF and
    * stays off here — probed: a self-inserting trigger runs once, and
    * cross-table cascades still fire). `setCols`: the UPDATE's
    * assignment columns — an `UPDATE OF` trigger fires iff its column
    * list intersects them (probed: the SET list decides, not whether
    * the value changed). */
  private def activeTriggers(table: String, event: String,
      setCols: Option[Seq[String]] = None): Seq[SqliteDdl.TriggerDef] = {
    ensureTriggers()
    stagedTriggers.values.toSeq.reverse
      .filter(t => t.table.equalsIgnoreCase(table) && t.event == event)
      .filter(t => t.ofColumns.isEmpty ||
        setCols.forall(sc => t.ofColumns.exists(oc => sc.exists(_.equalsIgnoreCase(oc)))))
      .filterNot(t => firingStack.contains(t.name.toLowerCase))
  }

  /** Render a storage value as a SQLite literal for NEW./OLD.
    * substitution. Double.toString always carries '.' or 'E', so the
    * literal re-parses as REAL; non-finite doubles use out-of-range
    * literal spellings (SQLite parses 9.0e999 as +Inf). */
  private def sqliteLiteral(v: Any): String = v match {
    case null => "NULL"
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double =>
      if (d.isNaN) "NULL"
      else if (d == Double.PositiveInfinity) "9.0e999"
      else if (d == Double.NegativeInfinity) "-9.0e999"
      else d.toString
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Array[Byte] => "X'" + b.map("%02x".format(_)).mkString + "'"
    case other => throw new IllegalArgumentException(
      s"cannot render trigger row value: $other (${other.getClass})")
  }

  /** SQLite truthiness of a WHEN result (CAST to NUMERIC, true iff
    * nonzero): NULL and non-numeric text are false. */
  private def truthy(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case l: Long => l != 0L
    case i: Int => i != 0
    case d: Double => d != 0.0
    case f: Float => f != 0.0f
    case bd: java.math.BigDecimal => bd.signum != 0
    case s: String =>
      WriteTxn.numericPrefixRe.findFirstIn(s.trim).exists(_.toDouble != 0.0)
    case _ => false
  }

  private def unwrapRaise(e: Throwable): Option[TriggerRaise] = {
    var cur = e; var depth = 0
    while (cur != null && depth < 32) {
      cur match {
        case r: TriggerRaise => return Some(r)
        case _ => cur = cur.getCause; depth += 1
      }
    }
    None
  }

  /** One trigger program for one row: WHEN gate, then the body
    * statements in order, NEW./OLD. resolved to literals via `resolve`.
    * Returns false iff RAISE(IGNORE) ended it — the caller abandons
    * the row's change and any remaining trigger programs for that row
    * (lang_createtrigger.html §RAISE; a nested IGNORE is consumed by
    * the nested statement's own firing loop, so only the innermost
    * program is abandoned, as documented). ABORT/FAIL/ROLLBACK abort
    * the whole script with the bare message — the reference wraps each
    * script in one transaction (write.py:33-40), so SQLite's
    * statement- vs transaction-rollback shades collapse to the same
    * observable outcome. */
  private def runTriggerProgram(tg: SqliteDdl.TriggerDef,
      resolve: (String, String) => String,
      raw: (String, String) => Any = null): Boolean = {
    def prep(text: String): String =
      WriteTxn.rewriteRaise(WriteTxn.rewriteRowRefs(text, Set("new", "old"), resolve))
    try {
      val whenOk = tg.when.forall { w =>
        truthy(runSelect(s"SELECT (${prep(w)}) AS __w").head().get(0))
      }
      if (whenOk) {
        firingStack ::= tg.name.toLowerCase
        try {
          tg.body.zipWithIndex.foreach { case (b0, bi) =>
            // compiled tier first (r19): fixed UPDATE/DELETE bodies on
            // driver-local frames evaluate bound expressions directly —
            // no per-firing parse/analysis/jobs. Falls through to the
            // general prep+execute path whenever the shape or the
            // moment doesn't fit.
            val handled = raw != null &&
              compileLocalBody(tg, bi, b0).exists(runCompiledBody(_, raw))
            if (!handled) {
              val b = prep(b0)
              SqlScript.firstWord(b) match {
                // SELECT bodies run for their side effects (RAISE guards)
                case "SELECT" | "WITH" => runSelect(b).collect()
                case _ => execute(b)
              }
            }
          }
        } finally firingStack = firingStack.tail
      }
      true
    } catch {
      case e: Throwable => unwrapRaise(e) match {
        case Some(r) if r.kind == "IGNORE" => false
        case Some(r) => throw new IllegalArgumentException(r.msgText)
        case None => throw e
      }
    }
  }

  /** Stream a frame driver-side in arrival order WITHOUT materializing
    * it: toLocalIterator pulls one partition at a time, so driver
    * memory is bounded by a partition, not the statement. Since r17
    * the general trigger tiers batch through this instead of a capped
    * collect — SQLite has no row cap, and neither do they; the cost of
    * the residual non-vectorizable shapes is row-at-a-time THROUGHPUT,
    * not a refusal. */
  private def streamRows(df: DataFrame): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  /** Conservative check: does any WHEN/body text of these triggers
    * reference `table`? Decides whether the main statement may apply
    * set-based (bodies can't observe the target mid-statement, so
    * batching is unobservable — firing order of body effects is
    * preserved either way because the firing loop itself is per-row)
    * or must apply row-at-a-time interleaved with the programs, as
    * SQLite does (probed: an AFTER INSERT body counting the target
    * logs 1,2,3 during a 3-row insert). String literals are blanked
    * first; a false positive just costs the slower exact path. */
  private def touchesTarget(trigs: Seq[SqliteDdl.TriggerDef], table: String): Boolean = {
    val pat = ("(^|[^a-z0-9_])" +
      java.util.regex.Pattern.quote(table.toLowerCase) + "([^a-z0-9_]|$)").r
    trigs.exists(tg => (tg.when.toSeq ++ tg.body).exists { text =>
      pat.findFirstIn(SqlLexer.blankLiterals(text, keepIdents = true).toLowerCase).isDefined
    })
  }

  /** A driver-local frame of `rows` (external values in `schema` order). */
  private def localDf(schema: StructType, rows: Seq[IndexedSeq[Any]]): DataFrame = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    SqlInternals.localFrame(spark,
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows.map(r => conv(org.apache.spark.sql.Row.fromSeq(r)).asInstanceOf[InternalRow]))
  }

  // ---------------------------------------- driver-local working frames
  //
  // The row-at-a-time trigger tiers mutate the working table once per
  // FIRING. Keeping those mutations as layered lazy plans made every
  // 64th firing execute a 64-projection-deep union tree as a Spark job
  // (r18: ~10 firings/s). A table within SqlInternals.LocalMaxRows —
  // which a trough segment's table is — instead rides a LocalRelation
  // (load() and stage() hold it so): appended rows go straight into
  // the relation, and any other mutation folds eagerly back into one
  // through stage(), so the plan never deepens. SQLite itself executes
  // trigger programs eagerly row-at-a-time, so the eager fold is the
  // closer execution model. Past the cap the loops fall back to the
  // layered-plan + periodic-checkpoint form.

  // ------------------------------------- compiled trigger bodies (r19)
  //
  // The remaining general-tier cost after the local fold was Catalyst
  // itself: every firing re-parsed (ANTLR) and re-ANALYZED the same
  // body statement with fresh literals (~8 ms/firing of fixed driver
  // work). Trigger bodies are FIXED SQL — so an UPDATE/DELETE body is
  // compiled ONCE per (trigger, statement): NEW./OLD. references become
  // extra input COLUMNS of an analysis probe, the analyzed projection/
  // predicate binds to (table row ++ image row) ordinals, and each
  // firing evaluates the bound expressions directly over the target's
  // LocalRelation rows — zero parse, zero analysis, zero jobs per
  // firing. Everything outside the compiled shape (subqueries, RAISE,
  // cascades into triggered tables, strict/generated/fts/collated
  // tables, constraint-gated assignments) falls back to the general
  // row-at-a-time path unchanged, so error texts and corner semantics
  // stay byte-identical to the uncompiled tier.

  private final case class CompiledBody(
      table: String, kind: String, // "UPDATE" | "DELETE"
      schema: StructType,          // compiled-against schema (staleness guard)
      assigned: Seq[String],       // UPDATE: assigned column names
      markers: IndexedSeq[(String, String)], // (new|old, column) image order
      converters: IndexedSeq[Any => Any],    // external -> catalyst per marker
      pred: org.apache.spark.sql.catalyst.expressions.BasePredicate,
      // UPDATE: all table columns in schema order (assigned -> cast RHS)
      project: org.apache.spark.sql.catalyst.expressions.Projection)

  /** compile results per (trigger, statement index); None = shape not
    * compilable, fall back forever (per script). */
  private val compiledBodies =
    mutable.HashMap[(String, Int), Option[CompiledBody]]()

  private def compileLocalBody(tg: SqliteDdl.TriggerDef, idx: Int,
      template: String): Option[CompiledBody] =
    compiledBodies.getOrElseUpdate((tg.name.toLowerCase + "#" + tg.table, idx), {
      try buildCompiledBody(template)
      catch { case scala.util.control.NonFatal(_) => None }
    })

  private def buildCompiledBody(template: String): Option[CompiledBody] = {
    import org.apache.spark.sql.catalyst.expressions.{Predicate => CPredicate, SafeProjection}
    val kind = SqlScript.firstWord(template)
    if (kind != "UPDATE" && kind != "DELETE") return None
    // no subqueries / RAISE anywhere in the statement
    if (!vecPure(template)) return None
    if (splitReturning(template)._2.isDefined) return None
    // markers: NEW.x / OLD.x become probe columns __trg_new_x/__trg_old_x
    val markers = mutable.LinkedHashMap[String, (String, String)]()
    val marked = WriteTxn.rewriteRowRefs(template, Set("new", "old"), { (kw, c) =>
      val name = s"__trg_${kw}_${c.toLowerCase(java.util.Locale.ROOT)}"
      markers(name) = (kw, c)
      s"`$name`"
    })
    val (table, body0) = kind match {
      case "UPDATE" =>
        val m = updateHeadRe.findFirstMatchIn(marked).getOrElse(return None)
        if (m.group(2) != null) return None // aliased target: general path
        (SqlScript.unquoteIdent(m.group(1)), m.group(3))
      case _ =>
        val m = deleteHeadRe.findFirstMatchIn(marked).getOrElse(return None)
        (SqlScript.unquoteIdent(m.group(1)), m.group(2))
    }
    // ATTACH routing (db-qualified names, attach-order resolution) is
    // execute()'s territory — compiled bodies stay main-db only
    if (table.contains(".")) return None
    if (isView(table) || ftsDefOf(table).isDefined) return None
    val (meta, _) = load(table) // throws when absent -> cached None
    if (meta.strict || meta.generated.nonEmpty || meta.ftsSql.isDefined) return None
    if (meta.schema.fields.exists(_.metadata != Metadata.empty)) return None
    val fields = meta.schema.fields
    // every marker column must be a real column (rowid aliases etc.
    // fall back, where the general path raises sqlite's exact text)
    val markerSeq = markers.toIndexedSeq
    val markerFields = markerSeq.map { case (name, (_, c)) =>
      val f = fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return None)
      StructField(name, f.dataType, nullable = true)
    }
    val body = rewriteDqs(body0, fields.map(_.name).toSet + table)
    if (SqlLexer.firstTopLevel(body, "FROM") >= 0) return None // UPDATE..FROM
    val whereAt = SqlLexer.lastTopLevel(body, "WHERE")
    val (setPart, predText) = kind match {
      case "UPDATE" =>
        if (whereAt < 0) (body, None)
        else (body.substring(0, whereAt), Some(body.substring(whereAt + 5)))
      case _ =>
        val where = SqlLexer.tokens(body).headOption
        if (where.exists(!_.is("WHERE"))) return None
        ("", where.map(t => body.substring(t.end)))
    }
    val assigns: Seq[(StructField, Column)] =
      if (kind != "UPDATE") Nil
      else SqlLexer.splitTopLevel(setPart).map { assignment =>
        val eq = topLevelEq(assignment)
        if (eq < 0) return None
        val colName = SqlScript.unquoteIdent(assignment.substring(0, eq).trim)
        val f = fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(return None)
        f -> dexpr(assignment.substring(eq + 1).trim)
      }
    // statement-time constraint gate must stay zero-work for this shape
    if (kind == "UPDATE" &&
        updateGateNeeded(narrowedForUpdate(meta, assigns.map(_._1.name))))
      return None
    val pred = predText.map(dpred).getOrElse(lit(true))
    val assignMap = assigns.map { case (f, v) => f.name -> v }.toMap
    // ONE analysis over a probe relation of (table columns ++ image
    // columns); the bound expressions then serve every firing
    val outCols = fields.map { f =>
      assignMap.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(col(s"`${f.name}`"))
    }.toSeq :+ coalesce(pred.cast("boolean"), lit(false)).as("__trg_pred")
    val bound = bindOverProbe(StructType(fields ++ markerFields), outCols)
      .getOrElse(return None)
    Some(CompiledBody(table, kind, meta.schema,
      assigns.map(_._1.name), markerSeq.map(_._2),
      markerSeq.map { case (_, (_, c)) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(
            fields.find(_.name.equalsIgnoreCase(c)).get.dataType)
      },
      CPredicate.create(bound.last),
      SafeProjection.create(bound.init)))
  }

  /** `outs` analysed ONCE over a probe relation of `probeSchema` (the
    * declared collations applied) and bound to the probe's ordinals,
    * for evaluation over driver-side rows with no parse, analysis or
    * job per row. None when the outputs do not analyse over the probe
    * alone, or analyse to anything but a plain projection of it (a
    * subquery, an aggregate). */
  private def bindOverProbe(probeSchema: StructType,
      outs: Seq[Column]): Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val probe = SqlInternals.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(probeSchema)))
    val analyzed =
      try collated(probe.select(outs: _*)).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => return None }
    analyzed match {
      case Project(pl, child: LocalRelation)
          if !pl.exists(_.exists(_.isInstanceOf[SubqueryExpression])) =>
        Some(pl.map(e => BindReferences.bindReference(e: Expression, child.output)))
      case _ => None
    }
  }

  /** `outs` as a function of one external row of `probeSchema`: bound
    * once ([[bindOverProbe]]); a shape that does not bind evaluates
    * over a one-row frame per call, with the script's tables visible
    * to its subqueries. */
  private def rowEvaluator(probeSchema: StructType,
      outs: Seq[Column]): IndexedSeq[Any] => IndexedSeq[Any] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.SafeProjection
    bindOverProbe(probeSchema, outs) match {
      case Some(bound) =>
        val proj = SafeProjection.create(bound)
        proj.initialize(0)
        val in = CatalystTypeConverters.createToCatalystConverter(probeSchema)
        val out = bound.map(e =>
          CatalystTypeConverters.createToScalaConverter(e.dataType)).toIndexedSeq
        vals => {
          val r = proj(in(org.apache.spark.sql.Row.fromSeq(vals)).asInstanceOf[InternalRow])
          out.indices.map(i => out(i)(r.get(i, bound(i).dataType)))
        }
      case None => vals => withRelationsVisible() {
        collated(localDf(probeSchema, Seq(vals)).select(outs: _*))
          .collect().head.toSeq.toIndexedSeq
      }
    }
  }

  /** Run one compiled body against the target's driver-local rows.
    * Returns false when this firing can't take the compiled path (the
    * frame isn't local right now, the schema moved, or other triggers
    * would cascade) — the caller falls back to prep + execute. */
  private def runCompiledBody(cb: CompiledBody,
      raw: (String, String) => Any): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    if (attachedDbs.nonEmpty || activeDb != "main") return false
    if (!working.contains(cb.table)) return false
    val (meta, df) = working(cb.table)
    if (meta.schema != cb.schema) return false
    val lr = df.queryExecution.logical match {
      case l: LocalRelation => l
      case _ => return false
    }
    // a body UPDATE/DELETE that would itself fire triggers cascades —
    // general tier's territory (firingStack suppression applies there)
    if (activeTriggers(cb.table, cb.kind,
        if (cb.kind == "UPDATE") Some(cb.assigned) else None).nonEmpty)
      return false
    val img = new GenericInternalRow(cb.markers.indices.map { i =>
      val (kw, c) = cb.markers(i)
      raw(kw, c) match {
        // literal-substitution parity: sqliteLiteral renders NaN as
        // NULL (sqlite has no NaN storage), so the bound image must too
        case d: java.lang.Double if d.isNaN => null
        case v => cb.converters(i)(v)
      }
    }.toArray[Any])
    val joined = new JoinedRow
    val data = lr.data
    val out = new mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow](data.length)
    var i = 0
    while (i < data.length) {
      val r = data(i)
      joined(r, img)
      if (cb.pred.eval(joined)) {
        if (cb.kind == "UPDATE") out += cb.project(joined).copy()
        // DELETE: row dropped
      } else out += r
      i += 1
    }
    stage(cb.table, meta, SqlInternals.ofRows(spark,
      LocalRelation(lr.output.map(_.newInstance()), out.toSeq)))
    true
  }

  // ------------------------------------------- vectorized trigger firing

  /** The audit-log trigger pattern — every firing program is either a
    * pure-WHEN `RAISE(IGNORE)` filter or appends single-tuple INSERTs
    * of pure NEW./OLD. expressions into OTHER, un-triggered tables —
    * compiles to PURE DATAFRAME OPERATIONS: filters become chained
    * skip conditions, each append body one `where(fires).select(...)`
    * over the image frame, rowid allocation a running count, and the
    * main change a projection/anti-join. Nothing is collected, so the
    * general tier's per-statement row cap does not apply — an audit
    * trigger on a billion-row INSERT…SELECT is one codegen'd
    * projection plus one union per append target. Per-row program
    * ORDER is preserved observably: append order materializes through
    * the (row, program) ordering used for id allocation, and the
    * sqlite3 differential suite pins both tiers to the same results.
    * The general row-at-a-time tier remains for bodies that read
    * their own target table, cascade into triggered tables, or run
    * arbitrary DML. */
  /** One flattened append in firing order. `gate` carries every
    * condition BELOW the owning root program's `fires` — the WHEN and
    * RAISE(IGNORE) skips of cascaded sub-triggers (r17); a direct root
    * body has `gate = lit(true)`. `fieldTexts` keeps each column's
    * fully-rooted SQLite expression text (rewritten down to root image
    * columns) so deeper cascade levels can compose NEW. references
    * textually; `None` marks an omitted rowid alias (allocated at
    * apply time). */
  private final case class VecBodyPlan(
      target: String, fieldCols: IndexedSeq[Option[Column]], aiOmitted: Boolean,
      gate: Column, fieldTexts: IndexedSeq[Option[String]])
  /** A SELF-ROW UPDATE body (r18): `UPDATE <target> SET … WHERE
    * <rowid-alias> = NEW.<rowid-alias>` in an AFTER INSERT program —
    * the firing row touching itself up. Per-row independent by
    * construction (the alias equality can only select the firing row;
    * a duplicated alias value makes the statement's unique gate raise,
    * same outcome as sqlite erroring at the insert), so it vectorizes
    * as a composed projection over the image frame instead of one
    * driver-side UPDATE statement per firing (the general tier:
    * measured ~10 firings/s — SCALE.md r18). `assigns` are (field
    * index, rewritten RHS text); bare column references in an RHS read
    * the row's CURRENT value (earlier self-updates included), NEW.x
    * the fixed insert image — both probed sqlite semantics. */
  private final case class VecSelfUpdate(assigns: Seq[(Int, String)])
  private final case class VecTrigPlan(
      tg: SqliteDdl.TriggerDef, when: Option[Column], ignoreFilter: Boolean,
      bodies: Seq[VecBodyPlan], selfUps: Seq[VecSelfUpdate] = Nil)

  private val vecInsertRe =
    "(?is)^INSERT\\s+INTO\\s+([^\\s(]+)\\s*(?:\\(([^)]*)\\))?\\s*VALUES\\s*(.+)$".r

  /** Pure = evaluable as a row-local expression: no subqueries, no
    * RAISE. Blanked literals, so text merely mentioning the words is
    * fine. */
  private def vecPure(text: String): Boolean =
    "(^|[^a-z0-9_])(select|raise)([^a-z0-9_]|$)".r
      .findFirstIn(SqlLexer.blankLiterals(text).toLowerCase).isEmpty

  /** Compile the ordered firing programs against image-column names
    * produced by `resolve` (e.g. NEW.x → `__new_x`), or None when any
    * trigger falls outside the vectorizable shape (the caller then
    * runs the general row-at-a-time loop). */
  private def vecCompile(trigsOrdered: Seq[SqliteDdl.TriggerDef],
      resolve: (SqliteDdl.TriggerDef, String, String) => String,
      selfUpdateTable: Option[(String, TableMeta)] = None)
      : Option[Seq[VecTrigPlan]] = {
    val plans = mutable.ArrayBuffer[VecTrigPlan]()
    for (tg <- trigsOrdered) {
      if (!tg.when.forall(vecPure)) return None
      def rw(text: String): String =
        WriteTxn.rewriteRowRefs(text, Set("new", "old"), (kw, c) => resolve(tg, kw, c))
      val whenCol = tg.when.map(w => dpred(rw(w)))
      val isIgnore = tg.body.length == 1 &&
        tg.body.head.trim.matches("(?is)^SELECT\\s+RAISE\\s*\\(\\s*IGNORE\\s*\\)\\s*;?$")
      if (isIgnore) plans += VecTrigPlan(tg, whenCol, ignoreFilter = true, Nil)
      else {
        val bodies = mutable.ArrayBuffer[VecBodyPlan]()
        val selfUps = mutable.ArrayBuffer[VecSelfUpdate]()
        for (b <- tg.body) {
          val asSelfUp = selfUpdateTable.filter(_ => tg.timing == "AFTER")
            .flatMap { case (t, m) => vecCompileSelfUpdate(b, rw, t, m) }
          asSelfUp match {
            case Some(su) => selfUps += su
            case None =>
              bodies ++= vecCompileBody(b, rw, lit(true),
                Set(tg.name.toLowerCase)).getOrElse(return None)
          }
        }
        plans += VecTrigPlan(tg, whenCol, ignoreFilter = false, bodies.toSeq,
          selfUps.toSeq)
      }
    }
    // mixed explicit/omitted rowid alias for one target across bodies:
    // sequential allocation would interleave with explicit ids — general path
    val byTarget = plans.flatMap(_.bodies).groupBy(_.target.toLowerCase)
    if (byTarget.values.exists(bs => bs.exists(_.aiOmitted) && bs.exists(!_.aiOmitted)))
      return None
    Some(plans.toSeq)
  }

  /** Compile one INSERT body statement PLUS, recursively, every trigger
    * its inserted row fires (r17 — cascades into triggered tables no
    * longer force the capped row loop). The flattening preserves
    * SQLite's depth-first firing order (probed on 3.51: a body insert
    * into B runs B's BEFORE programs, lands the B row, runs B's AFTER
    * programs — all before the outer program's next statement), with
    * chain suppression mirroring the general loop's firingStack
    * (recursive_triggers OFF: the firing trigger itself is suppressed,
    * sibling triggers on the same table still fire for appended rows —
    * probed). A cascaded BEFORE RAISE(IGNORE) abandons only its own
    * row's remaining sub-programs and append (no id consumed); the
    * outer program resumes — probed. NEW. references in sub-trigger
    * text compose TEXTUALLY from the parent body's column expression
    * texts, so every level grounds out in root image columns; a
    * sub-AFTER program reading the cascaded row's freshly ALLOCATED
    * rowid alias cannot compose that way and falls back (general
    * tier). `rw` rewrites this statement's own NEW./OLD. references;
    * `gate` accumulates the conditions above this statement. */
  private def vecCompileBody(b: String, rw: String => String,
      gate: Column, chain: Set[String]): Option[Seq[VecBodyPlan]] = {
    val m = vecInsertRe.findFirstMatchIn(b.trim).getOrElse(return None)
    if (!vecPure(m.group(3))) return None
    val target = SqlScript.unquoteIdent(m.group(1))
    val tuples = SqlLexer.splitTopLevel(m.group(3))
    if (tuples.length != 1) return None
    val tup = tuples.head.trim
    if (!(tup.startsWith("(") && tup.endsWith(")"))) return None
    val exprs = SqlLexer.splitTopLevel(tup.substring(1, tup.length - 1))
    if (isView(target) || !tableNames.exists(_.equalsIgnoreCase(target)))
      return None // the general path raises SQLite's own error
    // content= fts targets and fts command inserts carry rowid/
    // command column mappings only insert() knows — general path
    // (r15; the canonical external-content sync-trigger shape)
    if (ftsDefOf(target).exists(fd => fd.content.isDefined) ||
        Option(m.group(2)).exists(g => SqlLexer.splitTopLevel(g)
          .map(SqlScript.unquoteIdent)
          .exists(c => c.equalsIgnoreCase(target) || isRowidAlias(c))))
      return None
    val (bMeta, _) = load(target)
    val bFields = bMeta.schema.fields
    val colList = Option(m.group(2)).map(SqlLexer.splitTopLevel(_)
      .map(SqlScript.unquoteIdent)).getOrElse(bFields.map(_.name).toSeq)
    if (exprs.length != colList.length) return None // general path raises the arity error
    val aiName = bMeta.autoIncrement
    val aiOmitted = aiName.exists(ai => !colList.exists(_.equalsIgnoreCase(ai)))
    val fieldTexts: IndexedSeq[Option[String]] = bFields.map { f =>
      val at = colList.indexWhere(_.equalsIgnoreCase(f.name))
      if (at >= 0) Some("(" + rw(exprs(at)) + ")")
      else if (aiName.exists(_.equalsIgnoreCase(f.name)) && aiOmitted)
        None // allocated at apply time
      else Some("(" + defaultExpr(bMeta, f.name).getOrElse("NULL") + ")")
    }.toIndexedSeq
    val fieldCols: IndexedSeq[Option[Column]] =
      fieldTexts.zip(bFields).map { case (t, f) =>
        t.map(x => dexpr(x).cast(f.dataType))
      }
    val own = VecBodyPlan(target, fieldCols, aiOmitted, gate, fieldTexts)
    val subTrigs = activeTriggers(target, "INSERT")
      .filterNot(t => chain.contains(t.name.toLowerCase))
    if (subTrigs.isEmpty) return Some(Seq(own))
    // ---- cascaded sub-triggers (BEFORE run before the row lands) ----
    def subResolve(timing: String)(kw: String, c: String): String = kw match {
      case "new" =>
        val i = bFields.indexWhere(_.name.equalsIgnoreCase(c))
        if (i < 0) throw new IllegalArgumentException(s"no such column: new.$c")
        fieldTexts(i) match {
          case Some(t) => t
          case None =>
            if (timing == "BEFORE") "-1" // pre-allocation image, as at root
            else throw new UnsupportedOperationException(
              "cascaded AFTER program reads the allocated rowid alias")
        }
      case other => throw new IllegalArgumentException(s"no such column: $other.$c")
    }
    try {
      val before = mutable.ArrayBuffer[VecBodyPlan]()
      val after = mutable.ArrayBuffer[VecBodyPlan]()
      var skip: Column = lit(false) // accumulated sub-ignore skips, this chain
      var rowGate: Column = null // snapshot after the BEFORE programs
      for (st <- subTrigs.filter(_.timing == "BEFORE") ++
          subTrigs.filter(_.timing == "AFTER")) {
        if (st.timing == "AFTER" && rowGate == null) rowGate = gate && !skip
        def rwSub(text: String): String =
          WriteTxn.rewriteRowRefs(text, Set("new", "old"), subResolve(st.timing))
        if (!st.when.forall(vecPure)) return None
        val whenCol = st.when.map(w => dpred(rwSub(w)))
        val fires = whenCol.map(w => coalesce(w, lit(false)))
          .getOrElse(lit(true)) && !skip
        val isIgnore = st.body.length == 1 &&
          st.body.head.trim.matches("(?is)^SELECT\\s+RAISE\\s*\\(\\s*IGNORE\\s*\\)\\s*;?$")
        if (isIgnore) skip = skip || fires
        else {
          val sink = if (st.timing == "BEFORE") before else after
          for (sb <- st.body)
            sink ++= vecCompileBody(sb, rwSub, gate && fires,
              chain + st.name.toLowerCase).getOrElse(return None)
        }
      }
      // a BEFORE sub-ignore abandons the row append and its AFTER
      // programs (an AFTER ignore only skips later programs — the row
      // has already landed); sub-ignores consume no id — probed
      if (rowGate == null) rowGate = gate && !skip
      Some((before.toSeq :+ own.copy(gate = rowGate)) ++ after.toSeq)
    } catch {
      case _: UnsupportedOperationException => None
    }
  }

  private val vecSelfUpdateRe =
    "(?is)^UPDATE\\s+([A-Za-z_\"`\\[][^\\s]*)\\s+SET\\b\\s*(.+)$".r

  /** Compile one body statement as a [[VecSelfUpdate]] when it is the
    * self-row touch-up shape, else None (the caller then tries the
    * append compiler / falls back to the general tier). Gates, each a
    * soundness requirement: AFTER timing (enforced by the caller); the
    * UPDATE targets the firing statement's own table; the WHERE is
    * exactly `<rowid-alias> = NEW.<rowid-alias>` (the only predicate
    * that provably selects the firing row alone — any duplicate alias
    * value dies at the statement's unique gate either way); the table
    * is not STRICT (strictCoerce is per-statement machinery the
    * composed projection does not replicate); no UPDATE triggers exist
    * on the table (the body UPDATE would fire them — general tier
    * keeps sqlite's cascade order); assignments avoid the alias and
    * generated columns; RHS are row-local (no subqueries/RAISE) and
    * reference only this table's columns or NEW. images. */
  private def vecCompileSelfUpdate(b: String, rw: String => String,
      table: String, meta: TableMeta): Option[VecSelfUpdate] = {
    val m = vecSelfUpdateRe.findFirstMatchIn(b.trim.stripSuffix(";"))
      .getOrElse(return None)
    if (!SqlScript.unquoteIdent(m.group(1)).equalsIgnoreCase(table)) return None
    val ai = meta.autoIncrement.getOrElse(return None)
    if (meta.strict) return None
    if (activeTriggers(table, "UPDATE").nonEmpty) return None
    val body = m.group(2)
    val whereAt = SqlLexer.lastTopLevel(body, "WHERE")
    if (whereAt < 0) return None // unqualified UPDATE touches other rows
    val setPart = body.substring(0, whereAt)
    val predPart = body.substring(whereAt + 5).trim.stripSuffix(";").trim
    val aiL = ai.toLowerCase(java.util.Locale.ROOT)
    val norm = rw(predPart).replace("`", "").replaceAll("\\s+", "")
      .toLowerCase(java.util.Locale.ROOT)
    if (norm != s"$aiL=__new_$aiL" && norm != s"__new_$aiL=$aiL") return None
    val fieldsL = meta.schema.fieldNames
    val byName = fieldsL.zipWithIndex
      .map { case (n, i) => n.toLowerCase(java.util.Locale.ROOT) -> i }.toMap
    val assigns = SqlLexer.splitTopLevel(setPart).map { a =>
      val eqAt = topLevelEq(a)
      if (eqAt < 0) return None
      val colName = SqlScript.unquoteIdent(a.substring(0, eqAt).trim)
      val i = byName.getOrElse(colName.toLowerCase(java.util.Locale.ROOT),
        return None)
      if (colName.equalsIgnoreCase(ai)) return None
      if (meta.generated.exists(_.name.equalsIgnoreCase(colName))) return None
      val rhs = a.substring(eqAt + 1).trim
      if (!vecPure(rhs)) return None
      val rwRhs = rw(rhs)
      // every reference must ground out in this table's columns or the
      // NEW. image — anything else belongs to the general tier (which
      // raises sqlite's own 'no such column')
      val refsOk = scala.util.Try {
        org.apache.spark.sql.graft.SqlInternals.expression(dexpr(rwRhs))
          .collect {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => ua
          }.forall { ua =>
            ua.nameParts.length == 1 && {
              val n = ua.nameParts.head.toLowerCase(java.util.Locale.ROOT)
              n.startsWith("__new_") || n.startsWith("__nb_") || byName.contains(n)
            }
          }
      }.getOrElse(false)
      if (!refsOk) return None
      (i, rwRhs)
    }
    if (assigns.isEmpty) None else Some(VecSelfUpdate(assigns))
  }

  /** Substitute bare references to `fields` in a compiled RHS with the
    * row's CURRENT composed expression (earlier self-updates applied);
    * `__new_*` / `__nb_*` image references pass through untouched. */
  private def bindRowCols(c: Column,
      fields: Array[org.apache.spark.sql.types.StructField],
      cur: Array[Column]): Column = {
    val byName = fields.zipWithIndex
      .map { case (f, i) => f.name.toLowerCase(java.util.Locale.ROOT) -> i }.toMap
    import org.apache.spark.sql.graft.SqlInternals
    SqlInternals.column(SqlInternals.expression(c).transformUp {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if ua.nameParts.length == 1 && byName.contains(
            ua.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
        SqlInternals.expression(
          cur(byName(ua.nameParts.head.toLowerCase(java.util.Locale.ROOT))))
    })
  }

  /** The chained abandon condition: rows a BEFORE `RAISE(IGNORE)`
    * filter drops (any prior filter having fired suppresses later
    * programs, so filters compose with `||` over their gated WHENs). */
  private def vecAbandonCond(plans: Seq[VecTrigPlan]): Column = {
    var priorSkip: Column = lit(false)
    var abandon: Column = lit(false)
    plans.foreach { pl =>
      val fires = pl.when.map(w => coalesce(w, lit(false))).getOrElse(lit(true)) && !priorSkip
      if (pl.ignoreFilter) {
        if (pl.tg.timing == "BEFORE") abandon = abandon || fires
        priorSkip = priorSkip || fires
      }
    }
    abandon
  }

  /** Stage every append body over the image frame: one
    * `where(fires).select(...)` per body, one union + optional
    * rowid-allocation window per target table. `images` must carry a
    * `__vec_seq` statement-order column; allocation orders by
    * (row, program index), reproducing the per-row interleave the
    * general tier executes. */
  /** Flatten the non-ignore plans to (body, global firing position,
    * full firing condition) — the position numbers every body across
    * all programs in depth-first firing order (r17: per BODY, not per
    * plan — two bodies of one program appending to the same target
    * allocate in body order, and cascaded appends keep their slot);
    * the condition folds the plan's WHEN, the chained ignore skips,
    * and the body's own cascade gate. */
  private def vecFlatten(plans: Seq[VecTrigPlan]): Seq[(VecBodyPlan, Int, Column)] = {
    var priorSkip: Column = lit(false)
    var ord = 0
    val out = mutable.ArrayBuffer[(VecBodyPlan, Int, Column)]()
    plans.foreach { pl =>
      val fires = pl.when.map(w => coalesce(w, lit(false))).getOrElse(lit(true)) && !priorSkip
      if (pl.ignoreFilter) priorSkip = priorSkip || fires
      else pl.bodies.foreach { b => out += ((b, ord, fires && b.gate)); ord += 1 }
    }
    out.toSeq
  }

  private def vecApplyAppends(plans: Seq[VecTrigPlan], images: DataFrame,
      skipTarget: Option[String] = None): Unit = {
    val perTarget = mutable.LinkedHashMap[String,
      (String, mutable.ArrayBuffer[DataFrame], Boolean)]()
    vecFlatten(plans).foreach { case (b, k, fires) =>
      if (!skipTarget.exists(_.equalsIgnoreCase(b.target))) {
        val (bMeta, _) = load(b.target)
        val sel = images.where(fires).select(
          (b.fieldCols.zip(bMeta.schema.fields).map {
            case (Some(c), f) => c.as(f.name)
            case (None, f) => lit(null).cast(f.dataType).as(f.name)
          } ++ Seq(col("__vec_seq"), lit(k).as("__vec_ord"))).toSeq: _*)
        perTarget.getOrElseUpdate(b.target.toLowerCase,
          (b.target, mutable.ArrayBuffer[DataFrame](), b.aiOmitted))._2 += sel
      }
    }
    perTarget.values.foreach { case (target, parts, aiOmitted) =>
      val (bMeta, bExisting) = load(target)
      var app = parts.reduce(_ unionByName _)
      if (aiOmitted) {
        val ai = bMeta.schema.fieldNames
          .find(_.equalsIgnoreCase(bMeta.autoIncrement.get)).get
        val maxRow = bExisting.agg(max(col(ai))).head()
        val base = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
        app = app.withColumn(ai, lit(base) +
          row_number().over(Window.orderBy(col("__vec_seq"), col("__vec_ord"))))
      }
      // appended rows face the same statement-time NOT NULL/CHECK the
      // general tier's per-body execute() applies (r17 fuzz [724])
      enforceIncomingConstraints(target, bMeta,
        app.drop("__vec_seq", "__vec_ord"))
      stage(target, bMeta, bExisting.unionByName(
        app.drop("__vec_seq", "__vec_ord")))
    }
  }

  // ------------------------------ vectorized self-read aggregates (r11)

  /** One extracted `(SELECT agg(x) FROM target [WHERE pred])` self-read
    * subquery from a trigger WHEN/body: `name` is the placeholder image
    * column its text was rewritten to. SQLite fires triggers row by
    * row, so at firing k (statement order) the subquery sees base
    * rows + surviving statement rows 1..k (AFTER) or 1..k-1 (BEFORE) —
    * probed on 3.51 (count: 1,2,3 AFTER / 0,1,2 BEFORE; RAISE(IGNORE)d
    * rows never counted). That is exactly one base-constant plus a
    * running window aggregate over the image frame, which lifts the
    * general tier's row cap for the commonest self-reading audit
    * bodies (VERDICT r10 #7). */
  private final case class SelfAggSpec(
      name: String, agg: String, argCol: Option[String],
      predText: Option[String], timing: String,
      /** Same-column equality correlations (`c = NEW.c`) factored out
        * of the subquery's WHERE (r16): the aggregate partitions by
        * these keys — base per key from one grouped job, running
        * contribution from a key-partitioned window. `predText` then
        * holds only the uncorrelated residual. */
      corrCols: Seq[String] = Nil,
      /** The row-image keyword each correlation was spelled with
        * ("new"/"old", parallel to `corrCols`). Irrelevant while the
        * key column is un-reassigned (the images coincide); under a
        * reassigning UPDATE (r17) it picks which image the current
        * firing evaluates its key from. */
      corrKwords: Seq[String] = Nil)

  private val selfAggRe =
    ("(?is)^\\(\\s*SELECT\\s+(count|sum|avg|min|max|total)\\s*\\(\\s*" +
      "(\\*|[A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s+FROM\\s+([^\\s)]+)\\s*" +
      "(?:WHERE\\s+(.+?))?\\s*\\)$").r

  /** Whether `dt` is a type the running-window combiners handle. */
  private def selfAggTypeOk(agg: String, dt: DataType): Boolean = agg match {
    case "sum" | "avg" | "total" => dt == LongType || dt == DoubleType
    case _ => dt == LongType || dt == DoubleType || dt == StringType
  }

  /** Rewrite every supported self-read aggregate subquery in `text` to
    * a placeholder column (appending its spec to `out`); None when the
    * text references `table` in any OTHER way — the caller then falls
    * back to the general row-at-a-time tier. */
  private def rewriteSelfAggs(table: String, fields: Array[StructField],
      timing: String, text: String,
      out: mutable.ArrayBuffer[SelfAggSpec],
      corrKws: Set[String]): Option[String] = {
    val rewritten = SqlLexer.rewrite(text) { (toks, i) =>
      val close = if (toks(i).isPunct('(')) SqlLexer.matchParen(toks, i) else -1
      val span = if (close < 0) null else text.substring(toks(i).start, toks(close).end)
      val m = if (span == null) None else selfAggRe.findFirstMatchIn(span)
      m match {
          case Some(mm)
              if SqlScript.unquoteIdent(mm.group(3)).equalsIgnoreCase(table) =>
            val agg = mm.group(1).toLowerCase(java.util.Locale.ROOT)
            val arg = mm.group(2)
            val argCol = if (arg == "*") None else Some(arg)
            val predText0 = Option(mm.group(4))
            val argField = argCol.map(a =>
              fields.find(_.name.equalsIgnoreCase(a)))
            // factor same-column equality correlations (`c = NEW.c`,
            // either side order) out of the WHERE's top-level AND
            // conjuncts (r16); the residual must stay uncorrelated
            val kwAlt = corrKws.map(_.toUpperCase(java.util.Locale.ROOT))
              .mkString("(", "|", ")")
            val corrRe = ("(?i)^\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*" +
              kwAlt + "\\s*\\.\\s*([A-Za-z_][A-Za-z0-9_]*)|" +
              kwAlt + "\\s*\\.\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*" +
              "([A-Za-z_][A-Za-z0-9_]*))\\s*$").r
            val corrCols = mutable.ArrayBuffer[String]()
            val corrKwords = mutable.ArrayBuffer[String]()
            val residual = mutable.ArrayBuffer[String]()
            predText0.foreach { p =>
              SqlLexer.splitTopLevelAt(p)(_.is("AND")).foreach { conj =>
                corrRe.findFirstMatchIn(conj) match {
                  case Some(cm) =>
                    val a = Option(cm.group(1)).getOrElse(cm.group(6))
                    val b = Option(cm.group(3)).getOrElse(cm.group(5))
                    val kw = Option(cm.group(2)).getOrElse(cm.group(4))
                    val f = fields.find(_.name.equalsIgnoreCase(a))
                    if (a.equalsIgnoreCase(b) && f.isDefined) {
                      corrCols += f.get.name
                      corrKwords += kw.toLowerCase(java.util.Locale.ROOT)
                    } else residual += conj
                  case None => residual += conj
                }
              }
            }
            val predText =
              if (residual.isEmpty) None else Some(residual.mkString(" AND "))
            val predOk = predText.forall { p =>
              val blank = SqlLexer.blankLiterals(p).toLowerCase(java.util.Locale.ROOT)
              !"(^|[^a-z0-9_])(select|raise)([^a-z0-9_]|$)".r.findFirstIn(blank).isDefined &&
                !"(^|[^a-z0-9_])(new|old)\\s*\\.".r.findFirstIn(blank).isDefined
            }
            val argOk =
              (argCol.isEmpty && agg == "count") ||
                argField.exists(_.exists(f => selfAggTypeOk(agg, f.dataType)))
            if (!predOk || !argOk) return None // self-read, unsupported shape
            val name = s"__selfagg_${out.length}"
            out += SelfAggSpec(name, agg,
              argField.map(_.get.name), predText, timing, corrCols.toSeq,
              corrKwords.toSeq)
            Some((close + 1, s"`$name`"))
          case Some(_) => Some((close + 1, span)) // subquery over ANOTHER table: copy verbatim
          case None => None // ordinary parens: scan inside
        }
    }
    val pat = ("(^|[^a-z0-9_])" +
      java.util.regex.Pattern.quote(table.toLowerCase) + "([^a-z0-9_]|$)").r
    if (pat.findFirstIn(SqlLexer.blankLiterals(rewritten).toLowerCase).isDefined)
      None // a target reference that is not a supported self-read agg
    else Some(rewritten)
  }

  /** Extract self-read aggregates from the ordered trigger list. None
    * ⇒ some target reference needs the general tier. */
  private def extractSelfAggs(table: String, fields: Array[StructField],
      trigsOrdered: Seq[SqliteDdl.TriggerDef],
      corrKws: Set[String] = Set("new"))
      : Option[(Seq[SqliteDdl.TriggerDef], Seq[SelfAggSpec])] = {
    if (!touchesTarget(trigsOrdered, table)) return Some((trigsOrdered, Nil))
    val specs = mutable.ArrayBuffer[SelfAggSpec]()
    val rewritten = trigsOrdered.map { tg =>
      val w2 = tg.when match {
        case Some(w) =>
          Some(rewriteSelfAggs(table, fields, tg.timing, w, specs, corrKws)
            .getOrElse(return None))
        case None => None
      }
      val b2 = tg.body.map { b =>
        vecInsertRe.findFirstMatchIn(b.trim) match {
          case Some(m) if SqlScript.unquoteIdent(m.group(1))
              .equalsIgnoreCase(table) =>
            // a self-APPEND body (r17): its INSERT INTO <target>
            // prefix is not a self-read — only the VALUES exprs need
            // the self-agg scan (vecCompileBody vectorizes the append)
            val rest = rewriteSelfAggs(table, fields, tg.timing,
              m.group(3), specs, corrKws).getOrElse(return None)
            val cols = Option(m.group(2)).map(g => s" ($g)").getOrElse("")
            s"INSERT INTO ${m.group(1)}$cols VALUES $rest"
          case _ =>
            vecSelfUpdateRe.findFirstMatchIn(b.trim.stripSuffix(";")) match {
              case Some(um) if SqlScript.unquoteIdent(um.group(1))
                  .equalsIgnoreCase(table) =>
                // a self-row UPDATE body (r18): its UPDATE <target>
                // prefix is not a self-read — only the SET/WHERE tail
                // needs the scan (vecCompileSelfUpdate gates the shape;
                // an unsupported tail still lands in the general tier
                // when vecCompile rejects it)
                val rest = rewriteSelfAggs(table, fields, tg.timing,
                  um.group(2), specs, corrKws).getOrElse(return None)
                s"UPDATE ${um.group(1)} SET $rest"
              case _ =>
                rewriteSelfAggs(table, fields, tg.timing, b, specs, corrKws)
                  .getOrElse(return None)
            }
        }
      }
      tg.copy(when = w2, body = b2)
    }
    Some((rewritten, specs.toSeq))
  }

  /** The WHERE text of a self-read subquery, resolved against the
    * inserted images (`__new_*` columns). Bails (throws) on references
    * this shape can't support — caught by the caller, which falls back
    * to the general tier. */
  private def selfAggPredOverImages(predText: String, table: String,
      fields: Array[StructField], prefix: String = "__new_"): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    SqlInternals.column(SqlInternals.expression(dpred(predText)) transform {
      case ua: UnresolvedAttribute =>
        val colName = ua.nameParts.last
        val qualOk = ua.nameParts.length == 1 ||
          (ua.nameParts.length == 2 && ua.nameParts.head.equalsIgnoreCase(table))
        val f = fields.find(_.name.equalsIgnoreCase(colName))
        if (!qualOk || f.isEmpty) throw new UnsupportedOperationException(
          s"unsupported reference in self-read subquery predicate: ${ua.sql}")
        UnresolvedAttribute(Seq(prefix + f.get.name))
    })
  }

  /** Vectorized INSERT firing (PLAIN mode, no per-row target reads):
    * BEFORE programs see the omitted rowid alias as -1; ids allocate
    * only for rows the BEFORE filters let through (SQLite's
    * allocation point, probed: 1,2 for two survivors of a filtered
    * 4-row insert) via a running count over the abandon condition —
    * one plan, no phases, nothing collected. Returns true when
    * handled (main change and all appends staged). */
  private def tryVectorizedInsertFiring(table: String, meta: TableMeta,
      existing: DataFrame, aligned0: DataFrame,
      insTrigs: Seq[SqliteDdl.TriggerDef], aiName: Option[String],
      aiBase: Option[Long]): Boolean = {
    val fields = meta.schema.fields
    val ordered0 = insTrigs.filter(_.timing == "BEFORE") ++
      insTrigs.filter(_.timing == "AFTER")
    // self-read aggregate subqueries rewrite to placeholder image
    // columns (running window + base constant, built below); any other
    // target reference falls back to the general tier
    val (ordered, selfSpecs) =
      extractSelfAggs(table, fields, ordered0).getOrElse(return false)
    def resolve(tg: SqliteDdl.TriggerDef, kw: String, c: String): String = kw match {
      case "new" =>
        val i = fields.indexWhere(_.name.equalsIgnoreCase(c))
        if (i < 0) throw new IllegalArgumentException(s"no such column: new.$c")
        "`" + (if (tg.timing == "BEFORE") "__nb_" else "__new_") + fields(i).name + "`"
      case other => throw new IllegalArgumentException(s"no such column: $other.$c")
    }
    val plans = vecCompile(ordered, resolve, Some((table, meta)))
      .getOrElse(return false)
    // a BEFORE RAISE(IGNORE) filter whose WHEN reads a self-read
    // aggregate is CIRCULAR under vectorization (survival depends on
    // the aggregate, the aggregate on survival) — general tier
    if (selfSpecs.nonEmpty && plans.exists(pl =>
        pl.ignoreFilter && pl.tg.timing == "BEFORE" &&
          pl.tg.when.exists(_.contains("__selfagg_"))))
      return false
    // self-row UPDATE bodies (r18) compose into the kept projection;
    // their interplay with self-read aggregates (which would observe
    // the mid-statement values) and self-appends (whose appended rows
    // the alias equality could NOT have matched yet at firing time but
    // whose images share the frame) is unverified — general tier
    val hasSelfUps = plans.exists(_.selfUps.nonEmpty)
    if (hasSelfUps && selfSpecs.nonEmpty) return false
    val aiIdx = aiName.map(n => fields.indexWhere(_.name.equalsIgnoreCase(n)))
    // ---- self-appends (r17): bodies landing in the STATEMENT'S OWN
    // table (the firing trigger suppressed, per recursive_triggers
    // OFF) vectorize too — they share the main insert's rowid-alias
    // counter, so allocation becomes one unified consumption stream
    // over (row, firing position): probed, a BEFORE self-append takes
    // the id *before* its main row, an AFTER one the id after.
    val flat = vecFlatten(plans)
    val selfFlat = flat.filter(_._1.target.equalsIgnoreCase(table))
    if (hasSelfUps && selfFlat.nonEmpty) return false
    if (selfFlat.nonEmpty) {
      // interplay with self-read aggregate windows is unverified, and
      // explicit-id or explicit-alias main statements make the next-id
      // depend on runtime maxima — general tier for those
      if (selfSpecs.nonEmpty) return false
      if (meta.autoIncrement.isDefined &&
          (aiName.isEmpty || selfFlat.exists(!_._1.aiOmitted))) return false
      // a self-append gated on the ALLOCATED alias id would make the
      // consumption stream self-referential — general tier
      def refsNewAi(c: Column): Boolean = aiName.exists { ai =>
        org.apache.spark.sql.graft.SqlInternals.expression(c).collectFirst {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.name.equalsIgnoreCase("__new_" + ai) => a
        }.isDefined
      }
      if (selfFlat.exists { case (_, _, f) => refsNewAi(f) }) return false
    }
    // image frame: BEFORE image (__nb_*, rowid alias -1) + AFTER image
    // (__new_*) + statement order
    var images = aligned0
      .withColumn("__vec_seq", monotonically_increasing_id())
    fields.zipWithIndex.foreach { case (f, i) =>
      images = images.withColumn("__nb_" + f.name,
        if (aiIdx.contains(i)) lit(-1L).cast(f.dataType) else col(f.name))
    }
    val abandon0 = vecAbandonCond(plans)
    // main row's firing position among the flattened bodies: after
    // every BEFORE program's bodies, before every AFTER program's
    val mainOrd = plans.filter(pl => !pl.ignoreFilter && pl.tg.timing == "BEFORE")
      .map(_.bodies.length).sum
    val wSeq = Window.orderBy(col("__vec_seq"))
    // id consumed by firing position `p` of the CURRENT row =
    //   #self-appends that fired at positions < p
    //   (+1 for the main row itself once past its position)
    def offsBefore(p: Int, includeMain: Boolean): Column = {
      val selfPart = selfFlat.filter(_._2 < p)
        .map { case (_, _, f) => when(f, 1L).otherwise(0L) }
        .foldLeft(lit(0L))(_ + _)
      if (includeMain && p >= mainOrd)
        selfPart + when(abandon0, 0L).otherwise(1L)
      else selfPart
    }
    // allocate ids AFTER the filters decide survival: running count of
    // ids consumed by PRIOR rows (main + fired self-appends) in
    // statement order (single-partition window — the same tradeoff as
    // the fast path's row_number allocation)
    val rowConsumption: Column =
      when(abandon0, 0L).otherwise(1L) + offsBefore(Int.MaxValue, includeMain = false)
    val priorIds: Column = coalesce(
      sum(rowConsumption).over(wSeq.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    // non-alias images first: the alias allocation may read them (a
    // self-append's gate is an AFTER WHEN over __new_ columns — r17)
    fields.zipWithIndex.foreach { case (f, i) =>
      if (!aiIdx.contains(i))
        images = images.withColumn("__new_" + f.name, col(f.name))
    }
    fields.zipWithIndex.foreach { case (f, i) =>
      if (aiIdx.contains(i))
        images = images.withColumn("__new_" + f.name,
          when(!abandon0, lit(aiBase.getOrElse(0L)) + priorIds +
            offsBefore(mainOrd, includeMain = false) + 1L)
            .cast(f.dataType))
    }
    // self-read aggregate columns: base constant (one bounded agg job
    // over pre-statement state per spec) + running window over the
    // SURVIVING inserted images in statement order — upper bound
    // current row for AFTER firings (the row is already inserted),
    // one before it for BEFORE (probed: count answers 1,2,3 / 0,1,2)
    try selfSpecs.foreach { sp =>
      val predNew: Column = sp.predText
        .map(t => coalesce(selfAggPredOverImages(t, table, fields), lit(false)))
        .getOrElse(lit(true))
      val predBase: Column = sp.predText
        .map(t => coalesce(dpred(t), lit(false))).getOrElse(lit(true))
      if (sp.corrCols.nonEmpty) {
        // CORRELATED (r16): per-key base from ONE grouped job joined in
        // (AQE broadcasts a small side), running contribution from a
        // key-partitioned window. SQL equality: NULL keys match nothing
        // — contributions and base rows gate on non-null keys, and a
        // NULL-keyed current row sees base NULL + empty running set.
        val keyNotNullNew = sp.corrCols
          .map(c => col("__new_" + c).isNotNull).reduce(_ && _)
        val gate = !vecAbandonCond(plans) && predNew && keyNotNullNew
        val argNew: Column = sp.argCol match {
          case Some(cn) => col("__new_" + cn)
          case None => lit(1L)
        }
        val contrib = when(gate, argNew)
        val w0 = Window
          .partitionBy(sp.corrCols.map(c => col("__new_" + c)): _*)
          .orderBy(col("__vec_seq"))
        val w =
          if (sp.timing == "BEFORE")
            w0.rowsBetween(Window.unboundedPreceding, -1)
          else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val keyNotNullBase = sp.corrCols.map(col(_).isNotNull).reduce(_ && _)
        val baseDf = collated(existing.where(predBase && keyNotNullBase))
        val argBase: Column = sp.argCol.map(col).getOrElse(lit(1))
        val bName = sp.name + "__base"
        val b2Name = sp.name + "__base2"
        val grouped = sp.agg match {
          case "count" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(count(argBase).as(bName))
          case "sum" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(sum(argBase).as(bName))
          case "total" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(sum(argBase.cast("double")).as(bName))
          case "min" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(min(argBase).as(bName))
          case "max" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(max(argBase).as(bName))
          case "avg" => baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(sum(argBase.cast("double")).as(bName), count(argBase).as(b2Name))
        }
        val keyPfx = sp.name + "__k_"
        val renamed = grouped.select(
          (sp.corrCols.map(c => col(c).as(keyPfx + c)) ++
            Seq(col(bName)) ++
            (if (sp.agg == "avg") Seq(col(b2Name)) else Nil)): _*)
        val joinCond = sp.corrCols
          .map(c => col("__new_" + c) === col(keyPfx + c)).reduce(_ && _)
        images = images.join(renamed, joinCond, "left")
          .drop(sp.corrCols.map(keyPfx + _): _*)
        val base = col(bName)
        val combined: Column = sp.agg match {
          case "count" =>
            coalesce(base, lit(0L)) + count(contrib).over(w)
          case "sum" =>
            val run = sum(contrib).over(w)
            when(base.isNull, run)
              .otherwise(base + coalesce(run, lit(0)))
          case "total" =>
            coalesce(base, lit(0.0)) +
              coalesce(sum(contrib.cast("double")).over(w), lit(0.0))
          case "min" => least(base, min(contrib).over(w))
          case "max" => greatest(base, max(contrib).over(w))
          case "avg" =>
            val rs = coalesce(sum(contrib.cast("double")).over(w), lit(0.0))
            val rc = count(contrib).over(w)
            val totalC = coalesce(col(b2Name), lit(0L)) + rc
            when(totalC === 0L, lit(null))
              .otherwise((coalesce(base, lit(0.0)) + rs) / totalC)
        }
        images = images.withColumn(sp.name, combined)
          .drop(bName, b2Name)
      } else {
      val gate = !vecAbandonCond(plans) && predNew
      val argNew: Column = sp.argCol match {
        case Some(cn) => col("__new_" + cn)
        case None => lit(1L)
      }
      val contrib = when(gate, argNew)
      val w0 = Window.orderBy(col("__vec_seq"))
      val w =
        if (sp.timing == "BEFORE")
          w0.rowsBetween(Window.unboundedPreceding, -1)
        else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val baseDf = collated(existing.where(predBase))
      val combined: Column = sp.agg match {
        case "count" =>
          val b = baseDf.agg(
            count(sp.argCol.map(col).getOrElse(lit(1)))).head().getLong(0)
          lit(b) + count(contrib).over(w)
        case "sum" =>
          val r = baseDf.agg(sum(col(sp.argCol.get))).head()
          val run = sum(contrib).over(w)
          if (r.isNullAt(0)) run
          else lit(r.get(0)) + coalesce(run, lit(0))
        case "total" =>
          val r = baseDf.agg(sum(col(sp.argCol.get).cast("double"))).head()
          val base = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          lit(base) + coalesce(sum(contrib.cast("double")).over(w), lit(0.0))
        case "min" | "max" =>
          val isMin = sp.agg == "min"
          val r = baseDf.agg(
            if (isMin) min(col(sp.argCol.get)) else max(col(sp.argCol.get))).head()
          val base: Column =
            if (r.isNullAt(0)) lit(null) else lit(r.get(0))
          val run = (if (isMin) min(contrib) else max(contrib)).over(w)
          if (isMin) least(base, run) else greatest(base, run)
        case "avg" =>
          val r = baseDf.agg(sum(col(sp.argCol.get).cast("double")),
            count(col(sp.argCol.get))).head()
          val bs = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          val bc = r.getLong(1)
          val rs = coalesce(sum(contrib.cast("double")).over(w), lit(0.0))
          val rc = count(contrib).over(w)
          val totalC = lit(bc) + rc
          when(totalC === 0L, lit(null)).otherwise((lit(bs) + rs) / totalC)
      }
      images = images.withColumn(sp.name, combined)
      }
    } catch {
      // an unsupported reference inside a subquery WHERE: general tier
      case _: UnsupportedOperationException => return false
    }
    // self-row UPDATE composition (r18): starting from the fixed insert
    // image, each firing program's self-updates rewrite the row's
    // CURRENT expression under that program's fires condition — all of
    // one statement's RHS read the pre-that-update values (SQLite's
    // UPDATE rule), NEW. references stay the fixed image, and later
    // programs' bare column reads see earlier programs' effects.
    val rowCur: Array[Column] = fields.map(f => col("__new_" + f.name))
    if (hasSelfUps) {
      var priorSkip: Column = lit(false)
      plans.foreach { pl =>
        val fires = pl.when.map(w => coalesce(w, lit(false)))
          .getOrElse(lit(true)) && !priorSkip
        if (pl.ignoreFilter) priorSkip = priorSkip || fires
        else pl.selfUps.foreach { su =>
          val updated = su.assigns.map { case (i, rhsText) =>
            i -> when(fires,
              bindRowCols(dexpr(rhsText), fields, rowCur).cast(fields(i).dataType))
              .otherwise(rowCur(i))
          }
          updated.foreach { case (i, v) => rowCur(i) = v }
        }
      }
    }
    // the abandon condition reads only __nb_ columns, so evaluating it
    // again inside the appends/main projections is phase-consistent
    vecApplyAppends(plans, images, skipTarget = Some(table))
    val kept = images.where(!vecAbandonCond(plans))
      .select(fields.zipWithIndex.map { case (f, i) =>
        rowCur(i).as(f.name) }.toSeq: _*)
    // self-appends union in with their interleaved ids (r17); ids were
    // pre-gated to the all-omitted-alias shape above. The id column
    // must join `images` BEFORE the fires filter — a window inside a
    // post-filter select would cumulate over the surviving rows only.
    val selfRows = selfFlat.zipWithIndex.map { case ((b, p, fires), si) =>
      val idCol = s"__vec_selfid_$si"
      images.withColumn(idCol,
        lit(aiBase.getOrElse(0L)) + priorIds +
          offsBefore(p, includeMain = true) + 1L)
        .where(fires).select(
          b.fieldCols.zip(fields).zipWithIndex.map { case ((c, f), i) =>
            (if (aiIdx.contains(i)) col(idCol).cast(f.dataType)
            else c.getOrElse(lit(null).cast(f.dataType))).as(f.name)
          }.toSeq: _*)
    }
    // statement-time NOT NULL/CHECK over every row this statement
    // lands (main + self-appends), as the set-based fast path
    // enforces — r17 fuzz [724]: the vectorized tier skipped it
    enforceIncomingConstraints(table, meta,
      selfRows.foldLeft(kept)(_ unionByName _))
    stage(table, meta,
      selfRows.foldLeft(existing.unionByName(kept))(_ unionByName _))
    true
  }

  /** min/max self-reads under UPDATE/DELETE (r17): deltas are not
    * invertible (removing the current minimum needs the runner-up), but
    * the table state at firing k decomposes EXACTLY into four
    * independent pieces — rows outside the affected set (state never
    * changes: one bounded agg job), already-fired rows' NEW values (a
    * prefix window in firing order), not-yet-fired rows' OLD values (a
    * suffix window), and RAISE(IGNORE)-abandoned rows' OLD values
    * (visible at every firing: a whole-frame window). least/greatest
    * combine them, skipping empty (NULL) pieces like SQLite's min/max
    * over an empty set. Correlated keys partition all three windows
    * and group the outside job (keys must be un-reassigned — gated by
    * the caller). */
  private def selfAggMinMax(sp: SelfAggSpec, images0: DataFrame,
      df: DataFrame, firePred: Column, hasNew: Boolean, abandon: Column,
      qNew: Column, aiOld: Column, resid: String => Column,
      keyOk: String => Column, argOf: String => Column): DataFrame = {
    val isMin = sp.agg == "min"
    def aggC(c: Column): Column = if (isMin) min(c) else max(c)
    val pw0 =
      if (sp.corrCols.isEmpty) Window.orderBy(aiOld)
      else Window.partitionBy(sp.corrCols.map(c => col("__old_" + c)): _*)
        .orderBy(aiOld)
    // AFTER sees its own change applied; BEFORE does not (its own OLD
    // row is still live, so the suffix starts at the current row)
    val prefixW =
      if (sp.timing == "BEFORE") pw0.rowsBetween(Window.unboundedPreceding, -1)
      else pw0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val suffixW =
      if (sp.timing == "BEFORE")
        pw0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else pw0.rowsBetween(1, Window.unboundedFollowing)
    val fullW = pw0.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // argCol is always defined for min/max (the subquery shape requires
    // a column argument)
    val oldQual = resid("__old_") && keyOk("__old_") &&
      argOf("__old_").isNotNull
    val newTerm: Column =
      if (hasNew) aggC(when(qNew, argOf("__new_"))).over(prefixW)
      else lit(null)
    val suffixTerm = aggC(when(!abandon && oldQual, argOf("__old_"))).over(suffixW)
    val abandonedTerm = aggC(when(abandon && oldQual, argOf("__old_"))).over(fullW)
    val predBase: Column = sp.predText
      .map(t => coalesce(dpred(t), lit(false))).getOrElse(lit(true))
    val keyOkBase: Column = sp.corrCols.map(col(_).isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val outsideDf = collated(df.where(
      !coalesce(firePred, lit(false)) && predBase && keyOkBase))
    val argBase = col(sp.argCol.get)
    var images = images0
    val outside: Column =
      if (sp.corrCols.isEmpty) {
        val r = outsideDf.agg(aggC(argBase)).head()
        if (r.isNullAt(0)) lit(null) else lit(r.get(0))
      } else {
        val bName = sp.name + "__base"
        val keyPfx = sp.name + "__k_"
        val renamed = outsideDf.groupBy(sp.corrCols.map(col): _*)
          .agg(aggC(argBase).as(bName))
          .select((sp.corrCols.map(c => col(c).as(keyPfx + c)) :+ col(bName)): _*)
        val joinCond = sp.corrCols
          .map(c => col("__old_" + c) === col(keyPfx + c)).reduce(_ && _)
        images = images.join(renamed, joinCond, "left")
          .drop(sp.corrCols.map(keyPfx + _): _*)
        col(bName)
      }
    val combined =
      if (isMin) least(outside, newTerm, suffixTerm, abandonedTerm)
      else greatest(outside, newTerm, suffixTerm, abandonedTerm)
    images.withColumn(sp.name, combined).drop(sp.name + "__base")
  }

  /** Reassigned correlation keys (r17, UPDATE only): one firing can
    * REMOVE the row's OLD contribution from one key and ADD its NEW
    * contribution to another, so a single key-partitioned window over
    * the firings can't see both sides. Explode each firing into ±delta
    * EVENTS (the old-key event loses the OLD-qualifying contribution,
    * the new-key event gains the NEW one), run one key-partitioned
    * cumulative over the event stream in firing order (RANGE frame, so
    * both events of one firing land together), and left-join each
    * firing's cumulative back at its own evaluation key — the spelled
    * NEW./OLD. image of the correlation, which now differ — and
    * sequence. count/sum/total/avg only (min/max is not delta-shaped;
    * the caller gates that combination to the general tier). */
  private def selfAggReassignedKey(sp: SelfAggSpec, images0: DataFrame,
      df: DataFrame, qNew: Column, qOld: Column, aiOld: Column,
      argOf: String => Column): DataFrame = {
    val e = sp.name + "__ev_"
    val kws =
      if (sp.corrKwords.length == sp.corrCols.length) sp.corrKwords
      else sp.corrCols.map(_ => "new")
    val evalKeys: Seq[Column] = sp.corrCols.zip(kws).map { case (c, kw) =>
      col((if (kw == "old") "__old_" else "__new_") + c) }
    val isDouble = sp.agg == "total" || sp.agg == "avg"
    def dNew: Column =
      if (sp.agg == "count") when(qNew, lit(1L)).otherwise(lit(0L))
      else if (isDouble)
        when(qNew, argOf("__new_").cast("double")).otherwise(lit(0.0))
      else when(qNew, argOf("__new_")).otherwise(lit(0))
    def dOld: Column =
      if (sp.agg == "count") when(qOld, lit(-1L)).otherwise(lit(0L))
      else if (isDouble)
        when(qOld, -argOf("__old_").cast("double")).otherwise(lit(0.0))
      else when(qOld, -argOf("__old_")).otherwise(lit(0))
    def cNew: Column = when(qNew, lit(1L)).otherwise(lit(0L))
    def cOld: Column = when(qOld, lit(-1L)).otherwise(lit(0L))
    def ev(prefix: String, dv: Column, dc: Column): DataFrame =
      images0.select((sp.corrCols.map(c => col(prefix + c).as(e + "k_" + c)) ++
        Seq(aiOld.as(e + "seq"), dv.as(e + "dv"), dc.as(e + "dc"))): _*)
    val events = ev("__old_", dOld, cOld).unionByName(ev("__new_", dNew, cNew))
    val evW = Window.partitionBy(sp.corrCols.map(c => col(e + "k_" + c)): _*)
      .orderBy(col(e + "seq"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // both events of one firing share a seq: the RANGE frame gives every
    // peer the same after-this-firing cumulative, so any one row per
    // (key, seq) carries it
    val cum = events
      .withColumn(e + "cv", sum(col(e + "dv")).over(evW))
      .withColumn(e + "cc", sum(col(e + "dc")).over(evW))
      .dropDuplicates(sp.corrCols.map(c => e + "k_" + c) :+ (e + "seq"))
      .drop(e + "dv", e + "dc")
    val evJoin = sp.corrCols.zip(evalKeys).map { case (c, k) =>
      k === col(e + "k_" + c) }.reduce(_ && _) && (aiOld === col(e + "seq"))
    var images = images0.join(cum, evJoin, "left")
      .drop((sp.corrCols.map(c => e + "k_" + c) :+ (e + "seq")): _*)
    // BEFORE firings haven't applied their own change yet: subtract the
    // current row's own deltas where they land on its evaluation key
    def hit(prefix: String): Column = sp.corrCols.zip(evalKeys).map {
      case (c, k) => col(prefix + c) === k }.reduce(_ && _)
    val (ccEff, cvEff) =
      if (sp.timing == "BEFORE") {
        val ownDc = when(coalesce(hit("__new_"), lit(false)), cNew)
          .otherwise(lit(0L)) +
          when(coalesce(hit("__old_"), lit(false)), cOld).otherwise(lit(0L))
        val ownDv = when(coalesce(hit("__new_"), lit(false)), dNew)
          .otherwise(lit(0)) +
          when(coalesce(hit("__old_"), lit(false)), dOld).otherwise(lit(0))
        (coalesce(col(e + "cc"), lit(0L)) - ownDc,
          coalesce(col(e + "cv"), lit(0)) - ownDv)
      } else
        (coalesce(col(e + "cc"), lit(0L)), coalesce(col(e + "cv"), lit(0)))
    val predBase: Column = sp.predText
      .map(t => coalesce(dpred(t), lit(false))).getOrElse(lit(true))
    val keyOkBase: Column = sp.corrCols.map(col(_).isNotNull).reduce(_ && _)
    val baseDf = collated(df.where(predBase && keyOkBase))
    val argBase: Column = sp.argCol.map(col).getOrElse(lit(1))
    val bName = sp.name + "__base"
    val b2Name = sp.name + "__base2"
    val keyPfx = sp.name + "__k_"
    val bAgg = (sp.agg match {
      case "count" => count(argBase)
      case "sum" => sum(argBase)
      case _ => sum(argBase.cast("double"))
    }).as(bName)
    val renamed = baseDf.groupBy(sp.corrCols.map(col): _*)
      .agg(bAgg, count(argBase).as(b2Name))
      .select((sp.corrCols.map(c => col(c).as(keyPfx + c)) ++
        Seq(col(bName), col(b2Name))): _*)
    val bJoin = sp.corrCols.zip(evalKeys).map { case (c, k) =>
      k === col(keyPfx + c) }.reduce(_ && _)
    images = images.join(renamed, bJoin, "left")
      .drop(sp.corrCols.map(keyPfx + _): _*)
    // a NULL evaluation key joins nothing on either side: count → 0,
    // sum/avg → NULL, total → 0.0 — SQL equality over an empty set
    val liveCnt = coalesce(col(b2Name), lit(0L)) + ccEff
    val combined: Column = sp.agg match {
      case "count" => coalesce(col(bName).cast("long"), lit(0L)) + ccEff
      case "sum" => when(liveCnt === 0L, lit(null))
        .otherwise(coalesce(col(bName), lit(0)) + cvEff)
      case "total" => coalesce(col(bName), lit(0.0)) + cvEff
      case "avg" => when(liveCnt === 0L, lit(null))
        .otherwise((coalesce(col(bName), lit(0.0)) + cvEff) / liveCnt)
      case other => throw new UnsupportedOperationException(
        s"self-read $other under key reassignment") // unreachable (gated)
    }
    images.withColumn(sp.name, combined)
      .drop(e + "cc", e + "cv", bName, b2Name)
  }

  /** Vectorized UPDATE/DELETE firing: the same pure-DataFrame tier for
    * row changes with pre/post images. The affected set maps to an
    * image frame (OLD = the row, NEW = the assignment projection —
    * SQLite also derives every NEW from the pre-update row); appends
    * stage through [[vecApplyAppends]]; the main change applies via a
    * row-id join (AQE broadcasts the small replacement side), so
    * duplicate rows update independently and nothing collects.
    * Returns true when handled. */
  private def vecFireUpdateDelete(table: String, meta: TableMeta, df: DataFrame,
      trigs: Seq[SqliteDdl.TriggerDef], firePred: Column,
      newCols: Option[String => Column],
      assignedCols: Set[String] = Set.empty): Boolean = {
    val fields = meta.schema.fields
    val ordered0 = trigs.filter(_.timing == "BEFORE") ++
      trigs.filter(_.timing == "AFTER")
    val hasNew = newCols.isDefined
    // self-read aggregate subqueries vectorize for UPDATE/DELETE too
    // (r16): base state + running DELTA window — each fired row
    // contributes (new qualifies) − (old qualifies), which is exactly
    // the statement's per-row table-state evolution (probed: AFTER
    // sums walk 101,102,…; BEFORE lags one row). Preconditions below
    // keep the shape exact; anything else takes the general tier.
    val corrKws = if (hasNew) Set("new", "old") else Set("old")
    val (ordered, selfSpecs) =
      extractSelfAggs(table, fields, ordered0, corrKws).getOrElse(return false)
    val aiNameOpt = meta.autoIncrement
      .filter(n => fields.exists(_.name.equalsIgnoreCase(n)))
    if (selfSpecs.nonEmpty) {
      // firing order is the rowid scan order — the window needs the
      // alias column, un-reassigned
      if (aiNameOpt.isEmpty) return false
      if (assignedCols.exists(_.equalsIgnoreCase(aiNameOpt.get))) return false
      // min/max (r17): exact prefix/suffix/outside decomposition rather
      // than deltas — but not combined with a reassigned correlation
      // key (the partitions would differ per window term)
      if (selfSpecs.exists(sp => (sp.agg == "min" || sp.agg == "max") &&
          sp.corrCols.exists(c => assignedCols.exists(_.equalsIgnoreCase(c)))))
        return false
    }
    def resolve(tg: SqliteDdl.TriggerDef, kw: String, c: String): String = {
      val i = fields.indexWhere(_.name.equalsIgnoreCase(c))
      if (i < 0) throw new IllegalArgumentException(s"no such column: $kw.$c")
      kw match {
        case "old" => "`__old_" + fields(i).name + "`"
        case "new" if hasNew => "`__new_" + fields(i).name + "`"
        case other => throw new IllegalArgumentException(s"no such column: $other.$c")
      }
    }
    val plans = vecCompile(ordered, resolve).getOrElse(return false)
    // BEFORE RAISE(IGNORE) gated on a self-read aggregate is circular
    // under vectorization, like the INSERT tier
    if (selfSpecs.nonEmpty && plans.exists(pl =>
        pl.ignoreFilter && pl.tg.timing == "BEFORE" &&
          pl.tg.when.exists(_.contains("__selfagg_"))))
      return false
    // a body inserting into the UPDATE/DELETE target mid-statement is
    // SQLite-undefined; the general loop's refusal is the contract
    if (vecFlatten(plans).exists(_._1.target.equalsIgnoreCase(table)))
      return false
    val rid = "__trg_rid"
    // a content-derived row id: monotonically_increasing_id values
    // depend on the evaluation's partition layout, and the main-change
    // join re-evaluates this frame under a DIFFERENT plan than the
    // image/append staging (r17 — a layout shift left the anti-join
    // matching only partition-initial rows). The rowid alias is unique,
    // deterministic, and IS SQLite's firing order; without one, pin the
    // generated ids by materializing once (executor-side, like the
    // general tier's checkpoint).
    val tagged = aiNameOpt match {
      case Some(ai) =>
        val n = fields.find(_.name.equalsIgnoreCase(ai)).get.name
        df.withColumn(rid, col(n).cast("long"))
      case None =>
        tagRows(df, rid)
    }
    var images = tagged.where(firePred)
      .withColumn("__vec_seq", col(rid))
    fields.foreach { f =>
      images = images.withColumn("__old_" + f.name, col(f.name))
    }
    newCols.foreach { nc =>
      fields.foreach { f =>
        images = images.withColumn("__new_" + f.name, nc(f.name))
      }
    }
    try selfSpecs.foreach { sp =>
      val abandon = vecAbandonCond(plans)
      def resid(prefix: String): Column = sp.predText
        .map(t => coalesce(
          selfAggPredOverImages(t, table, fields, prefix), lit(false)))
        .getOrElse(lit(true))
      def keyOk(prefix: String): Column = sp.corrCols
        .map(c => col(prefix + c).isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true))
      def argOf(prefix: String): Column =
        sp.argCol.map(c => col(prefix + c)).getOrElse(lit(1L))
      // row j qualifies in its NEW state / qualified in its OLD state
      val qNew: Column =
        if (hasNew) !abandon && resid("__new_") && keyOk("__new_") &&
          (if (sp.argCol.isDefined) argOf("__new_").isNotNull else lit(true))
        else lit(false)
      val qOld: Column = !abandon && resid("__old_") && keyOk("__old_") &&
        (if (sp.argCol.isDefined) argOf("__old_").isNotNull else lit(true))
      val aiOld = col("__old_" + fields
        .find(_.name.equalsIgnoreCase(aiNameOpt.get)).get.name)
      val keyReassigned = sp.corrCols.exists(c =>
        assignedCols.exists(_.equalsIgnoreCase(c)))
      if (sp.agg == "min" || sp.agg == "max") {
        images = selfAggMinMax(sp, images, df, firePred, hasNew, abandon,
          qNew, aiOld, resid, keyOk, argOf)
      } else if (keyReassigned) {
        images = selfAggReassignedKey(sp, images, df, qNew, qOld, aiOld, argOf)
      } else {
      val w0 =
        if (sp.corrCols.isEmpty) Window.orderBy(aiOld)
        else Window.partitionBy(sp.corrCols.map(c => col("__old_" + c)): _*)
          .orderBy(aiOld)
      val w =
        if (sp.timing == "BEFORE")
          w0.rowsBetween(Window.unboundedPreceding, -1)
        else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val predBase: Column = sp.predText
        .map(t => coalesce(dpred(t), lit(false))).getOrElse(lit(true))
      val keyOkBase: Column = sp.corrCols.map(col(_).isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true))
      val baseDf = collated(df.where(predBase && keyOkBase))
      val argBase: Column = sp.argCol.map(col).getOrElse(lit(1))
      val bName = sp.name + "__base"
      val b2Name = sp.name + "__base2"
      // (value agg, qualifying count) per key — the count carries
      // SQLite's sum/avg NULL-on-empty rule through the deltas
      val groupedCols = Seq(
        (sp.agg match {
          case "count" => count(argBase)
          case "total" | "avg" | "sum" if sp.agg != "sum" =>
            sum(argBase.cast("double"))
          case _ => sum(argBase)
        }).as(bName),
        count(argBase).as(b2Name))
      val (baseVal, baseCnt): (Column, Column) =
        if (sp.corrCols.isEmpty) {
          val r = baseDf.agg(groupedCols.head, groupedCols.tail: _*).head()
          (if (r.isNullAt(0)) lit(null) else lit(r.get(0)), lit(r.getLong(1)))
        } else {
          val keyPfx = sp.name + "__k_"
          val renamed = baseDf.groupBy(sp.corrCols.map(col): _*)
            .agg(groupedCols.head, groupedCols.tail: _*)
            .select((sp.corrCols.map(c => col(c).as(keyPfx + c)) ++
              Seq(col(bName), col(b2Name))): _*)
          val joinCond = sp.corrCols
            .map(c => col("__old_" + c) === col(keyPfx + c)).reduce(_ && _)
          images = images.join(renamed, joinCond, "left")
            .drop(sp.corrCols.map(keyPfx + _): _*)
          (col(bName), coalesce(col(b2Name), lit(0L)))
        }
      // DELETE has no __new_ image columns — never reference them
      def newTermL: Column =
        if (hasNew) when(qNew, lit(1L)).otherwise(lit(0L)) else lit(0L)
      def newTermV: Column =
        if (hasNew) when(qNew, argOf("__new_")).otherwise(lit(0)) else lit(0)
      def newTermD: Column =
        if (hasNew) when(qNew, argOf("__new_").cast("double")).otherwise(lit(0.0))
        else lit(0.0)
      val cntDelta = sum(newTermL -
        when(qOld, lit(1L)).otherwise(lit(0L))).over(w)
      val liveCnt = baseCnt + coalesce(cntDelta, lit(0L))
      val combined: Column = sp.agg match {
        case "count" =>
          coalesce(baseVal.cast("long"), lit(0L)) + coalesce(cntDelta, lit(0L))
        case "sum" =>
          val d = sum(newTermV -
            when(qOld, argOf("__old_")).otherwise(lit(0))).over(w)
          when(liveCnt === 0L, lit(null))
            .otherwise(coalesce(baseVal, lit(0)) + coalesce(d, lit(0)))
        case "total" =>
          val d = sum(newTermD -
            when(qOld, argOf("__old_").cast("double")).otherwise(lit(0.0)))
            .over(w)
          coalesce(baseVal, lit(0.0)) + coalesce(d, lit(0.0))
        case "avg" =>
          val d = sum(newTermD -
            when(qOld, argOf("__old_").cast("double")).otherwise(lit(0.0)))
            .over(w)
          when(liveCnt === 0L, lit(null))
            .otherwise((coalesce(baseVal, lit(0.0)) + coalesce(d, lit(0.0))) /
              liveCnt)
        case other => throw new UnsupportedOperationException(
          s"self-read $other under UPDATE/DELETE") // unreachable (gated)
      }
      images = images.withColumn(sp.name, combined).drop(bName, b2Name)
      }
    } catch {
      case _: UnsupportedOperationException => return false
    }
    vecApplyAppends(plans, images)
    val surviving = images.where(!vecAbandonCond(plans))
    // post-image NOT NULL/CHECK at statement time, like the plain
    // UPDATE path (r17 fuzz [724] class of hole)
    newCols.foreach { _ =>
      enforceIncomingConstraints(table, meta, surviving.select(
        fields.map(f => col("__new_" + f.name).as(f.name)).toSeq: _*))
    }
    val out = newCols match {
      case Some(_) => // UPDATE: replace surviving rows via rid join
        val repl = surviving.select(
          (fields.map(f => col("__new_" + f.name).as("__r_" + f.name)) ++
            Seq(col(rid), lit(true).as("__r_hit"))).toSeq: _*)
        tagged.join(repl, Seq(rid), "left")
          .select(fields.map(f =>
            when(coalesce(col("__r_hit"), lit(false)), col("__r_" + f.name))
              .otherwise(col(f.name)).as(f.name)).toSeq: _*)
      case None => // DELETE: drop surviving (= actually deleted) rows
        tagged.join(surviving.select(col(rid)), Seq(rid), "left_anti")
          .drop(rid)
    }
    stage(table, meta, out)
    true
  }

  /** The one INSERT row loop. Every INSERT with a conflict clause, and
    * every triggered INSERT the vectorized tier cannot take, resolves
    * here one incoming row at a time in arrival order, the way SQLite
    * runs OR IGNORE, OR REPLACE and upsert. Per row:
    *
    *  1. BEFORE INSERT programs (these fire in EVERY conflict mode,
    *     even for rows subsequently dropped by OR IGNORE / DO NOTHING
    *     or diverted to DO UPDATE — probed);
    *  2. NOT NULL and CHECK (lang_conflict.html): OR IGNORE skips a
    *     failing row, OR REPLACE gives a NULL its column's DEFAULT, an
    *     upsert fails the statement before any diversion;
    *  3. the row action, decided by the row's keys on every unique
    *     constraint against the rows holding them now (earlier rows of
    *     the statement included): insert / replace (every conflicting
    *     row deleted; no DELETE programs — recursive_triggers off,
    *     probed) / silent drop / upsert-update (UPDATE programs instead
    *     of AFTER INSERT — probed) / SQLite's UNIQUE error;
    *  4. AFTER programs.
    *
    * Within the driver-local cap the keys index the target's local
    * rows (no job); over it, one semi-join against all the statement's
    * incoming keys brings only the rows they reach to the driver. DO
    * UPDATE SET/WHERE and the CHECK predicates are bound once per
    * statement ([[rowEvaluator]]). NEW of an omitted rowid alias reads
    * -1 in BEFORE programs and the assigned id in AFTER (probed). A
    * trigger body that mutates the target (legal in SQLite) re-reads
    * its rows, so later rows see the change. Returns the (possibly
    * ANY-adopted) meta and, for a `retText`, the rows RETURNING
    * reports, in arrival order. */
  private def insertRows(table: String, meta: TableMeta,
      existing: DataFrame, aligned0: DataFrame, conflict: Option[String],
      upsertClause: Option[String], insTrigs: Seq[SqliteDdl.TriggerDef],
      aiAssigned: Option[String], aiBase: Option[Long],
      retText: Option[String]): (TableMeta, Seq[IndexedSeq[Any]]) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val fields = meta.schema.fields
    def fieldIdx(c: String): Int = {
      val i = fields.indexWhere(_.name.equalsIgnoreCase(c))
      if (i < 0) throw new IllegalArgumentException(s"no such column: $c")
      i
    }
    // the upsert clause parsed once: target key columns, DO NOTHING,
    // SET (column, rhs text), WHERE text
    final case class Upsert(keyCols: Seq[String], targeted: Boolean,
        doNothing: Boolean, sets: Seq[(Int, String)], pred: Option[String])
    val upsert: Option[Upsert] = upsertClause.map { clause =>
      val m = onConflictRe.findFirstMatchIn(clause.trim).getOrElse(
        throw new IllegalArgumentException(s"cannot parse ON CONFLICT clause: $clause"))
      // per-column COLLATE/direction stripped, as in index/pk parsing
      val target = Option(m.group(1)).map(SqlLexer.splitTopLevel(_).map(c =>
        SqlScript.unquoteIdent(c.trim.split("\\s+").head)))
      val doNothing = m.group(2).equalsIgnoreCase("NOTHING")
      val (sets, predText) =
        if (doNothing) (Seq.empty[(Int, String)], None)
        else {
          val setBody = m.group(3)
          val whereAt = SqlLexer.lastTopLevel(setBody, "WHERE")
          val (setPart, pp) =
            if (whereAt < 0) (setBody, None)
            else (setBody.substring(0, whereAt), Some(setBody.substring(whereAt + 5)))
          (SqlLexer.splitTopLevel(setPart).map { a =>
            val eq = topLevelEq(a)
            val c = SqlScript.unquoteIdent(a.substring(0, eq).trim)
            requireNotGenerated(meta, c, "UPDATE")
            (fieldIdx(c), a.substring(eq + 1).trim)
          }, pp)
        }
      Upsert(upsertKeyCols(meta, target, requireMatch = !doNothing),
        target.isDefined, doNothing, sets, predText)
    }
    val updTrigs = upsert.filter(!_.doNothing).map(u =>
      activeTriggers(table, "UPDATE", Some(u.sets.map(x => fields(x._1).name))))
      .getOrElse(Nil)
    refuseReturningWithTriggers(retText, insTrigs.nonEmpty || updTrigs.nonEmpty)
    val returning = retText.isDefined
    val mode: String =
      if (upsert.exists(_.doNothing)) "NOTHING"
      else if (upsert.isDefined) "UPDATE"
      else conflict.getOrElse("PLAIN")
    val perRow = touchesTarget(insTrigs ++ updTrigs, table)

    // distributed vectorized tier first: pure DataFrame ops, no
    // collect, no row cap (see tryVectorizedInsertFiring). Bodies that
    // read their own target via supported aggregate subqueries stay on
    // this tier (r11 — extractSelfAggs); the function itself falls
    // back for every other target-touching shape.
    if (mode == "PLAIN" && tryVectorizedInsertFiring(table, meta, existing,
        aligned0, insTrigs, aiAssigned, aiBase))
      return (meta, Nil)

    // the unique constraints a row's keys are checked on, in SQLite's
    // constraint order, an upsert's own target first (an untargeted DO
    // NOTHING has none: it ignores a conflict on ANY of them, probed)
    val target: Option[IndexedSeq[Int]] = upsert
      .filter(u => u.targeted || !u.doNothing).map(_.keyCols.map(fieldIdx).toIndexedSeq)
    val sets: IndexedSeq[IndexedSeq[Int]] =
      if (mode == "PLAIN") IndexedSeq.empty
      else (target.toSeq ++ uniqueKeySets(meta).map(_.map(fieldIdx).toIndexedSeq)
        .filterNot(s => target.exists(_.sorted == s.sorted))).toIndexedSeq
    // a conflict the mode resolves; any other fails the statement
    def resolves(si: Int): Boolean =
      mode == "IGNORE" || mode == "REPLACE" || target.isEmpty || si == 0
    def uniqueFailed(si: Int): Nothing = throw new IllegalArgumentException(
      "UNIQUE constraint failed: " +
        sets(si).map(i => s"$table.${fields(i).name}").mkString(", "))

    var metaCur = meta
    // the target's rows the keys can reach (null: deleted), and over
    // the cap the rest of the target, which no incoming key reaches
    val rows = mutable.ArrayBuffer[IndexedSeq[Any]]()
    var rest: Option[DataFrame] = None
    // per set: collation-normalized key -> slot in `rows`
    val occ = sets.map(_ => mutable.HashMap[Seq[Any], Int]())
    def keyOf(si: Int, r: IndexedSeq[Any]): Seq[Any] =
      if (sets(si).forall(r(_) != null))
        sets(si).map(i => WriteTxn.collNorm(fields(i), r(i)))
      else null
    def index(slot: Int): Unit = if (rows(slot) != null)
      sets.indices.foreach { si =>
        val k = keyOf(si, rows(slot))
        if (k != null) occ(si)(k) = slot
      }
    def unindex(slot: Int): Unit = sets.indices.foreach { si =>
      val k = keyOf(si, rows(slot))
      if (k != null && occ(si).get(k).contains(slot)) occ(si).remove(k)
    }
    def frame(): DataFrame = {
      val live = localDf(metaCur.schema, rows.iterator.filter(_ != null).toSeq)
      rest.map(_.unionByName(live)).getOrElse(live)
    }

    val nnIdx = meta.notNull.map(c => fields.indexWhere(_.name.equalsIgnoreCase(c)))
      .filter(i => i >= 0 && !aiAssigned.exists(_.equalsIgnoreCase(fields(i).name)))
    // OR REPLACE: a NULL into a NOT NULL column takes its DEFAULT
    val nnDefaultCols: Seq[(Int, Column)] =
      if (mode != "REPLACE") Nil
      else nnIdx.flatMap(i => defaultExpr(meta, fields(i).name)
        .map(e => i -> dexpr(e).cast(fields(i).dataType)))
    val nnDefaults: Seq[(Int, Any)] =
      if (nnDefaultCols.isEmpty) Nil
      else nnDefaultCols.map(_._1).zip(
        rowEvaluator(StructType(Nil), nnDefaultCols.map(_._2))(IndexedSeq.empty))
    // incoming rows read once: from their local relation within the
    // cap, else from a checkpoint the over-cap semi-join reads too
    val src = SqlInternals.toLocal(aligned0).getOrElse(aligned0.localCheckpoint(true))

    /** (Re)read the target's rows from `state` and index their keys. */
    def reload(state: DataFrame): Unit = {
      val cols = fields.map(f => col(f.name)).toSeq
      val inOrder = settled(state.select(cols: _*))
      rows.clear()
      occ.foreach(_.clear())
      SqlInternals.localRelation(inOrder) match {
        case Some(lr) =>
          rest = None
          val conv = CatalystTypeConverters.createToScalaConverter(lr.schema)
          lr.data.foreach(r =>
            rows += conv(r).asInstanceOf[org.apache.spark.sql.Row].toSeq.toIndexedSeq)
        case None =>
          val keysSrc = nnDefaultCols.foldLeft(src) { case (d, (i, v)) =>
            d.withColumn(fields(i).name, coalesce(col(fields(i).name), v)) }
          var left = inOrder
          // per set, the rows its incoming keys reach that no earlier
          // set's did: disjoint, so each comes to the driver once
          val reached = sets.map { s =>
            val ks = s.map(i => fields(i).name)
            val keys = keysSrc.select(ks.map(col): _*)
            val hit = collated(left.join(keys, ks, "left_semi")).select(cols: _*)
            left = collated(left.join(keys, ks, "left_anti")).select(cols: _*)
            hit
          }
          rest = Some(left)
          reached.reduceOption(_ unionByName _).foreach(
            _.collect().foreach(r => rows += r.toSeq.toIndexedSeq))
      }
      rows.indices.foreach(index)
    }
    reload(existing)

    // run one program with the per-row state published for its bodies;
    // a body that mutated the target re-reads it
    def fire(t: SqliteDdl.TriggerDef, resolve: (String, String) => String,
        raw: (String, String) => Any): Boolean = {
      var staged: DataFrame = null
      if (perRow) {
        stage(table, metaCur, frame())
        staged = working(table)._2
      }
      val ok = runTriggerProgram(t, resolve, raw)
      if (perRow && (working(table)._2 ne staged)) reload(working(table)._2)
      ok
    }

    /** Expressions bound against the current meta, rebound after an
      * ANY adoption retypes a column. */
    def perMeta[A](build: TableMeta => A): () => A = {
      var at: TableMeta = null
      var v: Option[A] = None
      () => {
        if (at ne metaCur) { v = Some(build(metaCur)); at = metaCur }
        v.get
      }
    }
    // CHECK predicates, bound once: true where a row fails one
    val checkEval = perMeta(m => rowEvaluator(m.schema,
      m.checks.map(c => !coalesce(checkPred(m, c.expr), lit(true)))))
    def requireConstraints(r: IndexedSeq[Any]): Unit = {
      nnIdx.find(r(_) == null).foreach { i =>
        throw new IllegalArgumentException(
          s"NOT NULL constraint failed: $table.${fields(i).name}")
      }
      if (meta.checks.nonEmpty) {
        val c = checkEval()(r).indexWhere(_ == true)
        if (c >= 0) throw new IllegalArgumentException(
          s"CHECK constraint failed: ${meta.checks(c).label}")
      }
    }
    // DO UPDATE over (existing row ++ excluded row), bound once: the
    // WHERE guard, then per SET its value and its STRICT storage-class
    // violation (NULL when it stores); an ANY column's value keeps its
    // own class, which the column adopts before it is stored
    val updEval = perMeta { m =>
      val u = upsert.get
      val fs = m.schema.fields
      val probe = StructType(fs ++ fs.map(f => f.copy(name = s"__exc_${f.name}")))
      withRelationsVisible() {
        val probeDf = localDf(probe, Nil)
        def typeOf(c: Column): DataType = probeDf.select(c).schema.head.dataType
        val outs = u.sets.flatMap { case (i, rhs) =>
          val v = dexpr(rewriteExcluded(rhs))
          val f = fs(i)
          val decl = declOf(m, f.name)
          if (!m.strict) Seq(v.cast(f.dataType), lit(null).cast(StringType))
          else if (decl.equalsIgnoreCase("ANY"))
            Seq(v.cast(anyClassOf(typeOf(v), f.dataType)), lit(null).cast(StringType))
          else {
            val (value, viol) = strictCoerce(decl, f.dataType, typeOf(v), v)
            Seq(value, viol.getOrElse(lit(null).cast(StringType)))
          }
        }
        val pred = u.pred.map(p => coalesce(dpred(rewriteExcluded(p)), lit(false)))
          .getOrElse(lit(true))
        rowEvaluator(probe, pred +: outs)
      }
    }
    // a row held under `from`, its values cast where `to` retyped an
    // ANY column
    def conform(from: StructType, to: StructType)(r: IndexedSeq[Any]): IndexedSeq[Any] =
      if (from eq to) r
      else r.indices.foldLeft(r)((acc, i) =>
        if (from(i).dataType == to(i).dataType) acc
        else acc.updated(i, castValue(acc(i), to(i).dataType)))
    // the ANY columns a DO UPDATE stores a new class into adopt it:
    // every held row, and the over-cap rest, retype with the column
    val affected = mutable.ArrayBuffer[IndexedSeq[Any]]()
    def adoptAny(classes: Seq[(Int, DataType)]): Unit = {
      val (m2, _) = adaptAnyTypes(table, metaCur, frame(), localDf(StructType(
        classes.map { case (i, t) => StructField(fields(i).name, t) }), Nil))
      if (m2 ne metaCur) {
        val retype = conform(metaCur.schema, m2.schema) _
        rows.indices.foreach(s => if (rows(s) != null) rows(s) = retype(rows(s)))
        affected.indices.foreach(a => affected(a) = retype(affected(a)))
        rest = rest.map(_.select(m2.schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name, f.metadata)).toSeq: _*))
        metaCur = m2
        occ.foreach(_.clear())
        rows.indices.foreach(index)
      }
    }

    def doUpdate(key: Seq[Any], excl: IndexedSeq[Any]): Unit = {
      val old = rows(occ(0)(key))
      val out = updEval()(old ++ excl)
      if (out(0) != true) return // the guard fails: no update, and no insert
      val sets0 = upsert.get.sets
      sets0.indices.foreach { j =>
        val viol = out(2 + 2 * j)
        val c = fields(sets0(j)._1).name
        if (viol != null) throw new IllegalArgumentException(
          s"cannot store $viol value in ${declOf(metaCur, c)} column $table.$c")
      }
      val upd0 = sets0.indices.foldLeft(old) { case (r, j) =>
        r.updated(sets0(j)._1, out(1 + 2 * j)) }
      // a value of a new storage class adopts its ANY column first
      val classes = sets0.flatMap { case (i, _) =>
        val v = upd0(i)
        if (v == null || !metaCur.strict ||
            !declOf(metaCur, fields(i).name).equalsIgnoreCase("ANY")) None
        else Some(i -> classOfValue(v)).filter(_._2 != metaCur.schema.fields(i).dataType)
      }
      if (classes.nonEmpty) adoptAny(classes)
      val upd = classes.foldLeft(upd0) { case (r, (i, _)) =>
        r.updated(i, castValue(r(i), metaCur.schema.fields(i).dataType)) }
      def resolveUpd(kw: String, c: String): String = sqliteLiteral(rawUpd(kw, c))
      def rawUpd(kw: String, c: String): Any = kw match {
        case "old" => old(fieldIdx(c))
        case "new" => upd(fieldIdx(c))
        case other => throw new IllegalArgumentException(s"no such column: $other.$c")
      }
      var updIgnored = false
      updTrigs.withFilter(_.timing == "BEFORE").foreach { t =>
        if (!updIgnored && !fire(t, resolveUpd, rawUpd)) updIgnored = true
      }
      // a BEFORE body may have deleted the row meanwhile
      val slot = occ(0).get(key)
      if (updIgnored || slot.isEmpty) return
      requireConstraints(upd)
      sets.indices.foreach { si =>
        val k = keyOf(si, upd)
        if (k != null && occ(si).get(k).exists(_ != slot.get)) uniqueFailed(si)
      }
      unindex(slot.get)
      rows(slot.get) = upd
      index(slot.get)
      if (returning) affected += upd
      updTrigs.withFilter(_.timing == "AFTER").foreach { t =>
        if (!updIgnored && !fire(t, resolveUpd, rawUpd)) updIgnored = true
      }
    }

    val aiIdx = aiAssigned.map(fieldIdx)
    // rowid-alias ids are allocated at APPLY time, not pre-assigned:
    // a row abandoned by RAISE(IGNORE) must not consume an id (probed:
    // SQLite allocates 1,2 for the two survivors of a filtered 4-row
    // insert, no gaps)
    var nextAi = aiBase.getOrElse(0L)
    var spills = 0
    def processRow(row0: IndexedSeq[Any]): Unit = {
      var row = conform(meta.schema, metaCur.schema)(row0)
      def rawIns(before: Boolean)(kw: String, c: String): Any = kw match {
        case "new" =>
          val i = fieldIdx(c)
          if (before && aiIdx.contains(i)) -1L else row(i)
        case other => throw new IllegalArgumentException(s"no such column: $other.$c")
      }
      def resolveIns(before: Boolean)(kw: String, c: String): String =
        sqliteLiteral(rawIns(before)(kw, c))
      var ignored = false
      insTrigs.withFilter(_.timing == "BEFORE").foreach { t =>
        if (!ignored && !fire(t, resolveIns(before = true),
          rawIns(before = true))) ignored = true
      }
      if (ignored) return
      mode match {
        case "IGNORE" =>
          if (nnIdx.exists(row(_) == null) ||
              (meta.checks.nonEmpty && checkEval()(row).contains(true))) return
        case "REPLACE" =>
          row = nnDefaults.foldLeft(row) { case (r, (i, d)) =>
            if (r(i) == null) r.updated(i, d) else r }
          requireConstraints(row)
        case "UPDATE" | "NOTHING" => requireConstraints(row)
        case _ => ()
      }
      val keys = sets.indices.map(keyOf(_, row))
      val hits = sets.indices.filter(si => keys(si) != null && occ(si).contains(keys(si)))
      if (mode == "UPDATE" && hits.headOption.contains(0)) doUpdate(keys(0), row)
      else if (hits.nonEmpty && mode != "REPLACE") {
        // OR IGNORE / DO NOTHING drop the row silently, no AFTER
        // programs (probed); a conflict they do not resolve fails
        if (!hits.exists(resolves)) uniqueFailed(hits.head)
      } else {
        hits.map(si => occ(si)(keys(si))).distinct.foreach { s =>
          unindex(s)
          rows(s) = null
        }
        aiIdx.foreach { i =>
          nextAi += 1
          row = row.updated(i, nextAi)
        }
        rows += row
        index(rows.length - 1)
        if (returning) affected += row
        insTrigs.withFilter(_.timing == "AFTER").foreach { t =>
          if (!ignored && !fire(t, resolveIns(before = false),
            rawIns(before = false))) ignored = true
        }
        // nothing looks a PLAIN row up again: a long statement folds
        // its rows into the lazy rest instead of holding them all
        if (sets.isEmpty && rows.length >= SqlInternals.LocalMaxRows) {
          rest = Some(frame())
          rows.clear()
          spills += 1
          if (spills % 16 == 0) rest = rest.map(_.localCheckpoint(true))
        }
      }
    }
    val incoming: Iterator[IndexedSeq[Any]] = SqlInternals.localRelation(src) match {
      case Some(lr) =>
        val conv = CatalystTypeConverters.createToScalaConverter(lr.schema)
        lr.data.iterator.map(r =>
          conv(r).asInstanceOf[org.apache.spark.sql.Row].toSeq.toIndexedSeq)
      case None => streamRows(src).map(_.toSeq.toIndexedSeq)
    }
    incoming.foreach(processRow)
    val out = frame()
    // over the cap the keys reach only the rows incoming keys name; a
    // SET may move a key onto one of the rest
    if (rest.isDefined && mode == "UPDATE")
      enforceUniqueForUpdate(table, metaCur, out, upsert.get.sets.map(s => fields(s._1).name))
    stage(table, metaCur, out)
    (metaCur, affected.toSeq)
  }

  /** UPDATE with trigger firing: the affected set (pre- AND post-images)
    * is computed once against pre-statement state — SQLite likewise
    * derives every NEW from the pre-update row — then per row: BEFORE
    * programs (RAISE(IGNORE) leaves the row unchanged), the row change,
    * AFTER programs. Row identity is a checkpointed monotonic id, so
    * duplicate rows update independently; bodies mutating their own
    * target mid-UPDATE are refused (SQLite documents that corner as
    * undefined). */
  private def updateWithTriggers(table: String, meta: TableMeta, df: DataFrame,
      assignments: Map[String, Column], pred: Column,
      trigs: Seq[SqliteDdl.TriggerDef]): Unit = {
    val fields = meta.schema.fields
    val nF = fields.length
    val rid = "__trg_rid"
    if (vecFireUpdateDelete(table, meta, df, trigs,
        coalesce(pred, lit(false)),
        newCols = Some(f => assignments.getOrElse(f, col(f))),
        assignedCols = assignments.keySet)) return
    val ridSchema = org.apache.spark.sql.types.StructType(
      fields :+ org.apache.spark.sql.types.StructField(
        rid, org.apache.spark.sql.types.LongType, nullable = false))
    val tagged = tagRows(df, rid)
    val sel = (fields.map(f => col(f.name).as(s"__o_${f.name}")) ++
      fields.map(f => assignments.getOrElse(f.name, col(f.name)).as(s"__n_${f.name}"))) :+
      col(rid)
    val aiIdx = meta.autoIncrement
      .map(ai => fields.indexWhere(_.name.equalsIgnoreCase(ai))).filter(_ >= 0)
    // SQLite's rowid scan order, sorted SPARK-SIDE so the stream
    // arrives ordered without a driver materialization (r17)
    val ordKey: Column = aiIdx match {
      case Some(i) =>
        coalesce(col(s"__o_${fields(i).name}").cast("long"), col(rid))
      case None => col(rid)
    }
    val rows = streamRows(
      tagged.where(coalesce(pred, lit(false))).select(sel.toSeq: _*)
        .orderBy(ordKey))
    rowTriggerLoop(table, meta, tagged, rid, trigs, rows.map { r =>
      val oldV = (0 until nF).map(r.get(_)).toIndexedSeq
      val newV = (nF until 2 * nF).map(r.get(_)).toIndexedSeq
      (r.getLong(2 * nF), oldV, Some(newV))
    }, ridSchema)
  }

  /** DELETE with trigger firing: same loop, OLD images only. */
  private def deleteWithTriggers(table: String, meta: TableMeta, df: DataFrame,
      delPred: Column, trigs: Seq[SqliteDdl.TriggerDef]): Unit = {
    val fields = meta.schema.fields
    val nF = fields.length
    val rid = "__trg_rid"
    if (vecFireUpdateDelete(table, meta, df, trigs, delPred, newCols = None)) return
    val ridSchema = org.apache.spark.sql.types.StructType(
      fields :+ org.apache.spark.sql.types.StructField(
        rid, org.apache.spark.sql.types.LongType, nullable = false))
    val tagged = tagRows(df, rid)
    val aiIdx = meta.autoIncrement
      .map(ai => fields.indexWhere(_.name.equalsIgnoreCase(ai))).filter(_ >= 0)
    // SQLite's rowid scan order, sorted Spark-side; streamed (r17)
    val ordKey: Column = aiIdx match {
      case Some(i) => coalesce(col(fields(i).name).cast("long"), col(rid))
      case None => col(rid)
    }
    val rows = streamRows(tagged.where(delPred).orderBy(ordKey))
    rowTriggerLoop(table, meta, tagged, rid, trigs, rows.map { r =>
      (r.getLong(nF), (0 until nF).map(r.get(_)).toIndexedSeq, None)
    }, ridSchema)
  }

  /** Shared per-row loop for UPDATE/DELETE firing: `changes` is
    * (rowId, OLD image, Some(NEW image) for update / None for delete).
    * UNCAPPED since r17: `changes` STREAMS (one partition of driver
    * memory at a time), and the applied rows fold into the working
    * frame in bounded batches with periodic lineage truncation — the
    * residual non-vectorizable shapes pay row-at-a-time throughput,
    * never a refusal (SQLite has no cap). */
  private def rowTriggerLoop(table: String, meta: TableMeta, tagged: DataFrame,
      rid: String, trigs: Seq[SqliteDdl.TriggerDef],
      changes: Iterator[(Long, IndexedSeq[Any], Option[IndexedSeq[Any]])],
      ridSchema: org.apache.spark.sql.types.StructType): Unit = {
    val fields = meta.schema.fields
    val perRow = touchesTarget(trigs, table)
    var cur = tagged
    // driver-local tier (see "driver-local working frames"): a local
    // `tagged` takes each change straight into its LocalRelation — a
    // where + union + fold per change was the loop's residual wall
    def applyLocal(ridV: Long, newVOpt: Option[IndexedSeq[Any]]): Boolean =
      perRow && (SqlInternals.localRelation(cur) match {
        case Some(lr) if lr.data.length < SqlInternals.LocalMaxRows =>
          val ridOrd = lr.output.indexWhere(_.name == rid)
          cur = localAppend(lr, ridSchema, newVOpt.map(_ :+ ridV).toSeq,
            keep = r => r.isNullAt(ridOrd) || r.getLong(ridOrd) != ridV)
          true
        case _ => false
      })
    var lastPublished: DataFrame = null
    def fire(t: SqliteDdl.TriggerDef, resolve: (String, String) => String,
        raw: (String, String) => Any): Boolean = {
      if (perRow) {
        lastPublished = cur.drop(rid)
        working(table) = (meta, lastPublished); dirty += table
      }
      val ok = runTriggerProgram(t, resolve, raw)
      if (perRow && (working(table)._2 ne lastPublished))
        throw new UnsupportedOperationException(
          "a trigger body modified its own target table during UPDATE/DELETE — " +
            "SQLite documents that corner as undefined; unsupported here")
      ok
    }
    // !perRow: applied changes buffer per batch, then fold into `cur`
    // (one isin-filter + one union per batch; checkpoint every 16
    // folds bounds both lineage depth and driver memory)
    val batch = mutable.LinkedHashMap[Long, Option[IndexedSeq[Any]]]()
    var anyApplied = false
    var folds = 0
    var opCount = 0
    def foldBatch(): Unit = if (batch.nonEmpty) {
      cur = cur.where(!col(rid).isin(batch.keys.toSeq: _*))
      val replacements = batch.collect {
        case (k, Some(v)) => (v :+ k): IndexedSeq[Any] }.toSeq
      if (replacements.nonEmpty)
        cur = cur.unionByName(localDf(ridSchema, replacements))
      batch.clear()
      folds += 1
      if (folds % 16 == 0) cur = cur.localCheckpoint(true)
    }
    changes.foreach { case (ridV, oldV, newVOpt) =>
      def imageAt(kw: String, c: String): Any = {
        val i = fields.indexWhere(_.name.equalsIgnoreCase(c))
        if (i < 0) throw new IllegalArgumentException(s"no such column: $kw.$c")
        (kw, newVOpt) match {
          case ("old", _) => oldV(i)
          case ("new", Some(nv)) => nv(i)
          case _ => throw new IllegalArgumentException(s"no such column: $kw.$c")
        }
      }
      def resolve(kw: String, c: String): String = sqliteLiteral(imageAt(kw, c))
      var ignored = false
      trigs.withFilter(_.timing == "BEFORE").foreach { t =>
        if (!ignored && !fire(t, resolve, imageAt)) ignored = true
      }
      if (!ignored) {
        anyApplied = true
        if (perRow) {
          if (!applyLocal(ridV, newVOpt)) {
            cur = cur.where(col(rid) =!= ridV)
            newVOpt.foreach(nv =>
              cur = cur.unionByName(localDf(ridSchema, Seq(nv :+ ridV))))
            opCount += 1
            if (opCount % 64 == 0) cur = cur.localCheckpoint(true)
          }
        } else {
          batch(ridV) = newVOpt
          if (batch.size >= FoldBatchRows) foldBatch()
        }
        trigs.withFilter(_.timing == "AFTER").foreach { t =>
          if (!ignored && !fire(t, resolve, imageAt)) ignored = true
        }
      }
    }
    foldBatch()
    val out =
      if (!anyApplied && !perRow) tagged.drop(rid)
      else cur.drop(rid)
    stage(table, meta, out)
  }

  /** Resolve an upsert conflict target to its key columns (PRIMARY KEY
    * or a recorded UNIQUE index — SQLite's rule and error text).
    * `requireMatch`: DO UPDATE must have real key columns; DO NOTHING
    * with no PK degenerates to nothing-can-conflict. */
  private def upsertKeyCols(meta: TableMeta, target: Option[Seq[String]],
      requireMatch: Boolean): Seq[String] = {
    val cols = target match {
      case None => meta.primaryKey.toSeq
      case Some(cs) =>
        val lc = cs.map(_.toLowerCase).toSet
        if (meta.primaryKey.nonEmpty && meta.primaryKey.map(_.toLowerCase).toSet == lc)
          meta.primaryKey.toSeq
        else meta.uniques.find(_.map(_.toLowerCase).toSet == lc)
          .orElse(meta.indexes.find(ix => ix.unique &&
            ix.columns.map(_.toLowerCase).toSet == lc).map(_.columns))
          .getOrElse(throw new IllegalArgumentException(
            "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint"))
    }
    if (requireMatch && cols.isEmpty)
      throw new IllegalArgumentException(
        "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint")
    cols
  }

  /** Run a SELECT with the txn's current table state visible as views.
    * View registration happens on the engine session (the staged
    * DataFrames belong to it), guarded by a global mutex; `spark.sql`
    * analyzes (and therefore resolves the views) eagerly, so the views
    * can be dropped again before the mutex is released. */
  private def runSelect(select: String,
      overrides: Map[String, DataFrame] = Map.empty): DataFrame =
    withRelationsVisible(overrides) { SqliteDialect.sql(spark, select) }

  /** Run `body` with the txn's current table state registered as temp
    * views — Dataset creation analyzes EAGERLY, so any plan built
    * inside (a `df.where` with an IN-subquery over another table, a
    * compiled SELECT) resolves here and stays resolved after the views
    * drop (temp-view resolution inlines the child plan). Re-entrant:
    * a nested call (runSelect inside a wrapped UPDATE/DELETE) must not
    * drop the outer block's views mid-statement. */
  private var relationsVisible = 0
  private def withRelationsVisible[A](
      overrides: Map[String, DataFrame] = Map.empty)(body: => A): A =
    WriteTxn.selectMutex.synchronized {
    if (relationsVisible > 0) {
      // nested: base views are already up; only the statement-scoped
      // overrides come and go
      overrides.foreach { case (n, df) => df.createOrReplaceTempView(n) }
      try body
      finally overrides.keys.foreach(n => spark.catalog.dropTempView(n))
    } else {
      val names = tableNames
      ensureViews()
      val registeredViews = mutable.ArrayBuffer[String]()
      val foreignRegistered = mutable.ArrayBuffer[String]()
      relationsVisible += 1
      try {
        names.foreach { t =>
          val df = working.get(t).map(_._2).getOrElse(backLoad(t))
          df.createOrReplaceTempView(t)
        }
        // cross-db visibility (ATTACH, r17): every OTHER db's tables and
        // views register under their mangled per-scope names, so a
        // rewritten `db.tbl` reference resolves. Zero-cost when nothing
        // is attached.
        // staged sqlite_master (r17): a script may read the catalog
        // mid-transaction (probed: sqlite serves the staged view);
        // assembled only when the statement names it
        if (masterWanted) {
          val m = masterDf(activeDb)
          Seq("sqlite_master", "sqlite_schema").foreach { n =>
            m.createOrReplaceTempView(n); foreignRegistered += n
          }
        }
        if (attachedDbs.nonEmpty) {
          dbKeys.filterNot(_ == activeDb).foreach { db =>
            if (masterWanted) {
              Seq("sqlite_master", "sqlite_schema").foreach { n =>
                val vn = mangle(db, n)
                masterDf(db).createOrReplaceTempView(vn); foreignRegistered += vn
              }
            }
            scopeTables(db).foreach { t =>
              scopeTableDf(db, t).foreach { df =>
                val vn = mangle(db, t)
                df.createOrReplaceTempView(vn); foreignRegistered += vn
              }
            }
            // a foreign scope's views compile with ALL their references
            // mangled into that scope (view bodies reference own-db
            // objects only — sqlite refuses the rest at CREATE)
            scopeViews(db).foreach { v =>
              try {
                val sel = rewriteDbRefs(v.sparkSelect, db, mangleOwn = true)
                val vn = mangle(db, v.name)
                SqliteDialect.sql(spark, sel).createOrReplaceTempView(vn)
                foreignRegistered += vn
              } catch { case scala.util.control.NonFatal(_) => () }
            }
          }
        }
        // the txn's views resolve over that table state, in creation
        // order (view-on-view). A dangling view (since-dropped base
        // table) registers nothing and errors only if the SELECT then
        // references it — SQLite's use-time resolution contract.
        stagedViews.values.foreach { v =>
          try {
            SqliteDialect.sql(spark, v.sparkSelect).createOrReplaceTempView(v.name)
            registeredViews += v.name
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        // statement-scoped relations (UPDATE…FROM's rid-tagged target,
        // RETURNING's affected-row image) shadow same-named tables/views
        overrides.foreach { case (n, df) => df.createOrReplaceTempView(n) }
        body
      } finally {
        relationsVisible -= 1
        overrides.keys.foreach(n => spark.catalog.dropTempView(n))
        registeredViews.foreach(spark.catalog.dropTempView(_))
        names.foreach(t => spark.catalog.dropTempView(t))
        foreignRegistered.foreach(spark.catalog.dropTempView(_))
      }
    }
  }
}

private[graft] object WriteTxn {
  val selectMutex = new Object

  /** Tuples of an `INSERT … VALUES` list parsed per SELECT: a UNION ALL
    * this deep stays well inside the parser's stack. */
  private val ValuesChunk = 200

  /** How long ATTACH waits for a busy segment's script lock before
    * refusing with 'database is locked' — python sqlite3's default
    * busy_timeout (5 s), the stack the reference runs on. Tests that
    * exercise the refusal shrink it. */
  @volatile private[engine] var attachLockTimeoutMs: Long = 5000L

  /** Driver-side collation normalization for conflict-map keys (r17):
    * NOCASE folds ASCII A–Z only (sqlite's rule, datatype3.html §7.1),
    * RTRIM strips trailing 0x20 — so two values comparing equal under
    * the declared collation normalize to the same map key. Non-string
    * storage values pass through (dynamic typing). */
  private[engine] def collNorm(f: org.apache.spark.sql.types.StructField,
      v: Any): Any = v match {
    case s: String => SqliteDdl.collationOf(f).map(_.toUpperCase) match {
      case Some("NOCASE") =>
        s.map(ch => if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
      case Some("RTRIM") =>
        var e = s.length
        while (e > 0 && s.charAt(e - 1) == ' ') e -= 1
        s.substring(0, e)
      case _ => s
    }
    case b: Array[Byte] => b.toSeq // a blob key compares by content
    case other => other
  }

  /** Rewrite `kw.<ident>` row references (NEW./OLD./excluded., any
    * SQLite ident quoting) through `resolve` — token-level, so string
    * literals mentioning "new." survive untouched. */
  private[engine] def rewriteRowRefs(s: String, keywords: Set[String],
      resolve: (String, String) => String): String =
    SqlLexer.rewrite(s) { (toks, i) =>
      val kw = toks(i)
      if (kw.kind == SqlLexer.Word && keywords.exists(_.equalsIgnoreCase(kw.text)) &&
          !(i > 0 && toks(i - 1).isPunct('.')) && i + 2 < toks.length &&
          toks(i + 1).isPunct('.') && toks(i + 2).isName)
        Some((i + 3, resolve(kw.lower, toks(i + 2).value)))
      else None
    }

  /** Rewrite `RAISE(IGNORE)` / `RAISE(ABORT|FAIL|ROLLBACK, msg)` into
    * `graft_trigger_raise(kind, msg)` UDF calls, so RAISE works
    * anywhere in a body expression — `SELECT CASE WHEN … THEN
    * RAISE(ABORT, '…') END` is the idiomatic SQLite guard shape. */
  private[engine] def rewriteRaise(s: String): String =
    SqlLexer.rewrite(s) { (toks, i) =>
      val close =
        if (toks(i).is("raise") && !(i > 0 && toks(i - 1).isPunct('.')) &&
            toks.lift(i + 1).exists(_.isPunct('('))) SqlLexer.matchParen(toks, i + 1)
        else -1
      if (close < 0) None
      else {
        val args = SqlLexer.splitTopLevel(s.substring(toks(i + 1).end, toks(close).start))
        val kind = args.head.trim.toUpperCase
        require(Set("IGNORE", "ABORT", "FAIL", "ROLLBACK").contains(kind),
          s"unknown RAISE form: ${args.head.trim}")
        val msg = if (args.length > 1) args(1).trim else "''"
        Some((close + 1, s"graft_trigger_raise('$kind', $msg)"))
      }
    }


  /** Leading-numeric prefix for SQLite text→NUMERIC truthiness. */
  private[engine] val numericPrefixRe =
    "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r

  /** Pragmas safe to no-op: they tune storage/journaling/caching, none
    * of which exists over parquet. `foreign_keys` is included because
    * this engine never enforces FK constraints anyway (SqliteDdl drops
    * them, documented) — the pragma is moot rather than divergent. */
  val physicalPragmas: Set[String] = Set(
    "journal_mode", "synchronous", "page_size", "cache_size", "temp_store",
    "mmap_size", "wal_autocheckpoint", "wal_checkpoint", "busy_timeout",
    "locking_mode", "secure_delete", "auto_vacuum", "incremental_vacuum",
    "optimize", "analysis_limit", "shrink_memory", "threads",
    "journal_size_limit", "checkpoint_fullfsync", "fullfsync",
    "user_version", "application_id", "foreign_keys")
}

/** RAISE() control-flow carrier, thrown out of the
  * `graft_trigger_raise` UDF that [[WriteTxn]]'s body rewrite turns
  * `RAISE(...)` calls into (lang_createtrigger.html §RAISE). Unwrapped
  * from Spark's UDF exception wrapping by the firing loop: IGNORE
  * abandons the row, everything else aborts the script with SQLite's
  * bare message text. */
private[engine] final class TriggerRaise(val kind: String, val msgText: String)
  extends RuntimeException(msgText)

private[engine] object TriggerRaise {
  def fire(kind: String, msg: String): Long =
    throw new TriggerRaise(kind, if (msg == null) "" else msg)
}
