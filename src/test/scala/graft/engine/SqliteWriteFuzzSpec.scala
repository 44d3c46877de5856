package graft.engine

import java.nio.file.Files

import graft.SparkSpecBase

/** DIFFERENTIAL FUZZER for the WRITE path: generates random schemas
  * (types, PK/rowid alias, NOT NULL + DEFAULT, CHECK, UNIQUE incl.
  * UNIQUE over COLLATE NOCASE/RTRIM columns, STRICT, generated
  * columns) and random write scripts (INSERT incl. OR IGNORE / OR
  * REPLACE / upsert of 1-3 tuples that may repeat an id, UPDATE,
  * DELETE, ALTER ADD/DROP/RENAME COLUMN,
  * CREATE TRIGGER with an audit body, CREATE VIEW), runs each script
  * through the engine AND through real sqlite3 — both as ONE
  * transaction (the engine's contract; sqlite3 via `.bail on` +
  * BEGIN…COMMIT, so an error rolls the whole script back there too) —
  * and compares the final content of every table (and any created
  * view) via `quote()` rows.
  *
  * This is the write-surface analog of SqliteExprFuzzSpec: the
  * constraint gates, upsert merge logic, STRICT coercions, trigger
  * firing, and ALTER machinery each have probed specs, but only a
  * fuzzer exercises their COMBINATIONS (a CHECK failing after an OR
  * REPLACE merge on a STRICT table, a nocase UNIQUE collision under
  * OR IGNORE, a DROP COLUMN refused by a trigger body, …).
  *
  * Identifiers come in all four SQLite spellings (bare, "…", `…`,
  * […]; some column names hold a space and are always quoted), and a
  * keyword is sometimes glued to a following paren or quote
  * (`WHERE(…)`, `SET"c1" = …`), so the lexing of every write-path
  * scanner is fuzzed along with the semantics.
  *
  * Stays on the engine's documented domain: no double-quoted string
  * literals, typed comparisons, explicit PK values (the engine
  * auto-assigns only OMITTED rowid-alias columns, not explicit
  * NULLs), and triggers never combined with same-statement RETURNING.
  */
class SqliteWriteFuzzSpec extends SparkSpecBase {

  // GRAFT_WRITE_FUZZ_COUNT / GRAFT_WRITE_FUZZ_SEED env vars → -D props
  private val COUNT =
    sys.props.get("graft.writefuzz.count").map(_.toInt).getOrElse(30)
  private val SEED =
    sys.props.get("graft.writefuzz.seed").map(_.toLong).getOrElse(20260814L)
  private val rng = new scala.util.Random(SEED)

  private lazy val root = Files.createTempDirectory("graft-wfuzz").toString
  private lazy val engine = {
    val store = new SegmentStore(spark, root)
    new TroughEngine(spark, store, new SchemaRegistry)
  }

  private case class Col(name: String, tpe: String)

  /** A column reference in a random SQLite spelling; a name with a
    * space is always quoted. */
  private def q(name: String): String =
    rng.nextInt(if (name.contains(' ')) 3 else 4) match {
      case 0 => "\"" + name + "\""
      case 1 => s"`$name`"
      case 2 => s"[$name]"
      case _ => name
    }

  /** `kw rest`, sometimes with no space when `rest` opens with a paren
    * or a quote (SQLite's tokenizer needs none there). */
  private def glue(kw: String, rest: String): String =
    if ("(\"`['".contains(rest.head) && rng.nextBoolean()) kw + rest else s"$kw $rest"

  private def where(pred: String): String =
    glue("WHERE", if (rng.nextInt(3) == 0) s"($pred)" else pred)

  private def intLit: String = (rng.nextInt(26) - 5).toString
  // the pool deliberately contains NOCASE case-variants and RTRIM
  // trailing-space variants, so collated UNIQUE columns see REAL
  // collation collisions under every conflict mode
  private val textPool =
    Seq("t0", "T0", "t1", "t2", "aa", "AA", "Aa", "bb", "bb ", "bb  ", "c c")
  private def textLit: String = s"'${textPool(rng.nextInt(textPool.length))}'"
  private def realLit: String = s"${rng.nextInt(10)}.${rng.nextInt(10) * 25 + 25}"
  private def litFor(tpe: String, strict: Boolean): String = {
    // in non-strict tables any value can land anywhere (dynamic typing
    // deviations are documented) — generate type-matching values; in
    // STRICT tables also exercise the lossless-coercion path
    val r = rng.nextInt(10)
    tpe match {
      case _ if r == 0 => "NULL"
      case "INTEGER" => if (strict && r == 1) s"'${rng.nextInt(20)}'" else intLit
      case "REAL" => if (r % 2 == 0) realLit else intLit
      case "TEXT" => textLit
      case _ => intLit
    }
  }

  /** Random table definition; returns (ddl, cols, strict). The DDL
    * also carries a `log` audit table for trigger bodies. TEXT columns
    * sometimes declare COLLATE NOCASE/RTRIM — combined with the
    * case-variant value pool and the UNIQUE sprinkles, that drives the
    * collation-aware conflict machinery differentially. A trailing
    * generated column (VIRTUAL or STORED over the rowid alias) rides
    * along sometimes; it never appears in the INSERT column lists
    * (bare VALUES covers base columns only, SQLite's rule). */
  private def genTable(name: String): (String, Seq[Col], Boolean) = {
    val strict = rng.nextInt(4) == 0
    val nCols = 2 + rng.nextInt(3)
    val types = Seq("INTEGER", "TEXT", "REAL")
    val cols = Col("id", "INTEGER") +:
      (1 to nCols).map(i => Col(if (rng.nextInt(4) == 0) s"c $i" else s"c$i",
        types(rng.nextInt(types.length))))
    val defs = cols.zipWithIndex.map { case (c, i) =>
      if (i == 0) s"${c.name} INTEGER PRIMARY KEY"
      else {
        val extras = new StringBuilder
        if (c.tpe == "TEXT") rng.nextInt(4) match {
          case 0 => extras ++= " COLLATE NOCASE"
          case 1 => extras ++= " COLLATE RTRIM"
          case _ => ()
        }
        if (rng.nextInt(4) == 0) {
          val d = c.tpe match {
            case "INTEGER" => intLit
            case "REAL" => realLit
            case _ => textLit
          }
          if (rng.nextInt(3) == 0) extras ++= " NOT NULL " + glue("DEFAULT", d)
          else extras ++= " " + glue("DEFAULT", d)
        }
        if (c.tpe == "INTEGER" && rng.nextInt(5) == 0)
          extras ++= " " + glue("CHECK", s"(${q(c.name)} > -900)")
        // collated TEXT columns get UNIQUE more often: that's where
        // the collation-aware conflict detection lives
        val uniqueOdds = if (extras.toString.contains("COLLATE")) 3 else 8
        if (rng.nextInt(uniqueOdds) == 0) extras ++= " UNIQUE"
        s"${q(c.name)} ${c.tpe}$extras"
      }
    }
    // occasional composite table-level UNIQUE over the first two data
    // columns — drives the any-key conflict paths and the DROP COLUMN
    // table-error refusal
    val tableConstraint =
      if (nCols >= 2 && rng.nextInt(5) == 0)
        Seq(glue("UNIQUE", s"(${q(cols(1).name)}, ${q(cols(2).name)})"))
      else Nil
    val gen =
      if (strict || rng.nextInt(4) != 0) Nil
      else Seq(s"g0 INTEGER GENERATED ALWAYS AS (id * 2 + 1)" +
        (if (rng.nextBoolean()) " STORED" else " VIRTUAL"))
    (s"CREATE TABLE $name (${(defs ++ gen ++ tableConstraint).mkString(", ")})" +
      (if (strict) " STRICT" else "") + ";\n" +
      "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      cols, strict)
  }

  /** Whether the generated script created a view `v` (compared at the
    * end when set). */
  private var madeView = false

  private var nextId = 1

  /** One VALUES tuple: an id already handed out when `collide` (and
    * one was), else a fresh one, then a literal per column. */
  private def tuple(cols: Seq[Col], strict: Boolean, collide: Boolean): String =
    cols.map {
      case Col("id", _) =>
        if (collide && nextId > 1) (rng.nextInt(nextId) + 1).toString
        else { nextId += 1; nextId.toString }
      case c => litFor(c.tpe, strict)
    }.mkString("(", ", ", ")")

  private def genScript(table: String, cols0: Seq[Col], strict: Boolean): String = {
    var cols = cols0
    nextId = 1
    var added = 0
    var triggers = 0
    madeView = false
    val stmts = (1 to (3 + rng.nextInt(6))).map { _ =>
      rng.nextInt(15) match {
        case 12 if triggers < 2 =>
          triggers += 1
          val timing = if (rng.nextBoolean()) "BEFORE" else "AFTER"
          val (event, row) = rng.nextInt(3) match {
            case 0 => ("INSERT", "NEW")
            case 1 => ("DELETE", "OLD")
            case _ => ("UPDATE", "NEW")
          }
          val when = if (rng.nextInt(3) == 0) s" WHEN $row.${q("id")} > ${rng.nextInt(6)}" else ""
          // a third of INSERT-audit bodies READ THEIR OWN TARGET via an
          // aggregate subquery (r11 vectorized self-read tier; other
          // events/shapes take the general row loop — both must agree
          // with sqlite3 either way)
          val payload =
            if (event == "INSERT" && rng.nextInt(3) == 0) {
              val agg = Seq("count(*)", "count(id)", "max(id)", "min(id)")(rng.nextInt(4))
              val pred = if (rng.nextBoolean()) " " + where(s"${q("id")} > ${rng.nextInt(4)}") else ""
              s"(SELECT $agg FROM $table$pred) || '@' || $row.id"
            } else s"'${event.take(1)}' || $row.${q("id")}"
          s"CREATE TRIGGER tg$triggers $timing $event ON $table$when BEGIN " +
            s"INSERT INTO log (msg) VALUES ($payload); END;"
        case 13 if !madeView && cols.length > 1 =>
          madeView = true
          // the view pins its column names so the end-of-script compare
          // can query it identically on both engines even after renames
          s"CREATE VIEW v (vid, vc) AS SELECT id, ${q(cols(1).name)} FROM $table " +
            where(s"id % ${2 + rng.nextInt(3)} = 0") + ";"
        case 14 if cols.exists(_.tpe == "TEXT") =>
          // text-predicate DML: the collation (if declared) governs the
          // comparison on the write path too
          val tc = pickText(cols)
          if (rng.nextBoolean())
            s"DELETE FROM $table ${where(s"${q(tc.name)} = $textLit")};"
          else {
            val tgt = cols(1 + rng.nextInt(cols.length - 1))
            val rhs = litFor(tgt.tpe, strict)
            s"UPDATE $table ${glue("SET", s"${q(tgt.name)} = $rhs")} " +
              where(s"${q(tc.name)} = $textLit") + ";"
          }
        case 0 | 1 | 2 | 3 =>
          val conflict = rng.nextInt(6) match {
            case 0 => "OR IGNORE "
            case 1 => "OR REPLACE "
            case _ => ""
          }
          // mostly fresh ids, sometimes a deliberate collision; a
          // conflict INSERT carries 1-3 tuples, which may collide with
          // each other too
          val tuples = (1 to (if (conflict.isEmpty) 1 else 1 + rng.nextInt(3)))
            .map(_ => tuple(cols, strict, collide = rng.nextInt(4) == 0))
          s"INSERT $conflict INTO $table ${glue("VALUES", tuples.mkString(", "))};"
        case 4 =>
          val tuples = (1 to (1 + rng.nextInt(3)))
            .map(_ => tuple(cols, strict, collide = rng.nextInt(3) > 0))
          val tgt = cols(1 + rng.nextInt(cols.length - 1))
          s"INSERT INTO $table VALUES ${tuples.mkString(", ")} " +
            s"ON CONFLICT(id) DO UPDATE SET ${q(tgt.name)} = excluded.${q(tgt.name)};"
        case 5 | 6 =>
          val tgt = cols(1 + rng.nextInt(cols.length - 1))
          val rhs =
            if (tgt.tpe == "INTEGER" && rng.nextInt(2) == 0) s"${q(tgt.name)} + 1"
            else litFor(tgt.tpe, strict)
          s"UPDATE $table ${glue("SET", s"${q(tgt.name)} = $rhs")} " +
            where(s"${q("id")} % ${2 + rng.nextInt(3)} = ${rng.nextInt(2)}") + ";"
        case 7 =>
          s"DELETE FROM $table ${where(s"${q("id")} > ${rng.nextInt(12)}")};"
        case 8 if added < 2 =>
          added += 1
          val tpe = Seq("INTEGER", "TEXT", "REAL")(rng.nextInt(3))
          val d = tpe match {
            case "INTEGER" => intLit
            case "REAL" => realLit
            case _ => textLit
          }
          cols = cols :+ Col(s"x$added", tpe)
          s"ALTER TABLE $table ADD COLUMN x$added $tpe DEFAULT $d;"
        case 9 if cols.length > 2 =>
          // drop a random non-pk column — may be refused (UNIQUE/CHECK
          // members), which is itself differential signal
          val victim = cols(1 + rng.nextInt(cols.length - 1))
          cols = cols.filterNot(_.name == victim.name)
          s"ALTER TABLE $table DROP COLUMN ${q(victim.name)};"
        case 10 if cols.length > 2 =>
          val victim = cols(1 + rng.nextInt(cols.length - 1))
          val nn = victim.name + "r"
          cols = cols.map(c => if (c.name == victim.name) c.copy(name = nn) else c)
          s"ALTER TABLE $table RENAME COLUMN ${q(victim.name)} TO ${q(nn)};"
        case _ =>
          s"DELETE FROM $table ${where(s"${q("id")} = ${rng.nextInt(10)}")};"
      }
    }
    stmts.mkString("\n")
  }

  private def pickText(cols: Seq[Col]): Col = {
    val ts = cols.filter(_.tpe == "TEXT")
    ts(rng.nextInt(ts.length))
  }

  /** Multiset of quote()-rendered rows of `table`, sorted — engine
    * side. Generated columns are skipped to mirror the sqlite3 side's
    * `pragma_table_info` projection (which hides them, probed 3.51). */
  private def engineRows(seg: String, table: String): Option[Seq[String]] =
    scala.util.Try {
      val meta = engine.store.tableMeta(seg, table)
      val sel = meta.schema.fieldNames
        .filterNot(c => meta.generated.exists(_.name.equalsIgnoreCase(c)))
        .map(c => s"quote(`$c`)").mkString(" || '|' || ")
      engine.read(seg, s"SELECT $sel AS r FROM $table;")
        .collect().map(_.getString(0)).toSeq.sorted
    }.toOption

  /** Same multiset from the sqlite3 side. */
  private def sqliteRows(db: String, table: String): Option[Seq[String]] =
    scala.util.Try {
      val colsCsv = SqliteCli.query(db,
        s"SELECT name FROM pragma_table_info('$table');")
        .split("\n").filter(_.nonEmpty)
      val sel = colsCsv.map(c => s"quote(\"$c\")").mkString(" || '|' || ")
      val out = SqliteCli.query(db, s"SELECT $sel FROM $table;")
      out.split("\n").filter(_.nonEmpty).toSeq.sorted
    }.toOption

  test("double-quoted tokens in UPDATE/DELETE tails follow the DQS rule") {
    // differential vs sqlite3 with `.dbconfig dqs_dml on` — the DQS
    // mode the reference actually runs under (python's sqlite3 keeps
    // the misfeature enabled): resolvable "name" = identifier,
    // unresolvable = string literal (r16, WriteTxn.rewriteDqs)
    val segId = "wf-dqs"
    val ddl = "CREATE TABLE d (id INTEGER PRIMARY KEY, a TEXT, b INTEGER);"
    engine.schemas.put("wf-dqs-schema", ddl)
    engine.provisionWritable(segId, "wf-dqs-schema")
    val db = Files.createTempDirectory("wfuzz-dqs").resolve("f.sqlite")
    assert(SqliteCli.run(db.toString, ddl) == 0)
    def runBoth(script: String): Unit = {
      engine.write(segId, script)
      assert(SqliteCli.run(db.toString,
        ".dbconfig dqs_dml on\n.bail on\nBEGIN;\n" + script + "\nCOMMIT;") == 0,
        s"sqlite3 failed: $script")
    }
    def sameRows(): Unit = {
      val q = "SELECT quote(id) || '|' || quote(a) || '|' || quote(b) AS r FROM d;"
      val ours = engine.read(segId, q).collect().map(_.getString(0)).toSeq.sorted
      val theirs = SqliteCli.query(db.toString, q)
        .split("\n").filter(_.nonEmpty).toSeq.sorted
      assert(ours == theirs, s"\n-- engine --\n$ours\n-- sqlite3 --\n$theirs")
    }
    runBoth("INSERT INTO d (a, b) VALUES ('x', 1), ('y', 2), ('zz', 3), " +
      "('q''t', 4);")
    // resolvable → identifier, in WHERE and in SET
    runBoth("UPDATE d SET b = 10 WHERE \"a\" = 'x';")
    runBoth("UPDATE d SET \"b\" = 20 WHERE \"a\" = 'y';")
    sameRows()
    // unresolvable → string literal (the silent-wrong-rows hazard)
    runBoth("UPDATE d SET b = 30 WHERE a = \"notacolumn\";")
    runBoth("DELETE FROM d WHERE \"a\" = \"zz\";")
    sameRows()
    // embedded quotes both ways; \"\" escapes inside the token
    runBoth("DELETE FROM d WHERE a = \"q't\";")
    sameRows()
    runBoth("INSERT INTO d (a, b) VALUES ('w', 7);")
    runBoth("UPDATE d SET b = b + 1 WHERE \"A\" = 'w';") // case-insensitive resolve
    sameRows()
  }

  test(s"$COUNT random write scripts agree with sqlite3 (seed $SEED)") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var comparedNonEmpty = 0 // harness self-check: comparisons must bite
    var errorOutcomes = 0
    for (i <- 1 to COUNT) {
      val segId = s"wf-$i"
      val (ddl, cols, strict) = genTable("t")
      val db = Files.createTempDirectory(s"wfuzz-$i").resolve("f.sqlite")
      // schema committed separately on both sides
      val schemaOk = scala.util.Try {
        engine.schemas.put(s"wf-schema-$i", ddl)
        engine.provisionWritable(segId, s"wf-schema-$i")
      }.isSuccess
      if (schemaOk && SqliteCli.run(db.toString, ddl) == 0) {
        val script = genScript("t", cols, strict)
        val engineErr = scala.util.Try(engine.write(segId, script)).failed.toOption
        // .bail on + one txn: an error aborts and rolls back everything,
        // the engine's whole-script contract
        val rc = SqliteCli.run(db.toString,
          ".bail on\nBEGIN;\n" + script + "\nCOMMIT;")
        val sqliteErr = rc != 0
        val compareView = madeView && engineErr.isEmpty
        if (engineErr.isDefined != sqliteErr)
          failures += s"[$i] outcome diverged (engine=${engineErr.map(_.getMessage)} " +
            s"sqlite3 rc=$rc)\n$ddl\n$script"
        else {
          if (engineErr.isDefined) errorOutcomes += 1
          Seq("t", "log").foreach { tbl =>
            (engineRows(segId, tbl), sqliteRows(db.toString, tbl)) match {
              case (Some(a), Some(b)) =>
                if (a != b)
                  failures += s"[$i] $tbl rows diverged\n$ddl\n$script\nengine: $a\nsqlite3: $b"
                else if (a.nonEmpty && tbl == "t") comparedNonEmpty += 1
              case (a, b) =>
                failures += s"[$i] $tbl row read failed (engine=${a.isDefined} " +
                  s"sqlite3=${b.isDefined})\n$ddl\n$script"
            }
          }
          if (compareView) {
            val vq = "SELECT quote(vid) || '|' || quote(vc) AS r FROM v;"
            val ours = scala.util.Try(engine.read(segId, vq).collect()
              .map(_.getString(0)).toSeq.sorted).toOption
            val theirs = scala.util.Try(SqliteCli.query(db.toString, vq)
              .split("\n").filter(_.nonEmpty).toSeq.sorted).toOption
            if (ours != theirs)
              failures += s"[$i] view rows diverged\n$ddl\n$script\n" +
                s"engine: $ours\nsqlite3: $theirs"
          }
        }
      }
    }
    assert(failures.isEmpty,
      s"${failures.size}/$COUNT scripts diverged:\n${failures.take(5).mkString("\n---\n")}")
    // the sweep must have actually compared data and seen both outcome
    // kinds — a generator or harness regression that empties the domain
    // should fail here, not pass silently
    assert(comparedNonEmpty > COUNT / 4,
      s"only $comparedNonEmpty/$COUNT comparisons had rows — degenerate sweep")
  }
}
