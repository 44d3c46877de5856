package graft.engine

import java.nio.file.Files

import graft.SparkSpecBase

/** The SQLite 3.24 upsert (`INSERT ... ON CONFLICT ...`,
  * sqlite.org/lang_upsert.html) through the write path — semantics and
  * error texts checked against the real sqlite3's behavior (probed with
  * the sandbox CLI; accumulator arithmetic asserted by value). */
class UpsertSpec extends SparkSpecBase {

  private lazy val root = Files.createTempDirectory("graft-upsert").toString
  private lazy val engine = {
    val store = new SegmentStore(spark, root)
    new TroughEngine(spark, store, new SchemaRegistry)
  }

  private var n = 0
  /** Fresh segment with `t(k INTEGER PRIMARY KEY, v TEXT, n INTEGER)`
    * and a UNIQUE index on `v`, seeded with (1,'a',1). */
  private def seg(): String = {
    n += 1
    val id = s"ups-$n"
    engine.schemas.put("upsert-schema",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, n INTEGER); " +
        "CREATE UNIQUE INDEX uv ON t (v);")
    engine.provisionWritable(id, "upsert-schema")
    engine.write(id, "INSERT INTO t VALUES (1, 'a', 1);")
    id
  }

  private def dump(id: String): Seq[String] =
    engine.read(id, "SELECT k, v, n FROM t ORDER BY k;").collect()
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}").toSeq

  test("DO UPDATE: existing row updated, SET sees existing + excluded") {
    val id = seg()
    // sqlite3: 1|b|6 (n = 1 + 5) and a fresh insert for k=2
    engine.write(id,
      "INSERT INTO t VALUES (1, 'b', 5), (2, 'c', 7) " +
        "ON CONFLICT(k) DO UPDATE SET v = excluded.v, n = n + excluded.n;")
    assert(dump(id) == Seq("1|b|6", "2|c|7"))
  }

  test("DO UPDATE WHERE guard: a false predicate leaves the row untouched") {
    val id = seg()
    engine.write(id,
      "INSERT INTO t VALUES (1, 'z', 100) " +
        "ON CONFLICT(k) DO UPDATE SET v = excluded.v WHERE n > 50;")
    assert(dump(id) == Seq("1|a|1")) // n=1 fails the guard; no insert either
    engine.write(id,
      "INSERT INTO t VALUES (1, 'z', 100) " +
        "ON CONFLICT(k) DO UPDATE SET v = excluded.v WHERE n <= 50;")
    assert(dump(id) == Seq("1|z|1"))
  }

  test("omitted conflict target defaults to the PRIMARY KEY") {
    val id = seg()
    engine.write(id,
      "INSERT INTO t VALUES (1, 'q', 9) ON CONFLICT DO UPDATE SET n = excluded.n;")
    assert(dump(id) == Seq("1|a|9"))
  }

  test("DO NOTHING: conflicting rows skipped, fresh rows inserted") {
    val id = seg()
    engine.write(id,
      "INSERT INTO t VALUES (1, 'dup', 99), (3, 'new', 3) ON CONFLICT DO NOTHING;")
    assert(dump(id) == Seq("1|a|1", "3|new|3"))
    // intra-statement duplicates: first occurrence wins (OR IGNORE rule)
    engine.write(id,
      "INSERT INTO t VALUES (4, 'x', 1), (4, 'y', 2) ON CONFLICT(k) DO NOTHING;")
    assert(dump(id).contains("4|x|1"))
  }

  test("conflict target may name a recorded UNIQUE index") {
    val id = seg()
    engine.write(id,
      "INSERT INTO t VALUES (8, 'a', 50) " +
        "ON CONFLICT(v) DO UPDATE SET n = n + excluded.n;")
    // conflicted on v='a', so the EXISTING row (k=1) accumulated
    assert(dump(id) == Seq("1|a|51"))
  }

  test("target not matching any PK or UNIQUE index: SQLite's error text") {
    val id = seg()
    val e = intercept[Exception](engine.write(id,
      "INSERT INTO t VALUES (1, 'b', 2) ON CONFLICT(n) DO UPDATE SET v = 'x';"))
    assert(e.getMessage.contains(
      "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint"))
  }

  // ---- sqlite3 differentials: each statement with and without an
  // INSERT trigger, so the trigger-free and the triggered INSERT take
  // the same row loop and must give sqlite3's answer either way ----

  /** Render one engine row the way the sqlite3 CLI prints it. */
  private def render(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map(i => if (r.isNullAt(i)) "" else r.get(i).toString).mkString("|")

  /** A trigger logging every inserted row's key `k` into `log`. */
  private val logTrigger =
    "CREATE TABLE log (msg TEXT);" +
      "CREATE TRIGGER tg AFTER INSERT ON t BEGIN INSERT INTO log VALUES ('i' || NEW.k); END;"

  /** `script` on a fresh segment of `ddl` holding the rows of `seed`,
    * and on sqlite3 (one
    * transaction, `.bail on`), once as given and once after
    * [[logTrigger]]: both fail (the engine with sqlite3's `error`) or
    * both commit, and `t` (and `log`) hold the same rows. */
  private def differential(ddl: String, seed: String, script: String,
      error: Option[String] = None): Unit =
    Seq("", logTrigger).foreach { pre =>
      n += 1
      val id = s"ups-$n"
      engine.schemas.put(s"ups-diff-$n", ddl)
      engine.provisionWritable(id, s"ups-diff-$n")
      if (seed.nonEmpty) engine.write(id, seed)
      val db = Files.createTempDirectory("ups-diff").resolve("f.sqlite").toString
      assert(SqliteCli.run(db, ddl + seed) == 0)
      val ours = scala.util.Try(engine.write(id, pre + script)).failed.toOption
      val rc = SqliteCli.run(db, s".bail on\nBEGIN;\n$pre$script\nCOMMIT;\n")
      assert(ours.isDefined == (rc != 0), s"engine: $ours, sqlite3 rc=$rc, trigger: ${pre.nonEmpty}")
      assert(ours.map(_.getMessage) == error, s"trigger: ${pre.nonEmpty}")
      (if (pre.isEmpty || ours.isDefined) Seq("t") else Seq("t", "log")).foreach { tbl =>
        val q = s"SELECT * FROM $tbl;"
        val engineSide = engine.read(id, q).collect().map(render).toSeq.sorted
        val cliSide = SqliteCli.query(db, q).split("\n").filter(_.nonEmpty).toSeq.sorted
        assert(engineSide == cliSide, s"$tbl, trigger: ${pre.nonEmpty}")
      }
    }

  test("rows conflicting with EACH OTHER under DO UPDATE fold one at a time (sqlite3)") {
    // sqlite3: 5|p|3 — the second row updates the first one's insert
    differential(
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, n INTEGER);" +
        "CREATE UNIQUE INDEX uv ON t (v);",
      "INSERT INTO t VALUES (1, 'a', 1);",
      "INSERT INTO t VALUES (5, 'p', 1), (5, 'q', 2) " +
        "ON CONFLICT(k) DO UPDATE SET n = n + excluded.n;")
  }

  test("OR IGNORE skips a row failing CHECK (sqlite3)") {
    differential(
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, c INTEGER CHECK (c > 0));", "",
      "INSERT OR IGNORE INTO t VALUES (1, 'a', 5), (2, 'b', -1), (3, 'c', 2);")
  }

  test("a STRICT DO UPDATE SET of TEXT into an INTEGER column fails (sqlite3)") {
    differential(
      "CREATE TABLE t (k INTEGER PRIMARY KEY, n INTEGER) STRICT;",
      "INSERT INTO t VALUES (1, 1);",
      "INSERT INTO t VALUES (1, 2) ON CONFLICT(k) DO UPDATE SET n = 'abc';",
      Some("cannot store TEXT value in INTEGER column t.n"))
  }

  test("a key that is not the leading column resolves OR IGNORE and upsert (sqlite3)") {
    differential(
      "CREATE TABLE t (v TEXT, w TEXT, k INTEGER PRIMARY KEY);",
      "INSERT INTO t VALUES ('a', 'x', 1);",
      "INSERT OR IGNORE INTO t VALUES ('b', 'y', 1), ('c', 'z', 2);" +
        "INSERT INTO t VALUES ('d', 'q', 2), ('e', 'r', 3) " +
        "ON CONFLICT(k) DO UPDATE SET v = excluded.v || v;")
  }

  test("INSERT OR REPLACE cannot carry an ON CONFLICT clause") {
    val id = seg()
    intercept[Exception](engine.write(id,
      "INSERT OR REPLACE INTO t VALUES (1, 'b', 2) ON CONFLICT(k) DO NOTHING;"))
  }

  test("'excluded.' inside a string literal survives untouched") {
    val id = seg()
    engine.write(id,
      "INSERT INTO t VALUES (1, 'b', 2) " +
        "ON CONFLICT(k) DO UPDATE SET v = 'see excluded.v docs';")
    assert(dump(id) == Seq("1|see excluded.v docs|1"))
  }

  test("upsert with a SELECT source and within-transaction visibility") {
    val id = seg()
    engine.write(id,
      """CREATE TABLE staging (k INTEGER, v TEXT, n INTEGER);
        |INSERT INTO staging VALUES (1, 'from-staging', 10), (6, 'six', 6);
        |INSERT INTO t SELECT k, v, n FROM staging
        |  ON CONFLICT(k) DO UPDATE SET v = excluded.v, n = n + excluded.n;""".stripMargin)
    assert(dump(id) == Seq("1|from-staging|11", "6|six|6"))
  }

  // --------------------------------------------- plain-INSERT constraints

  test("plain INSERT violating the PRIMARY KEY: SQLite's text, nothing commits") {
    val id = seg()
    // sqlite3: Error: UNIQUE constraint failed: t.k — and the wrapped
    // script transaction rolls back wholesale (write.py:36-40)
    val e = intercept[IllegalArgumentException](engine.write(id,
      "INSERT INTO t VALUES (7, 'seven', 7); INSERT INTO t VALUES (1, 'dup', 9);"))
    assert(e.getMessage == "UNIQUE constraint failed: t.k")
    assert(dump(id) == Seq("1|a|1")) // the k=7 insert rolled back too
  }

  test("plain INSERT violating a recorded UNIQUE index: per-index column text") {
    val id = seg()
    val e = intercept[IllegalArgumentException](engine.write(id,
      "INSERT INTO t VALUES (2, 'a', 2);")) // v='a' exists under uv
    assert(e.getMessage == "UNIQUE constraint failed: t.v")
    assert(dump(id) == Seq("1|a|1"))
  }

  test("UPDATE creating a duplicate key fails the same gate") {
    val id = seg()
    engine.write(id, "INSERT INTO t VALUES (2, 'b', 2);")
    val e = intercept[IllegalArgumentException](engine.write(id,
      "UPDATE t SET v = 'a' WHERE k = 2;"))
    assert(e.getMessage == "UNIQUE constraint failed: t.v")
    assert(dump(id) == Seq("1|a|1", "2|b|2"))
  }

  test("NULL keys never conflict (SQLite's distinct-NULLs rule)") {
    val id = seg()
    // sqlite3 accepts two NULLs under a UNIQUE index
    engine.write(id,
      "INSERT INTO t VALUES (2, NULL, 2); INSERT INTO t VALUES (3, NULL, 3);")
    assert(engine.read(id, "SELECT count(*) AS n FROM t;").collect()(0).getLong(0) == 3L)
  }

  // ---- conflict resolution over EVERY unique constraint (fuzz-caught
  // r9: OR IGNORE / OR REPLACE resolved only PRIMARY KEY conflicts;
  // all behaviors below probed against sqlite3 3.51) ----

  test("OR IGNORE skips rows conflicting on a UNIQUE index, not just the PK") {
    val id = seg()
    // sqlite3: 'a' collides on uv → row silently dropped; (2,'b') lands
    engine.write(id, "INSERT OR IGNORE INTO t VALUES (2, 'a', 9);" +
      "INSERT OR IGNORE INTO t VALUES (2, 'b', 2);")
    assert(dump(id) == Seq("1|a|1", "2|b|2"))
  }

  test("OR IGNORE silently drops NOT NULL and CHECK violators (probed)") {
    n += 1
    val id = s"ups-$n"
    engine.schemas.put(s"ups-nncheck-$n",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT NOT NULL, c INTEGER CHECK (c > 0));")
    engine.provisionWritable(id, s"ups-nncheck-$n")
    engine.write(id,
      "INSERT OR IGNORE INTO t VALUES (1, NULL, 5);" + // NOT NULL → dropped
        "INSERT OR IGNORE INTO t VALUES (2, 'x', -4);" + // CHECK → dropped
        "INSERT OR IGNORE INTO t VALUES (3, 'y', 7);") // clean → kept
    val rows = engine.read(id, "SELECT k FROM t ORDER BY k;").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("OR REPLACE deletes rows conflicting on ANY unique key (probed)") {
    val id = seg()
    engine.write(id, "INSERT INTO t VALUES (2, 'b', 2);")
    // (3,'a') conflicts with row 1 on uv AND nothing on k: row 1 deleted
    engine.write(id, "INSERT OR REPLACE INTO t VALUES (3, 'a', 9);")
    assert(dump(id) == Seq("2|b|2", "3|a|9"))
    // conflicting on BOTH keys deletes both victims (probed: 1 row left)
    engine.write(id, "INSERT OR REPLACE INTO t VALUES (2, 'a', 5);")
    assert(dump(id) == Seq("2|a|5"))
  }

  test("OR REPLACE substitutes the declared DEFAULT for a NULL NOT NULL value") {
    n += 1
    val id = s"ups-$n"
    engine.schemas.put(s"ups-repl-dflt-$n",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT NOT NULL DEFAULT 'd');")
    engine.provisionWritable(id, s"ups-repl-dflt-$n")
    // sqlite3: REPLACE-mode NOT NULL takes the default (lang_conflict)
    engine.write(id, "INSERT OR REPLACE INTO t VALUES (1, NULL);")
    assert(engine.read(id, "SELECT v FROM t;").collect()(0).getString(0) == "d")
    // without a default the write aborts (commit gate's SQLite text)
    engine.schemas.put(s"ups-repl-nodflt-$n",
      "CREATE TABLE u (k INTEGER PRIMARY KEY, v TEXT NOT NULL);")
    n += 1
    val id2 = s"ups-$n"
    engine.schemas.put(s"ups-repl-nodflt2-$n",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT NOT NULL);")
    engine.provisionWritable(id2, s"ups-repl-nodflt2-$n")
    val e = intercept[IllegalArgumentException](engine.write(id2,
      "INSERT OR REPLACE INTO t VALUES (1, NULL);"))
    assert(e.getMessage == "NOT NULL constraint failed: t.v")
  }

  test("upsert checks NOT NULL/CHECK on the INCOMING row before diverting") {
    n += 1
    val id = s"ups-$n"
    engine.schemas.put(s"ups-divert-$n",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT NOT NULL, c INTEGER CHECK (c > 0));")
    engine.provisionWritable(id, s"ups-divert-$n")
    engine.write(id, "INSERT INTO t VALUES (1, 'a', 1);")
    // sqlite3: NOT NULL fails even though k=1 would divert to DO UPDATE
    val e1 = intercept[IllegalArgumentException](engine.write(id,
      "INSERT INTO t VALUES (1, NULL, 5) ON CONFLICT(k) DO UPDATE SET v = 'b';"))
    assert(e1.getMessage == "NOT NULL constraint failed: t.v")
    // same for a failing CHECK, and for DO NOTHING
    val e2 = intercept[IllegalArgumentException](engine.write(id,
      "INSERT INTO t VALUES (1, 'x', -5) ON CONFLICT(k) DO UPDATE SET v = 'b';"))
    assert(e2.getMessage == "CHECK constraint failed: c > 0")
    val e3 = intercept[IllegalArgumentException](engine.write(id,
      "INSERT INTO t VALUES (1, NULL, 5) ON CONFLICT(k) DO NOTHING;"))
    assert(e3.getMessage == "NOT NULL constraint failed: t.v")
  }

  test("untargeted DO NOTHING ignores conflicts on ANY unique constraint") {
    val id = seg()
    // conflicts on uv (not the PK): sqlite3 keeps the table unchanged
    engine.write(id, "INSERT INTO t VALUES (5, 'a', 9) ON CONFLICT DO NOTHING;")
    assert(dump(id) == Seq("1|a|1"))
  }

  test("conflict target may name a declared table-level UNIQUE") {
    n += 1
    val id = s"ups-$n"
    engine.schemas.put(s"ups-tuniq-$n",
      "CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, m INTEGER, UNIQUE (v));")
    engine.provisionWritable(id, s"ups-tuniq-$n")
    engine.write(id, "INSERT INTO t VALUES (1, 'a', 1);" +
      "INSERT INTO t VALUES (2, 'a', 7) ON CONFLICT(v) DO UPDATE SET m = excluded.m;")
    val r = engine.read(id, "SELECT k, m FROM t;").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((1L, 7L)))
  }
}
