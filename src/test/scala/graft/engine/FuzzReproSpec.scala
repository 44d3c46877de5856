package graft.engine

import java.nio.file.Files

import graft.SparkSpecBase

/** Pinned reproducers for divergences the r17 high-volume write fuzz
  * (1,000 scripts, seed 20260816) surfaced — kept as permanent
  * regression differentials:
  *
  *  - [552]/[836] INSERT OR IGNORE with triggers: the general firing
  *    loop tracked conflicts only on the PRIMARY KEY, so a collated
  *    secondary-UNIQUE collision slipped through to a spurious
  *    commit-time UNIQUE error where sqlite3 silently drops the row.
  *  - [724] the vectorized INSERT firing tier skipped statement-time
  *    NOT NULL/CHECK enforcement, accepting an explicit NULL sqlite3
  *    rejects.
  *  - [749] a plain UPDATE whose WHERE compares a COLLATE RTRIM
  *    column against a trailing-space literal missed the match.
  *  - [69]/[151] (fresh-seed sweep 20261019): under INSERT triggers
  *    the row loop let a NULL into a NOT NULL column through to the
  *    commit gate, where OR IGNORE skips the row and OR REPLACE takes
  *    the column's DEFAULT.
  *  - [756] (same sweep): after ALTER TABLE … DROP COLUMN, OR IGNORE
  *    under an AFTER INSERT trigger that reads its own target stored
  *    the first two values in each other's columns.
  *  - [159] (sweep 20261102): an upsert DO UPDATE under a BEFORE
  *    INSERT trigger skipped the incoming-row NOT NULL/CHECK check
  *    and committed a NULL into a NOT NULL column.
  *  - [lexer] spellings sqlite3's tokenizer accepts that hand-written
  *    scanners got wrong: quoted column names containing a space, and
  *    keywords directly followed by `(`, a quote or a `[name]`.
  */
class FuzzReproSpec extends SparkSpecBase {

  private lazy val root = Files.createTempDirectory("graft-frepro").toString
  private lazy val store = new SegmentStore(spark, root)
  private lazy val engine = new TroughEngine(spark, store, new SchemaRegistry)

  private var n = 0

  /** Run `script` against a fresh segment + a fresh sqlite3 db over
    * `ddl`; outcomes (error vs success) must agree, and on success the
    * full content of `tables` and the answers to `queries` must render
    * identically. */
  private def differential(ddl: String, script: String,
      tables: Seq[String], queries: Seq[String] = Nil): Unit = {
    n += 1
    val segId = s"frepro-$n"
    engine.schemas.put(s"frepro-schema-$n", ddl)
    engine.provisionWritable(segId, s"frepro-schema-$n")
    val db = Files.createTempDirectory(s"frepro-$n").resolve("f.sqlite")
    assert(SqliteCli.run(db.toString, ddl) == 0)
    val engineErr = scala.util.Try(engine.write(segId, script)).failed.toOption
    val rc = SqliteCli.run(db.toString,
      ".bail on\nBEGIN;\n" + script + "\nCOMMIT;")
    assert(engineErr.isDefined == (rc != 0),
      s"outcome diverged: engine=${engineErr.map(_.getMessage)} sqlite3 rc=$rc")
    if (engineErr.isEmpty) (tables.map(t => s"SELECT * FROM $t ORDER BY 1;") ++ queries).foreach { q =>
      val ours = engine.read(segId, q).collect().map { r =>
        (0 until r.length).map(i =>
          if (r.isNullAt(i)) "" else r.get(i).toString).mkString("|")
      }.mkString("\n")
      val theirs = SqliteCli.query(db.toString, q)
      assert(ours == theirs, s"$q diverged\n-- engine --\n$ours\n-- sqlite3 --\n$theirs")
    }
  }

  test("[552] OR IGNORE drops a NOCASE-UNIQUE collision with triggers active") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 TEXT COLLATE NOCASE UNIQUE, " +
        "c2 TEXT COLLATE RTRIM, c3 REAL) STRICT;\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "INSERT  INTO t VALUES (2, 't0', 'bb ', -2);" +
        "CREATE TRIGGER tg1 AFTER INSERT ON t WHEN NEW.id > 4 BEGIN " +
        "INSERT INTO log (msg) VALUES ((SELECT count(id) FROM t) || '@' || NEW.id); END;" +
        "ALTER TABLE t RENAME COLUMN c1 TO c1r;" +
        "INSERT OR IGNORE  INTO t VALUES (3, 'bb', 'bb', 2);" +
        "INSERT OR IGNORE  INTO t VALUES (4, 'bb', 'aa', 9);" +
        "INSERT INTO t VALUES (2, 'bb  ', 'bb ', -3) ON CONFLICT(id) DO UPDATE SET c2 = excluded.c2;",
      Seq("t", "log"))
  }

  test("[836] OR IGNORE drops a NOCASE-UNIQUE collision (AFTER + DELETE triggers)") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 TEXT COLLATE NOCASE DEFAULT 't2' UNIQUE, " +
        "c2 INTEGER, c3 TEXT COLLATE RTRIM NOT NULL DEFAULT 't2', c4 REAL) STRICT;\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "INSERT  INTO t VALUES (2, 'T0', -4, 'AA', 6.225);" +
        "CREATE TRIGGER tg1 AFTER INSERT ON t BEGIN INSERT INTO log (msg) VALUES ('I' || NEW.id); END;" +
        "INSERT  INTO t VALUES (3, 'aa', -1, 'T0', 9);" +
        "INSERT OR IGNORE  INTO t VALUES (1, 'T0', -5, 't0', 9);" +
        "CREATE TRIGGER tg2 BEFORE DELETE ON t BEGIN INSERT INTO log (msg) VALUES ('D' || OLD.id); END;" +
        "DELETE FROM t WHERE c1 = 'c c';" +
        "UPDATE t SET c3 = 't1' WHERE id % 2 = 0;",
      Seq("t", "log"))
  }

  test("[724] explicit NULL into NOT NULL errors on the vectorized trigger tier") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 TEXT, c2 INTEGER, " +
        "c3 TEXT COLLATE NOCASE NOT NULL DEFAULT 'Aa' UNIQUE, c4 INTEGER);\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "DELETE FROM t WHERE c1 = 'bb  ';" +
        "DELETE FROM t WHERE id > 3;" +
        "CREATE TRIGGER tg1 AFTER INSERT ON t BEGIN INSERT INTO log (msg) VALUES ('I' || NEW.id); END;" +
        "INSERT OR REPLACE  INTO t VALUES (2, 't1', 5, 't1', 5);" +
        "CREATE VIEW v (vid, vc) AS SELECT id, c1 FROM t WHERE id % 4 = 0;" +
        "INSERT  INTO t VALUES (3, 'AA', 12, NULL, 7);" +
        "UPDATE t SET c3 = 'bb ' WHERE id % 3 = 0;",
      Seq("t", "log"))
  }

  test("[749] UPDATE WHERE applies a declared RTRIM collation") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 TEXT COLLATE NOCASE DEFAULT 'bb ', " +
        "c2 INTEGER, c3 TEXT COLLATE RTRIM);\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "INSERT  INTO t VALUES (2, 'T0', 12, 'aa');" +
        "INSERT  INTO t VALUES (3, 'c c', 3, 't0');" +
        "UPDATE t SET c3 = 't1' WHERE id % 3 = 0;" +
        "INSERT OR IGNORE  INTO t VALUES (4, 'AA', 19, 'bb');" +
        "UPDATE t SET c2 = 1 WHERE c3 = 'bb  ';" +
        "CREATE TRIGGER tg1 BEFORE INSERT ON t BEGIN INSERT INTO log (msg) VALUES ('I' || NEW.id); END;" +
        "UPDATE t SET c3 = 'c c' WHERE c1 = 't2';" +
        "CREATE TRIGGER tg2 BEFORE UPDATE ON t BEGIN INSERT INTO log (msg) VALUES ('U' || NEW.id); END;",
      Seq("t", "log"))
  }

  test("[lexer] quoted column names with a space, in all three quoting forms") {
    differential(
      "CREATE TABLE base (x INTEGER);",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, \"a b\" TEXT, `c d` INTEGER, [e f] REAL);" +
        "INSERT INTO t (id, \"a b\", `c d`, [e f]) VALUES (1, 'x', 2, 3.5), (2, 'y', 4, 0.5);" +
        "UPDATE t SET [c d] = 9 WHERE \"a b\" = 'y';",
      Seq("t"),
      Seq("SELECT [a b], \"c d\", `e f` FROM t ORDER BY id;"))
  }

  private val lexerDdl = "CREATE TABLE t (id INTEGER PRIMARY KEY, c INTEGER);"
  private val lexerRows = "INSERT INTO t VALUES (1, 0), (2, 0), (3, 0), (4, 0);"

  test("[lexer] UPDATE … WHERE directly followed by a paren or a quote") {
    differential(lexerDdl,
      lexerRows + "UPDATE t SET c = 5 WHERE(id = 1);UPDATE t SET c = 6 WHERE`id` = 4;",
      Seq("t"))
  }

  test("[lexer] DELETE … WHERE directly followed by a paren") {
    differential(lexerDdl, lexerRows + "DELETE FROM t WHERE(id = 2);", Seq("t"))
  }

  test("[lexer] a [name] right after a keyword, in a write and in a read") {
    differential(lexerDdl,
      lexerRows + "UPDATE t SET c = 7 WHERE id IN (1,3) AND[c] = 0;",
      Seq("t"),
      Seq("SELECT [c] FROM t ORDER BY id;"))
  }

  test("[69] OR IGNORE skips a NULL into NOT NULL with triggers active") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 TEXT NOT NULL DEFAULT 'Aa', c2 TEXT);\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "CREATE TRIGGER tg1 BEFORE INSERT ON t BEGIN INSERT INTO log (msg) VALUES ('B' || NEW.id); END;" +
        "CREATE TRIGGER tg2 AFTER INSERT ON t BEGIN INSERT INTO log (msg) VALUES ('A' || NEW.id); END;" +
        "INSERT INTO t VALUES (2, 't0', 't0');" +
        "INSERT OR IGNORE INTO t VALUES (3, NULL, 'bb');" +
        "INSERT OR IGNORE INTO t VALUES (4, 'x', NULL);",
      Seq("t", "log"))
  }

  test("[151] OR REPLACE fills a NULL into NOT NULL from the DEFAULT with triggers active") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 INTEGER NOT NULL DEFAULT 5 UNIQUE, c2 REAL);\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "CREATE TRIGGER tg1 AFTER INSERT ON t BEGIN INSERT INTO log (msg) VALUES (NEW.id || ':' || NEW.c1); END;" +
        "INSERT INTO t VALUES (2, 19, 5.1);" +
        "INSERT INTO t VALUES (7, 5, 1.5);" +
        "INSERT OR REPLACE INTO t VALUES (2, NULL, 6.225);",
      Seq("t", "log"))
  }

  test("[756] OR IGNORE after DROP COLUMN keeps each value in its column " +
      "under a self-reading AFTER INSERT trigger") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, \"c 1\" INTEGER UNIQUE, [c2] INTEGER, " +
        "\"c3\" INTEGER NOT NULL DEFAULT 19, `c 4` REAL);\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "INSERT OR REPLACE  INTO t VALUES(2, 9, 13, 7, -4);" +
        "INSERT OR IGNORE  INTO t VALUES (3, 11, 9, -3, 3.225);" +
        "CREATE TRIGGER tg1 AFTER INSERT ON t BEGIN " +
        "INSERT INTO log (msg) VALUES ((SELECT count(id) FROM t) || '@' || NEW.id); END;" +
        "CREATE VIEW v (vid, vc) AS SELECT id, `c 1` FROM t WHERE (id % 4 = 0);" +
        "ALTER TABLE t DROP COLUMN `c3`;" +
        "INSERT OR IGNORE  INTO t VALUES (4, 16, 11, 9.75);" +
        "INSERT  INTO t VALUES(5, 6, 0, 7.150);" +
        "INSERT OR REPLACE  INTO t VALUES(3, -1, 7, 1.225);",
      Seq("t", "log"),
      Seq("SELECT * FROM v ORDER BY vid;"))
  }

  test("[159] upsert DO UPDATE under a BEFORE INSERT trigger refuses a NULL " +
      "into NOT NULL") {
    differential(
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 REAL UNIQUE, c2 INTEGER, " +
        "[c 3] INTEGER NOT NULL DEFAULT 4 UNIQUE, [c4] INTEGER NOT NULL DEFAULT 10 UNIQUE) STRICT;\n" +
        "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);",
      "CREATE TRIGGER tg1 BEFORE INSERT ON t BEGIN INSERT INTO log (msg) VALUES " +
        "((SELECT count(*) FROM t) || '@' || NEW.id); END;\n" +
        "INSERT OR IGNORE  INTO t VALUES(2, 8.200, NULL, 6, 10);\n" +
        "INSERT  INTO t VALUES (1, 14, 12, '7', 0);\n" +
        "INSERT INTO t VALUES (2, 16, 8, 13, -1) ON CONFLICT(id) DO UPDATE SET `c1` = excluded.\"c1\";\n" +
        "ALTER TABLE t ADD COLUMN x1 REAL DEFAULT 7.50;\n" +
        "INSERT INTO t VALUES (1, 2.25, 6, 15, NULL, 11) ON CONFLICT(id) DO UPDATE SET [c1] = excluded.`c1`;\n" +
        "DELETE FROM t WHERE`id` = 6;",
      Seq("t", "log"))
  }

  private val upsertDdl =
    "CREATE TABLE t (id INTEGER PRIMARY KEY, c1 INTEGER NOT NULL, " +
      "c2 INTEGER CHECK (c2 > 0), c3 TEXT);\n" +
      "CREATE TABLE log (lid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);"
  private val upsertTriggers =
    "INSERT INTO t VALUES (1, 5, 1, 'a');" +
      "CREATE TRIGGER tg1 BEFORE INSERT ON t WHEN NEW.c1 IS NULL " +
      "BEGIN SELECT RAISE(IGNORE); END;" +
      "CREATE TRIGGER tg2 BEFORE INSERT ON t BEGIN " +
      "INSERT INTO log (msg) VALUES ('B' || NEW.id); END;"

  test("[159] a row a BEFORE RAISE(IGNORE) drops is never checked, " +
      "even when it carries the NULL") {
    differential(upsertDdl,
      upsertTriggers +
        "INSERT INTO t VALUES (1, NULL, 2, 'b') ON CONFLICT(id) DO UPDATE SET c3 = excluded.c3;" +
        "INSERT INTO t VALUES (1, 7, 3, 'c') ON CONFLICT(id) DO UPDATE SET c3 = excluded.c3;",
      Seq("t", "log"))
  }

  test("[159] a diverted upsert row failing a CHECK errors under triggers") {
    differential(upsertDdl,
      upsertTriggers +
        "INSERT INTO t VALUES (1, 6, -2, 'd') ON CONFLICT(id) DO UPDATE SET c3 = excluded.c3;",
      Seq("t", "log"))
  }
}
