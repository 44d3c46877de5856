package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}

import graft.SparkSpecBase

/** Segment-sized frames are driver-local (SqlInternals.toLocal): an
  * INSERT … VALUES list, a loaded table and a staged statement each
  * become one single-partition local relation, so a write script's
  * work no longer scales with its tuple count, a small table commits
  * as one part file, and a read of it runs without a job. A `.sqlite`
  * export reads the segment's parquet on the calling thread and runs
  * no job either. Counted with one SparkListener. */
class DriverLocalSpec extends SparkSpecBase {

  private lazy val root = Files.createTempDirectory("graft-local").toString
  private lazy val store = new SegmentStore(spark, root)
  private lazy val engine = new TroughEngine(spark, store, new SchemaRegistry)

  private def segment(id: String, ddl: String): String = {
    engine.schemas.put(s"$id-schema", ddl)
    engine.provisionWritable(id, s"$id-schema")
    id
  }

  /** (jobs, tasks) scheduled while `body` runs. */
  private def counted(body: => Unit): (Long, Long) = {
    val jobs, tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }

  private def values(rows: Seq[Int])(f: Int => String): String =
    rows.map(i => s"(${f(i)})").mkString(", ")

  test("three 500-tuple INSERTs into a triggered table schedule fewer tasks " +
      "than they have VALUES tuples") {
    // the shape of TriggerSpec's cascade test: AFTER INSERT on a
    // cascades into b and c, with BEFORE programs and a RAISE(IGNORE)
    val seg = segment("local-cascade",
      "CREATE TABLE a (id INTEGER PRIMARY KEY, x INTEGER);\n" +
        "CREATE TABLE b (id INTEGER PRIMARY KEY, ax INTEGER);\n" +
        "CREATE TABLE c (id INTEGER PRIMARY KEY, note TEXT, v INTEGER);")
    engine.write(seg,
      "CREATE TRIGGER t1 AFTER INSERT ON a BEGIN " +
        "INSERT INTO b (ax) VALUES (NEW.x * 10); " +
        "INSERT INTO c (note, v) VALUES ('postA', NEW.x); END;" +
        "CREATE TRIGGER tb BEFORE INSERT ON b WHEN NEW.ax % 70 = 20 " +
        "BEGIN SELECT RAISE(IGNORE); END;" +
        "CREATE TRIGGER t2 AFTER INSERT ON b BEGIN " +
        "INSERT INTO c (note, v) VALUES ('afterB', NEW.ax); END;")
    val tuples = 3 * 500
    val script = (0 until 3).map { bk =>
      "INSERT INTO a (x) VALUES " +
        values(1 to 500)(i => s"${(bk * 500 + i) % 97}") + ";"
    }.mkString
    val (_, tasks) = counted(engine.write(seg, script))
    assert(tasks < tuples, s"$tasks tasks for $tuples VALUES tuples")
    val n = engine.read(seg, "SELECT count(*) FROM a;").collect()(0).getLong(0)
    assert(n == tuples)
  }

  test("a 5,000-tuple INSERT parses in chunks and still folds driver-local") {
    // serve_mixed's DDL; one UNION ALL of this many SELECTs overflows
    // Spark's parser stack
    val seg = segment("local-wide-values",
      "CREATE TABLE dedup (digest_key TEXT PRIMARY KEY, url TEXT NOT NULL, " +
        "date TEXT NOT NULL, id TEXT, status_code INTEGER);")
    val tuples = 5000
    val (_, tasks) = counted(engine.write(seg, "INSERT INTO dedup VALUES " +
      values(1 to tuples)(i => s"'k$i', 'https://h/$i', '2024-01-01', NULL, $i") + ";"))
    assert(tasks < tuples, s"$tasks tasks for $tuples VALUES tuples")
    val r = engine.read(seg,
      "SELECT count(*), sum(status_code), max(digest_key) FROM dedup;").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getString(2)) ==
      ((tuples.toLong, tuples.toLong * (tuples + 1) / 2, "k999")))
  }

  test("a 10-row INSERT OR IGNORE into an 800-row table commits one part " +
      "file, and the next read of the segment schedules zero jobs") {
    val seg = segment("local-commit",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT);")
    engine.write(seg, (0 until 2).map { half =>
      "INSERT INTO t VALUES " +
        values(half * 400 + 1 to half * 400 + 400)(i => s"$i, 'v$i'") + ";"
    }.mkString)
    engine.write(seg, "INSERT OR IGNORE INTO t VALUES " +
      values(795 to 804)(i => s"$i, 'w$i'") + ";")
    val live = Paths.get(root, "t", s"segment_id=$seg")
    val parts = Files.list(live).iterator.asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(parts == 1, s"$parts part files in $live")
    var json = ""
    val (jobs, _) = counted {
      json = engine.resultJson(engine.read(seg, "SELECT count(*) AS n FROM t;"))
    }
    assert(json == "[{\"n\":804}]\n")
    assert(jobs == 0, s"$jobs jobs for a read of an 804-row table")
  }

  test("a 10-tuple INSERT OR IGNORE with 3 existing keys into an 800-row " +
      "serve_mixed table runs in at most 3 jobs") {
    // serve_mixed's DDL and write shape (perfbench/gen.py)
    val seg = segment("local-ignore",
      "CREATE TABLE dedup (digest_key TEXT PRIMARY KEY, url TEXT NOT NULL, " +
        "date TEXT NOT NULL, id TEXT, status_code INTEGER);")
    def row(i: Int, tag: String) = s"'k$i', 'https://h/$tag$i', '2024-01-01', NULL, 200"
    engine.write(seg, (0 until 2).map { half =>
      "INSERT INTO dedup VALUES " +
        values(half * 400 + 1 to half * 400 + 400)(row(_, "old")) + ";"
    }.mkString)
    val batch = Seq(5, 1001, 1002, 400, 1003, 1004, 1005, 799, 1006, 1007)
    val (jobs, _) = counted {
      engine.write(seg, "INSERT OR IGNORE INTO dedup VALUES " +
        values(batch)(row(_, "new")) + ";")
    }
    assert(jobs <= 3, s"$jobs jobs for a 10-tuple INSERT OR IGNORE")
    val kept = engine.read(seg, "SELECT count(*) AS n, " +
      "sum(CASE WHEN url LIKE '%old%' THEN 1 ELSE 0 END) AS o FROM dedup;").collect()(0)
    assert((kept.getLong(0), kept.getLong(1)) == ((807L, 800L)))
  }

  test("an INSERT OR IGNORE ... SELECT into a table over the driver-local " +
      "cap keeps exactly the rows without a conflict") {
    val seg = segment("local-overcap",
      "CREATE TABLE big (id INTEGER PRIMARY KEY, v TEXT);")
    engine.write(seg, "INSERT INTO big SELECT id, 'v' || id FROM range(70000);")
    // ids 60000..79999: the first half collide and keep their old value
    engine.write(seg,
      "INSERT OR IGNORE INTO big SELECT id + 60000, 'w' || id FROM range(20000);")
    val r = engine.read(seg, "SELECT count(*) AS n, " +
      "sum(CASE WHEN v = 'v' || id THEN 1 ELSE 0 END) AS old, " +
      "sum(CASE WHEN v = 'w' || (id - 60000) THEN 1 ELSE 0 END) AS new FROM big;")
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((80000L, 70000L, 10000L)))
  }

  test("reads of a segment run beside commits to it without a failed read") {
    val seg = segment("local-race",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT);")
    engine.write(seg, (0 until 2).map { half =>
      "INSERT INTO t VALUES " +
        values(half * 400 + 1 to half * 400 + 400)(i => s"$i, 'v$i'") + ";"
    }.mkString)
    val commits = 20
    @volatile var writing = true
    val reads, failures = new AtomicLong
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val readers = (1 to 2).map { _ =>
      val th = new Thread(() => {
        while (writing) {
          try {
            engine.resultJson(engine.read(seg, "SELECT count(*) FROM t;"))
            reads.incrementAndGet()
          } catch {
            case e: Throwable =>
              failures.incrementAndGet(); firstFailure.compareAndSet(null, e)
          }
        }
      })
      th.start(); th
    }
    try (0 until commits).foreach { k =>
      // 10 rows, half of them already present (ignored)
      engine.write(seg, "INSERT OR IGNORE INTO t VALUES " +
        values(800 + 5 * k - 4 to 800 + 5 * k + 5)(i => s"$i, 'w$i'") + ";")
    } finally {
      writing = false
      readers.foreach(_.join())
    }
    assert(failures.get == 0,
      s"${failures.get} of ${reads.get + failures.get} reads failed: ${firstFailure.get}")
    assert(reads.get > 0)
    val n = engine.read(seg, "SELECT count(*) FROM t;").collect()(0).getLong(0)
    assert(n == 800 + 5 * commits)
  }

  test("a .sqlite export of one segment schedules zero jobs and passes " +
      "integrity_check") {
    val seg = segment("local-export",
      "CREATE TABLE docs (id INTEGER PRIMARY KEY, body TEXT, " +
        "tag TEXT COLLATE NOCASE);\n" +
        "CREATE INDEX docs_tag ON docs (tag);\n" +
        "CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER);\n" +
        "CREATE VIRTUAL TABLE ft USING fts5(body, prefix=2);\n" +
        "CREATE VIRTUAL TABLE boxes USING rtree(id, minX, maxX, minY, maxY);")
    engine.write(seg,
      "INSERT INTO docs (body, tag) VALUES " +
        values(1 to 40)(i => s"'body $i', '${if (i % 2 == 0) "Red" else "red"}$i'") + ";" +
        "INSERT INTO kv VALUES " + values(1 to 30)(i => s"'k${31 - i}', $i") + ";" +
        "INSERT INTO ft (body) VALUES ('quick brown fox'), ('quiet lazy dog'), " +
        "('slow quick turtle');" +
        "INSERT INTO boxes VALUES (1, 0, 1, 0, 1), (2, 5, 6, 5, 6), (3, 0.5, 2, 0.5, 2);")
    val out = Files.createTempDirectory("local-export").resolve(s"$seg.sqlite")
    var exported = Seq.empty[String]
    val (jobs, _) = counted {
      exported = store.exportSqliteSegment(seg, out.toString)
    }
    assert(jobs == 0, s"$jobs jobs for the export of one segment")
    assert(exported.sorted == Seq("boxes", "docs", "ft", "kv"))
    assert(SqliteCli.query(out.toString, "PRAGMA integrity_check;").trim == "ok")
    assert(SqliteCli.query(out.toString,
      "SELECT count(*) FROM docs WHERE tag = 'RED2';").trim == "1")
    assert(SqliteCli.query(out.toString,
      "SELECT group_concat(k, ',') FROM (SELECT k FROM kv ORDER BY k LIMIT 3);")
      .trim == "k1,k10,k11")
    assert(SqliteCli.query(out.toString,
      "SELECT count(*) FROM ft WHERE ft MATCH 'qu*';").trim == "3")
    assert(SqliteCli.query(out.toString,
      "SELECT group_concat(id, ',') FROM (SELECT id FROM boxes " +
        "WHERE minX >= 0 AND maxX <= 2 ORDER BY id);").trim == "1,3")
  }
}
