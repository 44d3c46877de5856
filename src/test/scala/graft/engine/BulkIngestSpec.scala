package graft.engine

import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.sys.process._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.SparkSpecBase

/** Executor-distributed bulk `.sqlite` migration
  * ([[SegmentStore.ingestSqliteSegmentsDistributed]]): the catalog and
  * decode closures `require(TaskContext.get() != null)`, so ANY
  * driver-side decode fails the whole call — the listener below
  * additionally proves Spark tasks actually ran the work. Fixtures are
  * all written by the real sqlite3 CLI. Both ingest entry points build
  * the same segment from the same file: views, triggers and virtual
  * tables included. */
class BulkIngestSpec extends SparkSpecBase {

  private lazy val root = Files.createTempDirectory("graft-bulk-ingest").toString
  private lazy val engine = {
    val store = new SegmentStore(spark, root)
    new TroughEngine(spark, store, new SchemaRegistry)
  }

  private def makeDb(dir: Path, name: String, sql: String): Path = {
    val db = dir.resolve(s"$name.sqlite")
    val rc = SqliteCli.run(db.toString, sql)
    assert(rc == 0, s"sqlite3 exited $rc for $name")
    db
  }

  test("220 files ingest through executor tasks with per-segment isolation") {
    val dir = Files.createTempDirectory("bulk-fixtures")
    // family A (180 files): two tables incl. one always-empty table
    val familyA = (1 to 180).map { i =>
      val sql =
        s"""CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, status INTEGER);
           |INSERT INTO crawl (url, status) VALUES
           |  ('http://site$i.example/a', ${200 + (i % 3)}),
           |  ('http://site$i.example/b', 404);
           |CREATE TABLE empty_t (k INTEGER PRIMARY KEY, note TEXT);""".stripMargin
      s"bulkA-$i" -> makeDb(dir, s"a$i", sql).toString
    }
    // family B (40 files): a DIFFERENT schema for the same-named table —
    // must land in its own (table, schema) group and still commit
    val familyB = (1 to 40).map { i =>
      val sql =
        s"""CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, depth REAL);
           |INSERT INTO crawl (url, depth) VALUES ('http://b$i.example/', $i.5);""".stripMargin
      s"bulkB-$i" -> makeDb(dir, s"b$i", sql).toString
    }
    // not-a-database file: catalog failure, isolated
    val garbage = dir.resolve("garbage.sqlite")
    Files.write(garbage, Array.fill[Byte](2048)(0x5A))
    // valid catalog, one corrupt TABLE: decode of t2 fails, and the
    // segment's perfectly-readable t1 must NOT be half-committed
    val partial = makeDb(dir, "partial",
      """CREATE TABLE t1 (id INTEGER PRIMARY KEY, v TEXT);
        |INSERT INTO t1 VALUES (1, 'fine');
        |CREATE TABLE t2 (id INTEGER PRIMARY KEY, v TEXT);
        |INSERT INTO t2 VALUES (1, 'doomed');""".stripMargin)
    val t2Root = SqliteCli.query(partial.toString,
      "SELECT rootpage FROM sqlite_master WHERE name='t2';").trim.toInt
    // stomp t2's root page with garbage (page 1 and t1 stay intact)
    val ch = java.nio.channels.FileChannel.open(partial, StandardOpenOption.WRITE)
    try ch.write(java.nio.ByteBuffer.wrap(Array.fill[Byte](4096)(0x7F)),
      (t2Root.toLong - 1) * 4096)
    finally ch.close()

    // a crashed-writer segment: schema + rows live only in the WAL
    // sidecar — the overlay must work inside executor tasks too
    val walDb = {
      val wdir = Files.createTempDirectory("bulk-wal")
      val live = wdir.resolve("live.sqlite")
      val snap = wdir.resolve("walseg.sqlite")
      val script =
        s"""PRAGMA journal_mode=WAL;
           |CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, status INTEGER);
           |INSERT INTO crawl (url, status) VALUES ('http://wal.example/', 200);
           |CREATE TABLE empty_t (k INTEGER PRIMARY KEY, note TEXT);
           |.shell cp "$live" "$snap"
           |.shell cp "$live-wal" "$snap-wal"
           |""".stripMargin
      assert(SqliteCli.run(live.toString, script) == 0)
      snap
    }

    val files = (familyA ++ familyB).toMap +
      ("bulk-garbage" -> garbage.toString) + ("bulk-partial" -> partial.toString) +
      ("bulk-wal" -> walDb.toString)

    val tasksEnded = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasksEnded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val results =
      try engine.store.ingestSqliteSegmentsDistributed(files)
      finally spark.sparkContext.removeSparkListener(listener)

    // the work ran as Spark tasks (the closures' TaskContext require
    // would have thrown on any driver-side decode)
    assert(tasksEnded.get() >= 3, s"only ${tasksEnded.get()} tasks ended")

    assert(results.size == 223)
    val failures = results.collect { case (seg, f) if f.isFailure => seg }.toSet
    assert(failures == Set("bulk-garbage", "bulk-partial"))
    // the WAL-only segment decoded through the overlay in a task
    assert(results("bulk-wal").get.sorted == Seq("crawl", "empty_t"))
    val wr = engine.read("bulk-wal", "SELECT url, status FROM crawl;").collect()(0)
    assert(wr.getString(0) == "http://wal.example/" && wr.getLong(1) == 200L)
    assert(results("bulk-garbage").failed.get.getMessage.contains("not a SQLite database"))
    // all-or-nothing per segment: no marker, no tables, not even t1
    assert(!engine.store.segmentExists("bulk-partial"))
    assert(engine.store.tables("bulk-partial").isEmpty)

    // every good segment committed all its tables
    assert(results("bulkA-7").get.sorted == Seq("crawl", "empty_t"))
    assert(results("bulkB-3").get == Seq("crawl"))
    // spot-check values through the engine's read path
    val r = engine.read("bulkA-7", "SELECT url, status FROM crawl ORDER BY id;").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("http://site7.example/a", 201L), ("http://site7.example/b", 404L)))
    assert(engine.read("bulkA-7", "SELECT count(*) AS n FROM empty_t;")
      .collect()(0).getLong(0) == 0L)
    assert(engine.read("bulkB-3", "SELECT depth FROM crawl;").collect()(0).getDouble(0) == 3.5)

    // cross-segment scan sees the whole migrated fleet as ONE relation:
    // 180×2 family-A rows + 40 family-B rows under the widened schema
    val all = engine.readAll("SELECT count(*) AS n FROM crawl;", "bulk[AB]-.*")
      .collect()(0).getLong(0)
    assert(all == 180L * 2 + 40L)

    // no staging leftovers under the store root
    val leftovers = Files.list(java.nio.file.Paths.get(root)).iterator()
    val bulkDirs = new scala.collection.mutable.ArrayBuffer[String]()
    while (leftovers.hasNext) {
      val p = leftovers.next().getFileName.toString
      if (p.startsWith("._bulk_")) bulkDirs += p
    }
    assert(bulkDirs.isEmpty, s"staging leftovers: $bulkDirs")
  }

  test("distributed ingest honors widen mode inside tasks") {
    val dir = Files.createTempDirectory("bulk-widen")
    val db = makeDb(dir, "mixed",
      """CREATE TABLE m (id INTEGER PRIMARY KEY, x INTEGER);
        |INSERT INTO m VALUES (1, 42), (2, 'not-a-number');""".stripMargin)
    val strict = engine.store.ingestSqliteSegmentsDistributed(
      Map("bulk-mixed-strict" -> db.toString))
    assert(strict("bulk-mixed-strict").isFailure)
    assert(strict("bulk-mixed-strict").failed.get.getMessage.contains("column x"))
    val widened = engine.store.ingestSqliteSegmentsDistributed(
      Map("bulk-mixed" -> db.toString), widen = true)
    assert(widened("bulk-mixed").get == Seq("m"))
    val rows = engine.read("bulk-mixed", "SELECT x FROM m ORDER BY id;").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("42", "not-a-number"))
  }

  test("scheme-qualified file:// URIs ingest through the Hadoop access path inside tasks") {
    // the reference's migration universe is HDFS listings of *.sqlite
    // (sync.py:365-369) — URIs java.nio can't open. file:// exercises
    // the same SqlitePageStore.OnHadoop + FSDataInputStream path the
    // executors would use for hdfs:// or s3a://, sidecars included.
    val dir = Files.createTempDirectory("bulk-scheme")
    val plain = makeDb(dir, "h1",
      """CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, status INTEGER);
        |INSERT INTO crawl (url, status) VALUES ('http://hadoop.example/', 200);""".stripMargin)

    // a crashed WAL-mode writer: schema + rows live only in the sidecar
    val walDb = {
      val live = dir.resolve("hwal-live.sqlite")
      val snap = dir.resolve("hwal.sqlite")
      val script =
        s"""PRAGMA journal_mode=WAL;
           |CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, status INTEGER);
           |INSERT INTO crawl (url, status) VALUES ('http://hadoop-wal.example/', 301);
           |.shell cp "$live" "$snap"
           |.shell cp "$live-wal" "$snap-wal"
           |""".stripMargin
      assert(SqliteCli.run(live.toString, script) == 0)
      snap
    }

    // a crashed rollback-mode writer: the hot journal's pre-images must
    // undo the interrupted transaction's spilled pages
    val journalDb = {
      val live = dir.resolve("hj-live.sqlite")
      val snap = dir.resolve("hj.sqlite")
      val committed = (1 to 400).map(i =>
        s"INSERT INTO t VALUES ($i, 'keep-$i');").mkString("\n")
      val script =
        s"""PRAGMA journal_mode=DELETE;
           |PRAGMA cache_size=2;
           |CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT);
           |BEGIN;
           |$committed
           |COMMIT;
           |BEGIN;
           |UPDATE t SET v = 'doomed';
           |.shell cp "$live" "$snap"
           |.shell cp "$live-journal" "$snap-journal"
           |ROLLBACK;
           |""".stripMargin
      assert(SqliteCli.run(live.toString, script) == 0)
      assert(Files.size(dir.resolve("hj.sqlite-journal")) >= 28,
        "journal empty — fixture broken")
      snap
    }

    def uri(p: Path): String = p.toUri.toString
    assert(uri(plain).startsWith("file:///")) // really scheme-qualified

    val results = engine.store.ingestSqliteSegmentsDistributed(Map(
      "sch-plain" -> uri(plain),
      "sch-wal" -> uri(walDb),
      "sch-journal" -> uri(journalDb)))
    assert(results.values.forall(_.isSuccess),
      s"failures: ${results.collect { case (s, scala.util.Failure(e)) => s -> e.getMessage }}")

    val p = engine.read("sch-plain", "SELECT url, status FROM crawl;").collect()(0)
    assert(p.getString(0) == "http://hadoop.example/" && p.getLong(1) == 200L)
    val w = engine.read("sch-wal", "SELECT url, status FROM crawl;").collect()(0)
    assert(w.getString(0) == "http://hadoop-wal.example/" && w.getLong(1) == 301L)
    // journal recovery: all 400 committed rows, none of the doomed update
    val j = engine.read("sch-journal",
      "SELECT count(*) AS n, sum(v LIKE 'keep-%') AS keeps FROM t;").collect()(0)
    assert(j.getLong(0) == 400L && j.getLong(1) == 400L)
  }

  test("distributed ingest refuses cold segments and hostile ids without running a job") {
    val coldStore = new SegmentStore(spark, root,
      coldRoot = Some(Files.createTempDirectory("bulk-cold").toString),
      coldPredicate = _.startsWith("cold"))
    val res = coldStore.ingestSqliteSegmentsDistributed(
      Map("cold-x" -> "/nonexistent.sqlite", "_bad id" -> "/nonexistent.sqlite"))
    assert(res("cold-x").failed.get.getMessage.contains("read-only"))
    assert(res("_bad id").failed.get.getMessage.contains("must match"))
  }

  /** Jobs scheduled while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      ListenerDrain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rowsOf(seg: String, t: String): Seq[String] =
    engine.store.loadTable(seg, t).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def answer(seg: String, sql: String): Seq[String] =
    engine.read(seg, sql).collect().map(_.mkString("|")).toSeq

  test("single-file and distributed ingest build the same segment: " +
      "trigger, view, fts5 and rtree included") {
    val dir = Files.createTempDirectory("bulk-parity")
    val db = makeDb(dir, "parity",
      """CREATE TABLE docs (id INTEGER PRIMARY KEY, body TEXT, n INTEGER);
        |CREATE TABLE audit (aid INTEGER PRIMARY KEY AUTOINCREMENT, msg TEXT);
        |CREATE TRIGGER docs_ai AFTER INSERT ON docs BEGIN
        |  INSERT INTO audit (msg) VALUES ('ins ' || NEW.id); END;
        |CREATE VIEW big AS SELECT id, body FROM docs WHERE n > 1;
        |CREATE VIRTUAL TABLE ft USING fts5(body);
        |INSERT INTO ft VALUES ('the quick brown fox'), ('lazy dogs sleep'),
        |  ('quick quick slow');
        |CREATE VIRTUAL TABLE boxes USING rtree(id, minX, maxX, minY, maxY, +label);
        |INSERT INTO boxes VALUES (1, 0, 1, 0, 1, 'a'), (2, 5, 6, 5, 6, 'b'),
        |  (3, 0.5, 2, 0.5, 2, 'c');
        |INSERT INTO docs (body, n) VALUES ('alpha', 1), ('beta', 2), ('gamma', 3);""".stripMargin)
    val single = engine.store.ingestSqliteSegment(db.toString, "par-single")
    val dist = engine.store.ingestSqliteSegmentsDistributed(
      Map("par-dist" -> db.toString))("par-dist").get
    assert(dist.sorted == single.sorted)
    assert(Set("docs", "audit", "ft", "boxes").subsetOf(single.toSet), single)
    assert(engine.store.masterCatalog("par-dist") ==
      engine.store.masterCatalog("par-single"))
    val tables = engine.store.tables("par-single")
    assert(engine.store.tables("par-dist") == tables)
    tables.foreach(t => assert(rowsOf("par-dist", t) == rowsOf("par-single", t), t))

    Seq(
      "SELECT body FROM ft WHERE ft MATCH 'quick' ORDER BY body;",
      "SELECT id, label FROM boxes WHERE minX >= 0 AND maxX <= 2 ORDER BY id;",
      "SELECT id, body FROM big ORDER BY id;"
    ).foreach { q =>
      val want = answer("par-single", q)
      assert(want.nonEmpty, q)
      assert(answer("par-dist", q) == want, q)
    }
    // the trigger fires on both (provision on an existing segment only
    // takes its write lock)
    engine.schemas.put("par-lock", "CREATE TABLE unused_ (x INTEGER);")
    Seq("par-single", "par-dist").foreach { seg =>
      engine.provisionWritable(seg, "par-lock")
      engine.write(seg, "INSERT INTO docs (body, n) VALUES ('delta', 4);")
    }
    val audit = "SELECT msg FROM audit ORDER BY aid;"
    assert(answer("par-single", audit).last == "ins 4")
    assert(answer("par-dist", audit) == answer("par-single", audit))
  }

  test("a file of plain tables ingests with one write job per table and " +
      "writes no views or triggers file") {
    val dir = Files.createTempDirectory("bulk-plain")
    val db = makeDb(dir, "plain",
      """CREATE TABLE crawl (id INTEGER PRIMARY KEY, url TEXT, status INTEGER);
        |INSERT INTO crawl (url, status) VALUES ('http://p.example/a', 200),
        |  ('http://p.example/b', 404);
        |CREATE TABLE kv (k TEXT PRIMARY KEY, v TEXT);
        |INSERT INTO kv VALUES ('a', 'x');""".stripMargin)
    val (single, singleJobs) =
      jobsDuring(engine.store.ingestSqliteSegment(db.toString, "plain-single"))
    val (dist, distJobs) = jobsDuring(engine.store.ingestSqliteSegmentsDistributed(
      Map("plain-dist" -> db.toString))("plain-dist").get)
    assert(single.sorted == Seq("crawl", "kv") && dist.sorted == single.sorted)
    assert(singleJobs == 2, s"$singleJobs jobs for two tables")
    // one catalog job, then one decode+write job per table
    assert(distJobs == 3, s"$distJobs jobs for two tables")
    Seq("plain-single", "plain-dist").foreach { seg =>
      Seq("_views", "_triggers").foreach { d =>
        val f = java.nio.file.Paths.get(root, d, s"$seg.json")
        assert(!Files.exists(f), s"$f written")
      }
    }
  }
}
