package graft

import org.apache.spark.sql.SparkSession

/** General-tier trigger THROUGHPUT measurement (r18, VERDICT r17 task
  * 2): the r17 uncap made non-vectorizable trigger shapes stream
  * row-at-a-time on the driver, but nobody measured the firings/sec of
  * that residual tier. This main runs the canonical general-tier shape
  * — a self-DML body (the trigger UPDATEs its own target table, which
  * defeats every vectorized tier by construction) — at a configurable
  * firing count and prints one JSON line for SCALE.md.
  *
  * Usage: runMain graft.ScaleTrigger [firings] [mode]
  *   mode = selfdml  (AFTER INSERT body updates its own row —
  *                    vectorized since r18's self-row UPDATE shape)
  *        | general  (same body + a WHERE conjunct outside the
  *                    compiled shape — pins the true row-at-a-time
  *                    general tier)
  *        | audit    (AFTER INSERT body appends to another table —
  *                    the classic vectorized tier, for contrast)
  */
object ScaleTrigger {
  def main(args: Array[String]): Unit = {
    val firings = args.headOption.map(_.toInt).getOrElse(10000)
    val mode = if (args.length > 1) args(1) else "selfdml"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-trigbench")
    val store = new graft.engine.SegmentStore(spark, tmp.resolve("store").toString)
    val engine = new graft.engine.TroughEngine(spark, store,
      new graft.engine.SchemaRegistry)
    engine.schemas.put("trigbench",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, c INTEGER);" +
        "CREATE TABLE audit (id INTEGER, note TEXT);" +
        "CREATE TABLE src (id INTEGER PRIMARY KEY);")
    engine.provisionWritable("trig", "trigbench")
    // seed: the source rows whose INSERT INTO t ... SELECT fires the
    // trigger once per row
    import spark.implicits._
    store.replaceTableData("trig", "src",
      spark.range(1, firings + 1).select($"id"))
    val trigger = mode match {
      case "audit" =>
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN " +
          "INSERT INTO audit VALUES (NEW.id, 'i'); END;"
      case "general" =>
        // the inert extra conjunct is outside the compiled self-row
        // shape (exactly `id = NEW.id`) → true row-at-a-time tier
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN " +
          "UPDATE t SET c = c + 1 WHERE id = NEW.id AND NEW.id >= 0; END;"
      case _ =>
        // self-DML on the firing row: vectorized since r18
        "CREATE TRIGGER tr AFTER INSERT ON t BEGIN " +
          "UPDATE t SET c = c + 1 WHERE id = NEW.id; END;"
    }
    engine.write("trig", trigger)
    val t0 = System.nanoTime()
    engine.write("trig", "INSERT INTO t SELECT id, 0 FROM src;")
    val wall = (System.nanoTime() - t0) / 1e9
    // correctness spot-checks: every row landed, every body ran
    val got = engine.read("trig",
      "SELECT count(*) AS n, sum(c) AS s FROM t").collect()(0)
    val n = got.getLong(0)
    val s = if (got.isNullAt(1)) 0L else got.getLong(1)
    val expectS = if (mode == "audit") 0L else firings.toLong // c summed: one +1 per firing
    require(n == firings && s == expectS,
      s"wrong result: n=$n s=$s (want $firings/$expectS)")
    println(f"""{"metric":"trigger_general_tier","mode":"$mode","firings":$firings,""" +
      f""""wall_sec":$wall%.2f,"firings_per_sec":${firings / wall}%.1f}""")
    spark.stop()
  }
}
