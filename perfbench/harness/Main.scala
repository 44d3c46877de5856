package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Result(attempted: Int, failed: Int, e2e: Map[String, Double],
    layer: Map[String, Double], detail: Map[String, Double], errors: Seq[String])

/** JVM side of the benchmark: runs one workload over inputs generated by
  * `gen.py` and writes `result.json` (plus the answers and spans the
  * checker and the trace need) into the output directory.
  *
  * Usage: perfbench.Main <workload> <seconds> <trace 0|1> <inputs dir> <output dir>
  *        perfbench.Main oracle-sql <file>   (writes SparkEntry.oracleSql as JSON)
  */
object Main {
  val cpus: Int = sys.env.get("PERFBENCH_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def commonLayer(before: Probes.Snapshot, after: Probes.Snapshot,
      heapPeakMb: Double): Seq[(String, Double)] = Seq(
    "codegen.compiles" -> (after.codegenCompiles - before.codegenCompiles).toDouble,
    "codegen.compile_ms_mean" -> Probes.codegenCompileMsMean(),
    "listing.files_discovered" -> (after.filesDiscovered - before.filesDiscovered).toDouble,
    "listing.parallel_listing_jobs" -> (after.listingJobs - before.listingJobs).toDouble,
    "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
    "jvm.heap_peak_mb" -> heapPeakMb)

  def oracleSqlJson(): String = graft.SparkEntry.oracleSql.toSeq.sorted
    .map { case (k, v) => s"${Serve.jsonStr(k)}: ${Serve.jsonStr(v)}" }
    .mkString("{", ",\n", "}")

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Serve.jsonStr(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle-sql")) {
      Files.writeString(Paths.get(args(1)), oracleSqlJson())
      return
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, seconds, trace, inDir, outDir) = args
    val in = Paths.get(inDir)
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = Probes.install(spark.sparkContext)
    val sessionReadyMs = System.currentTimeMillis()
    val traced = trace == "1"
    val r = try workload match {
      case "serve_mixed" =>
        Serve.run(spark, in, out, seconds.toInt, traced, jvmStartMs, sessionReadyMs, listener)
      case "analytics_suite" =>
        Analytics.run(spark, in, out, traced, jvmStartMs, sessionReadyMs, listener)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    Files.writeString(out.resolve("result.json"),
      s"""{"attempted": ${r.attempted}, "failed": ${r.failed},
         | "e2e": ${json(r.e2e)},
         | "layer": ${json(r.layer)},
         | "detail": ${json(r.detail)},
         | "errors": ${r.errors.map(Serve.jsonStr).mkString("[", ", ", "]")}}
         |""".stripMargin)
    // the facade's request pools keep idle non-daemon threads alive
    System.exit(0)
  }
}
