package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. An untimed warmup pass
  * at sf0.001 first forces classloading, codegen compilation, and JIT
  * of the shared operator paths so per-query numbers reflect steady
  * state rather than whichever query happened to run first. A query
  * that throws is reported as -1, listed with its message under
  * `failed`, and left out of `value`; the process then exits 1.
  *
  * Noise protocol (VERDICT r8 #5): single-shot timings on a shared
  * host swing 3x with background noise, and min-of-2 still left
  * round-over-round deltas dominated by it — each query now runs 3
  * timed passes and reports the MEDIAN. Alongside, one warm DuckDB
  * pass over the oracle SQL of the same queries runs in the same
  * session (`duckdb_total`), so every BENCH_r{N}.json carries its own
  * same-host yardstick instead of comparing against a SCALE.md number
  * measured under different load. The yardstick runs TWICE (pre +
  * post, r11): background load on this shared host swings ±25% inside
  * one bench window (SCALE.md round-11 bisect — the r10 "+27%
  * regression" was exactly that), so a single after-the-fact sample
  * can misattribute window drift to code. Compare value/duckdb ratios
  * across rounds, not absolute seconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR not WARN: function re-registration warnings across 45 queries
    // x 3 passes would pollute the output the driver parses
    spark.sparkContext.setLogLevel("ERROR")

    // GRAFT_BENCH_ONLY=q32_jaccard_exact,q30_minhash_lsh — iterate on a
    // subset without paying for the whole suite (r12)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      sys.env.get("GRAFT_BENCH_ONLY") match {
        case Some(f) if f.nonEmpty =>
          val want = f.split(",").map(_.trim).toSet
          all.filter(want)
        case _ => all
      }
    }
    val warmDir = {
      val d = new java.io.File("/root/testdata/sf0.001")
      if (d.isDirectory) Some(d.getPath) else None
    }
    // Pipeline queries localCheckpoint multiply-referenced frames;
    // drop those blocks once a query finishes so 40+ back-to-back
    // queries don't accumulate storage-memory pressure.
    // BLOCKING unpersist (r19 measurement fix, declared in
    // OPTIMIZATION_r19.md): the async form returned before blocks were
    // actually dropped, so one query's cleanup (and the memory pressure
    // of its lingering blocks) bled into the NEXT query's timed window —
    // q68 measured 3.1 s inside the sf1 bench vs 1.2-1.6 s isolated.
    // The drop now also runs OUTSIDE the timed window (see timeOnce).
    def dropCachedBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      // explicit GC so ContextCleaner reaps the previous queries'
      // shuffle files NOW (r19): with a large heap, collections are
      // rare and shuffle dirs accumulated across passes until the
      // disk filled (the sf10 run died with 34 GB of stale blockmgr
      // spill). Runs outside every timed window.
      System.gc()
    }

    // FULL evaluation, not count() (r17): Catalyst eliminates a final
    // left join whose right side is unique-keyed and unprojected, so a
    // count() of e.g. q68's output never ran its gram shuffle while the
    // DuckDB yardstick fetchall()'d the real thing. Hash-summing every
    // column forces the whole tree with one driver-side row.
    def force(name: String, dir: String): Unit = {
      import org.apache.spark.sql.functions.{col, hash, sum}
      val df = SparkEntry.queries(name)(spark, dir)
      val cs = df.columns.map(c => col(s"`$c`"))
      if (cs.isEmpty) { df.count(); () }
      else { df.select(sum(hash(cs.toSeq: _*).cast("long"))).first(); () }
    }

    warmDir.foreach { wd =>
      names.foreach { name =>
        try force(name, wd)
        catch { case _: Throwable => () }
        dropCachedBlocks()
      }
    }

    // PRE-pass DuckDB yardstick: the host is shared and its background
    // load swings ±25% across a bench's ~4-minute window (the r10
    // "+27% regression" was exactly this — SCALE.md round-11 bisect).
    // Sampling the yardstick before AND after the Spark passes puts
    // the window drift in the output itself.
    val duckOnly: Set[String] =
      if (sys.env.get("GRAFT_BENCH_ONLY").exists(_.nonEmpty)) names.toSet
      else Set.empty
    val duckPre = duckdbYardstick(sfDir, duckOnly)

    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { force(name, sfDir); true }
        catch { case scala.util.control.NonFatal(e) =>
          failed.getOrElseUpdate(name, Option(e.getMessage).getOrElse(e.toString))
          false
        }
      // timestamp BEFORE the cleanup: the per-query number is the
      // query's computation, not its checkpoint-block teardown (r19;
      // the teardown is synchronous now, so it can't leak into the
      // next sample either)
      val dt = (System.nanoTime() - t0) / 1e9
      dropCachedBlocks()
      if (ok) dt else -1.0
    }
    // interleaved passes (every query once, three times over) rather
    // than back-to-back repeats: a host-noise burst then lands on one
    // PASS, where the median across passes absorbs it — back-to-back
    // repeats would hand all three samples to the same burst
    val passes = Seq.fill(3)(names.map(timeOnce))
    val results = names.zipWithIndex.map { case (name, i) =>
      val samples = passes.map(_(i))
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.sorted.apply(1))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val duck = duckdbYardstick(sfDir, duckOnly)
    // labeled verification baselines (VERDICT r10 #8): q32/q34 are
    // intentionally quadratic oracles for the bucketed scale paths
    // (q30/q41), and q31's exhaustive hamming verification is in the
    // same family — aggregate x-vs-DuckDB comparisons at larger SFs
    // should exclude them, which this list makes mechanical
    val baselineQueries = Seq("q31_simhash", "q32_jaccard_exact", "q34_embed_neardup")
      .filter(results.toMap.contains)
    // wire-level leg (r18): the reference's unit of work is an HTTP
    // round trip (read.py:33-52 streams a JSON array), so the bench
    // tracks the full served path — gate, segment resolution, query,
    // streaming JSON serialization, client body consumption — not just
    // engine-internal DataFrames. Median of 3 per query; setup
    // (provision + load) untimed, like DuckDB's view registration.
    val httpRows =
      if (sys.env.get("GRAFT_BENCH_ONLY").exists(_.nonEmpty)) Seq.empty
      else try httpLeg(spark, sfDir)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val httpJson = httpRows
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""baseline_queries":${baselineQueries.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""http_queries":$httpJson,""" +
        s""""failed":${failed.map { case (k, m) => "\"" + k + "\":" +
          graft.engine.JsonShape.str(m) }.mkString("{", ",", "}")},""" +
        s""""duckdb_total":${duck.map(_.total).getOrElse(-1.0)},""" +
        s""""duckdb_total_pre":${duckPre.map(_.total).getOrElse(-1.0)},""" +
        s""""duckdb_count":${duck.map(_.count).getOrElse(0)},""" +
        s""""duckdb_queries":${duck.map(_.perQueryJson).getOrElse("{}")},""" +
        s""""duckdb_timeouts":${duck.map(_.timeoutsJson).getOrElse("[]")},""" +
        s""""runs_per_query":3,"aggregation":"median","sf":"$sfDir"}"""
    // the result goes to its OWN file first: the driver's tail-capture
    // has truncated the (long) stdout line before (VERDICT r9 nit 3),
    // and a file is machine-readable regardless of what else logs
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_RESULT.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case _: Throwable => () }
    // the JSON line is printed LAST, after spark.stop() has quiesced
    // every internal pool: the r19 bench printed it before stop(), and
    // the shutdown's RejectedExecutionException stack traces (promise
    // callbacks racing pool shutdown) pushed the line out of the
    // driver's bounded tail capture — BENCH_r19.json came back
    // `parsed: null`. A short drain sleep lets any straggling daemon
    // threads finish writing before the one line that must stay clean.
    try spark.stop() catch { case _: Throwable => () }
    try Thread.sleep(1500) catch { case _: InterruptedException => () }
    System.out.flush(); System.err.flush()
    println(line)
    System.out.flush()
    if (failed.nonEmpty) {
      System.err.println(s"${failed.size} queries failed: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The wire-level rows: documents served from a provisioned segment
    * over REAL HTTP (the q58 path), timing the complete round trip per
    * query. The query set spans the serving cost spectrum — a full
    * streaming scan (serialization-bound), a filtered projection, a
    * whole-table aggregate, and an ORDER BY … LIMIT top-k. */
  private def httpLeg(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-http")
    val store = new graft.engine.SegmentStore(spark, tmp.resolve("store").toString)
    val eng = new graft.engine.TroughEngine(spark, store, new graft.engine.SchemaRegistry)
    store.provision("benchhttp",
      "CREATE TABLE docs (doc_id INTEGER PRIMARY KEY, text TEXT);")
    store.replaceTableData("benchhttp", "docs",
      spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text")))
    val facade = new graft.server.HttpFacade(eng,
      readPort = 0, writePort = 0, syncPort = 0).start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val uri = java.net.URI.create(
        s"http://localhost:${facade.boundReadPort}/?segment=benchhttp")
      def once(sql: String): Double = {
        val t0 = System.nanoTime()
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(uri)
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sql)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString(
            java.nio.charset.StandardCharsets.UTF_8))
        require(resp.statusCode() == 200 && resp.body().nonEmpty,
          s"read server answered ${resp.statusCode()}")
        (System.nanoTime() - t0) / 1e9
      }
      val queries = Seq(
        "http_scan_stream" -> "SELECT doc_id, text FROM docs;",
        "http_filter_project" ->
          "SELECT doc_id FROM docs WHERE length(text) > 200;",
        "http_agg" ->
          "SELECT count(*) AS n, sum(length(text)) AS chars FROM docs;",
        "http_topk" ->
          "SELECT doc_id, length(text) AS n FROM docs ORDER BY n DESC, doc_id LIMIT 100;")
      queries.foreach { case (_, sql) => once(sql) } // warm
      queries.map { case (name, sql) =>
        val samples = Seq.fill(3)(once(sql)).sorted
        name -> samples(1)
      }
    } finally facade.stop()
  }

  private final case class Yardstick(total: Double, count: Int, perQueryJson: String,
      timeoutsJson: String)

  /** One warm DuckDB pass over the oracle SQL at the same SF: views
    * over the sf parquet, an untimed warm pass, then one timed pass,
    * with PER-QUERY timings in the output so the ≤2x mandate is
    * checkable query by query, not only in aggregate. Runs in the
    * container's driver-side python (the same env the correctness
    * oracle uses); None when that env is unavailable — the bench must
    * not fail for the yardstick's sake.
    *
    * The GRAFT_DUCK_BUDGET_S budget (default 60 s) is enforced with a
    * REAL timeout — a watchdog thread calls `con.interrupt()` — so a
    * 20-minute / 30-GB oracle (q60 at sf1) is cut off at the budget
    * instead of first running to completion (or OOM-killing the pass)
    * before being excluded (ADVICE r9 #2). */
  private def duckdbYardstick(sfDir: String,
      only: Set[String] = Set.empty): Option[Yardstick] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = mapper.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .foreach { case (k, v) => oracle.put(k, v) }
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-duck")
    val oraclePath = dir.resolve("oracle.json")
    val scriptPath = dir.resolve("duck.py")
    val script =
      """import duckdb, json, sys, time, os, threading
        |sf, oracle_path = sys.argv[1], sys.argv[2]
        |qs = json.load(open(oracle_path))
        |con = duckdb.connect()
        |for t in ["region","nation","customer","supplier","part","orders",
        |          "lineitem","events","documents","embeddings"]:
        |    p = f"{sf}/{t}.parquet"
        |    if os.path.isdir(p):
        |        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        |    elif os.path.exists(p):
        |        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        |names = [n for n in sorted(qs)]
        |# per-query budget, enforced by interrupt: an over-budget oracle
        |# (q60's recursive-CTE closure at sf1 runs 20+ min) is STOPPED,
        |# not merely excluded after burning the full cost
        |budget = float(os.environ.get("GRAFT_DUCK_BUDGET_S", "60"))
        |def run_budgeted(sql):
        |    t = threading.Timer(budget, con.interrupt)
        |    t.start()
        |    try:
        |        t0 = time.time()
        |        con.sql(sql).fetchall()
        |        return time.time() - t0
        |    except Exception:
        |        return None
        |    finally:
        |        t.cancel()
        |ok = {}
        |for n in names:  # warm: parse+plan+IO caches
        |    ok[n] = run_budgeted(qs[n]) is not None
        |per = {}
        |total = 0.0
        |for n in names:
        |    if not ok[n]:
        |        continue
        |    d = run_budgeted(qs[n])
        |    if d is None:
        |        ok[n] = False
        |        continue
        |    per[n] = round(d, 4)
        |    total += d
        |# over-budget oracles are REPORTED, not silently omitted (r19):
        |# the sf1 file's duckdb_count=69/73 hid exactly the heavy dedup
        |# queries the 2x gate most needs to see
        |timeouts = sorted(n for n in names if not ok[n])
        |print(json.dumps({"total": total, "count": sum(ok.values()),
        |                  "queries": per, "timeouts": timeouts,
        |                  "budget_s": budget}))
        |""".stripMargin
    try {
      java.nio.file.Files.writeString(oraclePath, oracle.toString)
      java.nio.file.Files.writeString(scriptPath, script)
      val pb = new ProcessBuilder("python3", scriptPath.toString, sfDir, oraclePath.toString)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // process-level watchdog (r19): `con.interrupt()` is ignored by
      // some long oracle phases (observed at sf10 — the first warm
      // query ran 30+ min past its 45 s budget), so the per-query
      // budget alone cannot bound the pass. Hard cap = 2×budget per
      // query (warm + timed) + slack, then the subprocess is killed
      // and the yardstick reports None — the bench must not stall for
      // the yardstick's sake.
      val budgetS = sys.env.getOrElse("GRAFT_DUCK_BUDGET_S", "60").toDouble
      val capS = (2 * budgetS * math.max(1, SparkEntry.oracleSql.size
        .min(if (only.isEmpty) Int.MaxValue else only.size)) + 120).toLong
      val watchdog = new Thread(() => {
        if (!p.waitFor(capS, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly()
      }, "graft-duck-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
      val out = new String(p.getInputStream.readAllBytes,
        java.nio.charset.StandardCharsets.UTF_8)
      if (p.waitFor() != 0) return None
      val node = mapper.readTree(out.linesIterator.toSeq.last)
      Some(Yardstick(node.get("total").asDouble(), node.get("count").asInt(),
        node.get("queries").toString,
        Option(node.get("timeouts")).map(_.toString).getOrElse("[]")))
    } catch { case _: Throwable => None }
    finally {
      java.nio.file.Files.deleteIfExists(scriptPath)
      java.nio.file.Files.deleteIfExists(oraclePath)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
