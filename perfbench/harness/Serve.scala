package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.{SchemaRegistry, SegmentStore, TroughEngine}
import graft.server.HttpFacade

/** serve_mixed: closed-loop HTTP clients against [[HttpFacade]] over
  * localhost, one thread per client, each replaying its own pre-generated
  * stream of reads and write scripts against its own segments. */
object Serve {
  val SetupReps = 2

  final case class Op(kind: String, seg: String, sql: String)

  /** One executed op and the response it got. */
  final case class Rec(client: Int, idx: Int, op: Op, startNs: Long, endNs: Long,
      status: Int, body: Array[Byte], warm: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
    def ok: Boolean = status == 200
  }

  def loadOps(path: Path): Array[Op] =
    Files.readAllLines(path, UTF_8).asScala.iterator.filter(_.nonEmpty).map { l =>
      val Array(k, s, q) = l.split("\t", 3)
      Op(k, s, q)
    }.toArray

  def post(port: Int, seg: String, body: String): (Int, Array[Byte]) = {
    val c = URI.create(s"http://localhost:$port/?segment=$seg").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val bytes = body.getBytes(UTF_8)
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(bytes.length)
      val os = c.getOutputStream
      os.write(bytes)
      os.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val out = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
      (code, out)
    } catch {
      case e: java.io.IOException => (-1, String.valueOf(e).getBytes(UTF_8))
    }
  }

  /** A store, an engine and its HTTP facade, ingested from the
    * generated `.sqlite` segments. */
  final class Env(val root: Path, val store: SegmentStore, val engine: TroughEngine,
      val facade: HttpFacade, val ingestS: Double) {
    def close(): Unit = facade.stop()
  }

  def setup(spark: SparkSession, in: Path, root: Path, traced: Option[(Tracer, Inflight)]): Env = {
    val store = new SegmentStore(spark, root.toString)
    val schemas = new SchemaRegistry
    val engine = traced match {
      case Some((t, f)) => new TracedEngine(spark, store, schemas, t, f)
      case None => new TroughEngine(spark, store, schemas)
    }
    val files = Files.list(in.resolve("segments")).iterator.asScala.toSeq.sortBy(_.toString)
    val t0 = System.nanoTime()
    val results = store.ingestSqliteSegmentsDistributed(
      files.map(p => p.getFileName.toString.stripSuffix(".sqlite") -> p.toString).toMap)
    val ingestS = (System.nanoTime() - t0) / 1e9
    results.foreach { case (seg, r) =>
      r.failed.foreach(e => throw new IllegalStateException(s"ingest of $seg failed", e))
      engine.provisionWritable(seg)
    }
    val facade = new HttpFacade(engine, 0, 0, 0).start()
    new Env(root, store, engine, facade, ingestS)
  }

  /** Runs every client's stream from its current position in whole
    * blocks of `block` ops: `blocks` of them, or as many as start before
    * `deadlineNs`. Returns the records. */
  def drive(env: Env, streams: Array[Array[Op]], pos: Array[Int], warm: Boolean,
      block: Int, blocks: Int, deadlineNs: Long, tracer: Tracer,
      inflight: Inflight): Seq[Rec] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val threads = streams.indices.map { c =>
      new Thread(() => {
        val ops = streams(c)
        val end = pos(c) + blocks * block
        def more(i: Int): Boolean =
          if (blocks > 0) i < end else i % block != 0 || System.nanoTime() < deadlineNs
        while (more(pos(c))) {
          val i = pos(c)
          val op = ops(i % ops.length)
          val port =
            if (op.kind == "write") env.facade.boundWritePort else env.facade.boundReadPort
          val opId = if (tracer.enabled) tracer.nextId() else 0L
          val spanId = if (tracer.enabled) tracer.nextId() else 0L
          if (tracer.enabled) inflight.begin(op.seg, op.sql, opId, spanId)
          val t0 = System.nanoTime()
          val (code, body) = post(port, op.seg, op.sql)
          val t1 = System.nanoTime()
          if (tracer.enabled) {
            inflight.end(op.seg, op.sql, opId, spanId)
            tracer.record(Span(spanId, opId, 0L, "http.request", t0, t1))
          }
          out.add(Rec(c, i, op, t0, t1, code, body, warm))
          pos(c) = i + 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** The largest count of parquet part files behind any one table of
    * any one segment. */
  def filesPerTableMax(root: Path): Int = {
    val st = Files.walk(root)
    try st.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString.startsWith("segment_id="))
      .toSeq.groupBy(_.getParent).values.map(_.size).maxOption.getOrElse(0)
    finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One JSON line per record, for the checker. */
  def writeRecords(path: Path, recs: Seq[Rec]): Unit = {
    val w = Files.newBufferedWriter(path)
    try recs.foreach { r =>
      w.write(s"""{"client":${r.client},"idx":${r.idx},"kind":"${r.op.kind}",""" +
        s""""seg":${jsonStr(r.op.seg)},"sql":${jsonStr(r.op.sql)},"status":${r.status},""" +
        s""""warm":${r.warm},"body":${
          if (r.body == null) "null" else jsonStr(new String(r.body, UTF_8))}}""")
      w.newLine()
    } finally w.close()
  }

  def run(spark: SparkSession, in: Path, out: Path, seconds: Int,
      traced: Boolean, jvmStartMs: Long, sessionReadyMs: Long,
      listener: Probes.OpListener): Result = {
    val tracer = new Tracer(traced)
    val inflight = new Inflight
    val clients = Main.cpus
    val block = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(in.resolve("inputs.json").toFile).get("round").asInt
    val streams = Array.tabulate(clients)(c => loadOps(in.resolve(s"ops_$c.tsv")))
    // The program's set-up (ingest every segment, provision, start the
    // facade) runs SetupReps times on fresh stores and reports its median;
    // the last store is kept. One round of the op mix then warms it up.
    var env: Env = null
    val setups = (1 to SetupReps).map { k =>
      if (env != null) { env.close(); deleteTree(env.root) }
      val t0 = System.nanoTime()
      env = setup(spark, in, out.resolve(s"store$k"),
        if (traced) Some((tracer, inflight)) else None)
      ((System.nanoTime() - t0) / 1e9, env.ingestS)
    }
    val pos = Array.fill(clients)(0)
    val tw = System.nanoTime()
    val warmRecs = drive(env, streams, pos, warm = true, block, 1, 0L, tracer, inflight)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = (sessionReadyMs - jvmStartMs) / 1e3 + percentile(setups.map(_._1), 0.5) + warmS
    val traceEngine = env.engine match {
      case t: TracedEngine => Some(t)
      case _ => None
    }

    // ------------------------------------------------ the timed window
    System.gc()
    val before = Probes.snapshot()
    listener.reset()
    listener.counting = true
    traceEngine.foreach(_.measuring = true)
    Probes.resetPeaks()
    val windowStart = System.nanoTime()
    val recs = drive(env, streams, pos, warm = false, block, 0,
      windowStart + seconds * 1000000000L, tracer, inflight)
    val windowEnd = recs.map(_.endNs).maxOption.getOrElse(System.nanoTime())
    traceEngine.foreach(_.measuring = false)
    val heapPeak = Probes.heapPeakMb()
    val threadsPeak = Probes.threadsPeak()
    val after = Probes.snapshot()
    Thread.sleep(300) // let the listener bus deliver the window's last events
    listener.counting = false

    writeRecords(out.resolve("records.jsonl"), (warmRecs ++ recs).sortBy(r => (r.client, r.idx)))

    // every segment back out as .sqlite for the final check
    val storeBytes = dirBytes(env.root)
    val tExport = System.nanoTime()
    val exp = out.resolve("export")
    Files.createDirectories(exp)
    env.store.exportSqliteSegments(env.store.listSegments(), exp.toString, Main.cpus)
      .foreach { case (seg, r) =>
        r.failed.foreach(e => throw new IllegalStateException(s"export of $seg failed", e))
      }
    val filesMax = filesPerTableMax(env.root)
    env.close()

    val timed = recs
    val failed = timed.count(!_.ok)
    val windowS = (windowEnd - windowStart) / 1e9
    val lat = timed.map(_.ms)
    val reads = timed.filter(_.op.kind == "read").map(_.ms)
    val writes = timed.filter(_.op.kind == "write").map(_.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      // each closed-loop client's rate over its median round, summed
      "ops_per_s" -> timed.groupBy(_.client).values.map { rs =>
        block / percentile(rs.groupBy(_.idx / block).values.map { round =>
          (round.map(_.endNs).max - round.map(_.startNs).min) / 1e9
        }.toSeq, 0.5)
      }.sum,
      "op_geomean_ms" -> geomean(lat),
      // p90: tens of samples above it, and off the read/write latency
      // cliff (one op in 32 is a write script)
      "op_tail_ms" -> percentile(lat, 0.90),
      "cpu_ms_per_op" -> (after.cpuNs - before.cpuNs) / 1e6 / math.max(1, timed.size),
      "rss_beyond_heap_mb" -> Probes.rssBeyondHeapMb())
    val detail = Map(
      "ops" -> timed.size.toDouble, "reads" -> reads.size.toDouble,
      "op_p50_ms" -> percentile(lat, 0.5),
      "writes" -> writes.size.toDouble, "window_s" -> windowS,
      "read_rps" -> reads.size / windowS,
      "read_p50_ms" -> percentile(reads, 0.5), "read_p99_ms" -> percentile(reads, 0.99),
      "write_scripts_per_s" -> writes.size / windowS,
      "write_p50_ms" -> percentile(writes, 0.5), "write_p90_ms" -> percentile(writes, 0.9),
      "setup_reps_s" -> setups.map(_._1).sum, "warm_s" -> warmS, 
      "store_bytes" -> storeBytes.toDouble, "teardown_s" -> (System.nanoTime() - tExport) / 1e9)

    // ------------------------------------------- per-layer (traced runs)
    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val spans = tracer.all.filter(s => s.startNs >= windowStart)
      val byParent = spans.groupBy(_.parent)
      val wire = spans.filter(_.name == "http.request").map { s =>
        (s.durNs - byParent.getOrElse(s.id, Nil).map(_.busyNs).sum) / 1e6
      }
      val te = traceEngine.get
      def q(cls: String) = Option(te.readMs.get(cls)).map(_.asScala.toSeq).getOrElse(Nil)
      val nReads = math.max(1, reads.size)
      val nWrites = math.max(1, writes.size)
      val r = listener.of("read")
      val w = listener.of("write")
      val all = Seq("read", "write", "other").map(listener.of)
      def sum(f: Probes.ClassTotals => Long) = all.map(f(_)).sum.toDouble
      val ops = math.max(1, timed.size).toDouble
      layer ++= Seq(
        "http.wire_ms_p50" -> percentile(wire, 0.5),
        "http.threads_peak" -> threadsPeak.toDouble,
        "read.plan_miss_ms_p50" -> percentile(q("plan_miss"), 0.5),
        "read.plan_hit_ms_p50" -> percentile(q("plan_hit"), 0.5),
        "read.after_change_ms_p50" -> percentile(q("after_change"), 0.5),
        "read.exec_ms_p50" -> percentile(te.drainMs.asScala.toSeq, 0.5),
        "read.json_mb_per_s" -> (if (te.scanNs > 0) te.scanBytes / 1e6 / (te.scanNs / 1e9) else 0.0),
        "read.jobs_per_read" -> r.jobs.sum / nReads.toDouble,
        "write.script_ms_p50" -> percentile(te.writeMs.asScala.toSeq, 0.5),
        "write.jobs_per_script" -> (if (writes.isEmpty) 0.0 else w.jobs.sum / nWrites.toDouble),
        "write.tasks_per_script" -> (if (writes.isEmpty) 0.0 else w.tasks.sum / nWrites.toDouble),
        "write.task_deserialize_ms_per_script" ->
          (if (writes.isEmpty) 0.0 else w.deserializeMs.sum / nWrites.toDouble),
        "write.executor_cpu_ms_per_script" ->
          (if (writes.isEmpty) 0.0 else w.cpuNs.sum / 1e6 / nWrites),
        "store.files_per_table_max" -> filesMax.toDouble,
        "store.ingest_s" -> percentile(setups.map(_._2), 0.5),
        "spark.jobs" -> sum(_.jobs.sum) / ops,
        "spark.stages" -> sum(_.stages.sum) / ops,
        "spark.tasks" -> sum(_.tasks.sum) / ops,
        "executor.cpu_s" -> sum(_.cpuNs.sum) / 1e9 / ops,
        "executor.deserialize_s" -> sum(_.deserializeMs.sum) / 1e3 / ops,
        "shuffle.bytes_written" -> sum(_.shuffleWritten.sum) / ops,
        "shuffle.bytes_read" -> sum(_.shuffleRead.sum) / ops,
        "spill.bytes" -> sum(_.spilled.sum) / ops)
      Seq("parsing" -> "parse", "analysis" -> "analysis", "optimization" -> "optimization",
          "planning" -> "planning").foreach { case (ph, name) =>
        layer(s"catalyst.${name}_ms") =
          Option(te.phaseMs.get(ph)).map(_.toDouble).getOrElse(0.0) / nReads
      }
      layer ++= Main.commonLayer(before, after, heapPeak)
      val self = tracer.selfTimes(spans)
      Seq("http.request" -> "http", "engine.read" -> "read", "engine.drain" -> "drain",
          "engine.write" -> "write").foreach { case (sp, name) =>
        layer(s"self.${name}_ms") = self.get(sp).map(_._2 / 1e6).getOrElse(0.0) / ops
      }
      tracer.writeJsonl(out.resolve("spans.jsonl"))
    }
    // the store's bytes per user byte need the checker's count of the
    // user bytes; run.py divides
    Result(timed.size, failed, e2e, layer.toMap, detail ++ Map(
      "parquet_bytes_written" -> listener.of("write").outputBytes.sum.toDouble),
      (timed.filterNot(_.ok) ++ warmRecs.filterNot(_.ok)).take(5).map(r =>
        s"${r.op.seg}: ${r.status} ${Option(r.body).map(new String(_, UTF_8)).getOrElse("")}"))
  }
}
