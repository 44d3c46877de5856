package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** analytics_suite: every `SparkEntry` query over the seeded corpus, one
  * at a time, fully forced (every row collected to the driver). The suite
  * is answered exactly once whatever `--seconds` says: one pass already
  * takes longer than the measuring window. */
object Analytics {
  /** Queries whose own times are reported per layer: the ones the open
    * ROADMAP items name. */
  val Named = Seq("q30_minhash_lsh", "q32_jaccard_exact", "q44_rollup", "q59_trigger_audit",
    "q60_dedup_clusters", "q67_sqlite_export_distributed", "q70_attach", "q73_semdedup")

  private def dropCachedBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def run(spark: SparkSession, in: Path, out: Path, traced: Boolean,
      jvmStartMs: Long, sessionReadyMs: Long, listener: Probes.OpListener): Result = {
    val dir = in.resolve("corpus").toString
    val names = SparkEntry.queries.keys.toSeq.sorted
    val tracer = new Tracer(traced)
    val sc = spark.sparkContext
    val errors = mutable.ArrayBuffer[String]()

    // Warm-up: one parquet scan and aggregate, so the first query does not
    // also pay for starting the file system, the parquet reader and the code
    // generator. No warm-up pass over the suite: a pass costs as much as the
    // timed one. Each query is then answered once in this session, with
    // its own planning and code generation, as a user answering it once
    // would.
    spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()
    Files.writeString(out.resolve("oracle_sql.json"), Main.oracleSqlJson())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // The timed pass: every query answered exactly once, so the figures
    // mean the same thing however long the pass takes. The answers are
    // written out for the DuckDB check (untimed).
    val results = out.resolve("results")
    Files.createDirectories(results)
    System.gc()
    val before = Probes.snapshot()
    listener.reset()
    listener.counting = true
    Probes.resetPeaks()
    val phase = mutable.Map[String, Long]().withDefaultValue(0L)
    val times = mutable.LinkedHashMap[String, Double]()
    var failed = 0
    val windowStart = System.nanoTime()
    names.foreach { n =>
      val op = if (traced) tracer.nextId() else 0L
      val t0 = System.nanoTime()
      try {
        val (schema, rows) = Probes.tagged(sc, "query") {
          val df = tracer.span(op, 0L, "query.build")(SparkEntry.queries(n)(spark, dir))
          val r = tracer.span(op, 0L, "query.force")(df.collect())
          if (traced) Probes.phasesMs(df.queryExecution).foreach { case (k, v) => phase(k) += v }
          (df.schema, r)
        }
        times(n) = (System.nanoTime() - t0) / 1e9
        AnswerJson.write(results.resolve(n + ".json"), schema, rows)
      } catch {
        case NonFatal(e) => failed += 1; errors += s"$n: $e"
      }
      dropCachedBlocks(spark)
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val heapPeak = Probes.heapPeakMb()
    val threadsPeak = Probes.threadsPeak()
    val after = Probes.snapshot()
    Thread.sleep(300)
    listener.counting = false

    val samples = times.values.toSeq.map(_ * 1e3)
    val ok = math.max(1, samples.size).toDouble
    val perQuery = times
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> samples.size / math.max(1e-9, times.values.sum),
      // the geometric mean, not the median: the suite's query times have
      // gaps around their median, so it jumps between neighbours
      "op_geomean_ms" -> Serve.geomean(samples),
      // 73 queries a pass: p85 leaves at least ten samples above it
      "op_tail_ms" -> Serve.percentile(samples, 0.85),
      "cpu_ms_per_op" -> (after.cpuNs - before.cpuNs) / 1e6 / ok,
      "rss_beyond_heap_mb" -> Probes.rssBeyondHeapMb())
    val detail = Map(
      "window_s" -> windowS, "op_p50_ms" -> Serve.percentile(samples, 0.5),
      "suite_s" -> perQuery.values.sum, "query_p50_s" -> Serve.percentile(perQuery.values.toSeq, 0.5))

    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val all = Seq("query", "other").map(listener.of)
      def sum(f: Probes.ClassTotals => Long) = all.map(f(_)).sum.toDouble
      layer ++= Seq(
        "spark.jobs" -> sum(_.jobs.sum) / ok,
        "spark.stages" -> sum(_.stages.sum) / ok,
        "spark.tasks" -> sum(_.tasks.sum) / ok,
        "executor.cpu_s" -> sum(_.cpuNs.sum) / 1e9 / ok,
        "executor.deserialize_s" -> sum(_.deserializeMs.sum) / 1e3 / ok,
        "shuffle.bytes_written" -> sum(_.shuffleWritten.sum) / ok,
        "shuffle.bytes_read" -> sum(_.shuffleRead.sum) / ok,
        "spill.bytes" -> sum(_.spilled.sum) / ok,
        "http.threads_peak" -> threadsPeak.toDouble)
      Seq("parsing" -> "parse", "analysis" -> "analysis", "optimization" -> "optimization",
          "planning" -> "planning").foreach { case (ph, name) =>
        layer(s"catalyst.${name}_ms") = phase(ph) / ok
      }
      layer ++= Main.commonLayer(before, after, heapPeak)
      Named.foreach(n => layer(s"query.${n}_s") = perQuery.getOrElse(n, 0.0))
      val self = tracer.selfTimes(tracer.all)
      layer("self.query_build_ms") = self.get("query.build").map(_._2 / 1e6).getOrElse(0.0) / ok
      layer("self.query_force_ms") = self.get("query.force").map(_._2 / 1e6).getOrElse(0.0) / ok
      tracer.writeJsonl(out.resolve("spans.jsonl"))
    }
    Result(names.size, failed, e2e, layer.toMap, detail ++ perQuery.map {
      case (k, v) => s"query.$k" -> v }, errors.take(10).toSeq)
  }
}

/** A query's answer as JSON for the checker: each column's name and the
  * type DuckDB gives the Spark type, and every row, with the values that
  * JSON cannot tell apart tagged (`{"$d": decimal}`, `{"$ts": timestamp}`,
  * `{"$date": date}`, `{"$f": non-finite double}`, `{"$b": base64 bytes}`,
  * `{"$map": [[key, value], ...]}`). */
object AnswerJson {
  import org.apache.spark.sql.types._

  def duckType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case a: ArrayType => duckType(a.elementType) + "[]"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${duckType(f.dataType)}").mkString("STRUCT(", ", ", ")")
    case m: MapType => s"MAP(${duckType(m.keyType)}, ${duckType(m.valueType)})"
    case other => other.simpleString.toUpperCase
  }

  private def value(v: Any, t: DataType, sb: StringBuilder): Unit = (v, t) match {
    case (null, _) => sb.append("null")
    case (d: Double, _) =>
      if (d.isNaN || d.isInfinite) sb.append(s"""{"$$f": "$d"}""") else sb.append(d.toString)
    case (f: Float, _) => value(f.toDouble, DoubleType, sb)
    case (b: java.math.BigDecimal, _) => sb.append(s"""{"$$d": "${b.toPlainString}"}""")
    case (b: scala.math.BigDecimal, _) => sb.append(s"""{"$$d": "${b.bigDecimal.toPlainString}"}""")
    case (ts: java.sql.Timestamp, _) =>
      sb.append(s"""{"$$ts": "${ts.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime}"}""")
    case (ts: java.time.Instant, _) =>
      sb.append(s"""{"$$ts": "${ts.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime}"}""")
    case (ts: java.time.LocalDateTime, _) => sb.append(s"""{"$$ts": "$ts"}""")
    case (d: java.sql.Date, _) => sb.append(s"""{"$$date": "${d.toLocalDate}"}""")
    case (d: java.time.LocalDate, _) => sb.append(s"""{"$$date": "$d"}""")
    case (s: String, _) => sb.append(Serve.jsonStr(s))
    case (b: Array[Byte], _) =>
      sb.append(s"""{"$$b": "${java.util.Base64.getEncoder.encodeToString(b)}"}""")
    case (r: Row, st: StructType) =>
      sb.append('{')
      st.fields.zipWithIndex.foreach { case (f, i) =>
        if (i > 0) sb.append(", ")
        sb.append(Serve.jsonStr(f.name)).append(": ")
        value(r.get(i), f.dataType, sb)
      }
      sb.append('}')
    case (s: scala.collection.Seq[_], a: ArrayType) =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(", ")
        value(x, a.elementType, sb)
      }
      sb.append(']')
    case (m: scala.collection.Map[_, _], mt: MapType) =>
      sb.append("""{"$map": [""")
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(", ")
        sb.append('[')
        value(k, mt.keyType, sb)
        sb.append(", ")
        value(x, mt.valueType, sb)
        sb.append(']')
      }
      sb.append("]}")
    case (x, _) => sb.append(x.toString)
  }

  def write(path: Path, schema: StructType, rows: Array[Row]): Unit = {
    val sb = new StringBuilder("{\"columns\": [")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) sb.append(", ")
      sb.append(s"[${Serve.jsonStr(f.name)}, ${Serve.jsonStr(duckType(f.dataType))}]")
    }
    sb.append("],\n\"rows\": [")
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append('[')
      schema.fields.zipWithIndex.foreach { case (f, j) =>
        if (j > 0) sb.append(", ")
        value(r.get(j), f.dataType, sb)
      }
      sb.append(']')
    }
    sb.append("]}\n")
    Files.writeString(path, sb.toString)
  }
}
