package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque, ConcurrentLinkedQueue}

import org.apache.spark.sql.DataFrame

import graft.engine.{SchemaRegistry, SegmentStore, TroughEngine}

/** Operations in flight on the client side, keyed by segment and SQL
  * text, so the engine-side spans of a request find the op id and HTTP
  * span that caused them. */
final class Inflight {
  private val m = new ConcurrentHashMap[String, ConcurrentLinkedDeque[(Long, Long)]]()
  private def key(seg: String, sql: String) = seg + "\u0000" + sql
  def begin(seg: String, sql: String, op: Long, span: Long): Unit =
    m.computeIfAbsent(key(seg, sql), _ => new ConcurrentLinkedDeque).add((op, span))
  def end(seg: String, sql: String, op: Long, span: Long): Unit = {
    val d = m.get(key(seg, sql))
    if (d != null) d.remove((op, span))
  }
  def lookup(seg: String, sql: String): (Long, Long) = {
    val d = m.get(key(seg, sql))
    val h = if (d == null) null else d.peekFirst()
    if (h == null) (0L, 0L) else h
  }
}

/** A [[TroughEngine]] whose `read`, `write` and `resultJsonIter` time
  * their `super` calls, record spans under the HTTP request that caused
  * them, and tag the Spark jobs they start with the operation class. Used
  * only by traced runs; untraced runs serve a plain engine. */
final class TracedEngine(spark: org.apache.spark.sql.SparkSession, store: SegmentStore,
    schemas: SchemaRegistry, tracer: Tracer, inflight: Inflight)
    extends TroughEngine(spark, store, schemas) {

  @volatile var measuring = false
  val readMs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val drainMs = new ConcurrentLinkedQueue[Double]()
  val writeMs = new ConcurrentLinkedQueue[Double]()
  @volatile var scanBytes = 0L
  @volatile var scanNs = 0L
  val phaseMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val seenPlans = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.execution.QueryExecution, java.lang.Boolean]()))

  private def sample(q: ConcurrentLinkedQueue[Double], ns: Long): Unit =
    if (measuring) q.add(ns / 1e6)

  // Each read is classified from what `super.read` returns: the same
  // DataFrame instance as the last read of this text on this segment is a
  // plan-cache hit; a DataFrame on another SparkSession than the last one
  // seen for the segment means the engine built a new read context (after
  // a change or an eviction); anything else is a plan-cache miss.
  private val lastPlan = new ConcurrentHashMap[String, java.lang.ref.WeakReference[DataFrame]]()
  private val lastSession =
    new ConcurrentHashMap[String, java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession]]()
  private def classify(seg: String, sql: String, df: DataFrame): String = {
    val prevSess = lastSession.put(seg, new java.lang.ref.WeakReference(df.sparkSession))
    val prevPlan = lastPlan.put(seg + "\u0000" + sql, new java.lang.ref.WeakReference(df))
    if (prevSess == null || (prevSess.get ne df.sparkSession)) "after_change"
    else if (prevPlan != null && (prevPlan.get eq df)) "plan_hit"
    else "plan_miss"
  }

  private final case class Pending(op: Long, parent: Long)
  private val pending = new ThreadLocal[Pending]

  override def read(segmentId: String, sql: String): DataFrame = {
    val (op, parent) = inflight.lookup(segmentId, sql)
    spark.sparkContext.setLocalProperty(Probes.ClassProperty, "read")
    pending.set(Pending(op, parent))
    val t0 = System.nanoTime()
    val df = super.read(segmentId, sql)
    val t1 = System.nanoTime()
    tracer.record(Span(tracer.nextId(), op, parent, "engine.read", t0, t1))
    val cls = classify(segmentId, sql, df)
    sample(readMs.computeIfAbsent(cls, _ => new ConcurrentLinkedQueue[Double]), t1 - t0)
    df
  }

  override def resultJsonIter(df: DataFrame): Iterator[String] = {
    val p = Option(pending.get()).getOrElse(Pending(0L, 0L))
    pending.remove()
    val t0 = System.nanoTime()
    val it = super.resultJsonIter(df)
    val sc = spark.sparkContext
    new Iterator[String] {
      private var work = System.nanoTime() - t0
      private var bytes = 0L
      private var done = false
      private def finish(): Unit = if (!done) {
        done = true
        val end = System.nanoTime()
        tracer.record(Span(tracer.nextId(), p.op, p.parent, "engine.drain", t0, end, work))
        sample(drainMs, work)
        if (measuring && bytes > (1 << 16))
          TracedEngine.this.synchronized { scanBytes += bytes; scanNs += work }
        if (measuring && seenPlans.add(df.queryExecution))
          Probes.phasesMs(df.queryExecution).foreach { case (k, v) =>
            phaseMs.merge(k, v, (a, b) => a + b)
          }
        sc.setLocalProperty(Probes.ClassProperty, null)
      }
      def hasNext: Boolean = {
        val a = System.nanoTime()
        val r = it.hasNext
        work += System.nanoTime() - a
        if (!r) finish()
        r
      }
      def next(): String = {
        val a = System.nanoTime()
        val s = it.next()
        work += System.nanoTime() - a
        bytes += s.length
        s
      }
    }
  }

  override def write(segmentId: String, script: String): String = {
    val (op, parent) = inflight.lookup(segmentId, script)
    val t0 = System.nanoTime()
    val out = Probes.tagged(spark.sparkContext, "write")(super.write(segmentId, script))
    val t1 = System.nanoTime()
    tracer.record(Span(tracer.nextId(), op, parent, "engine.write", t0, t1))
    sample(writeMs, t1 - t0)
    out
  }
}
