package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One span per call into a layer. Spans of one operation share `op`;
  * `parent` is the id of the span that caused this one (0 for a root).
  * `workNs` is the part of the interval the layer itself was busy, when
  * that differs from the interval (a drained iterator interleaves with
  * the socket writes of its caller); -1 means the whole interval. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, workNs: Long = -1L) {
  def durNs: Long = endNs - startNs
  def busyNs: Long = if (workNs >= 0) workNs else durNs
}

/** In-memory span buffer, written out once when the run ends. Disabled
  * (every call a plain pass-through) in untraced runs. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def span[A](op: Long, parent: Long, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(nextId(), op, parent, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer over `ss`: a span's busy time minus the busy
    * time of its children. Returns (layer -> (spans, total self ns)). */
  def selfTimes(ss: Seq[Span]): Map[String, (Int, Long)] = {
    val childBusy = ss.groupBy(_.parent).view.mapValues(_.map(_.busyNs).sum).toMap
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> ((xs.size, xs.map(s => s.busyNs - childBusy.getOrElse(s.id, 0L)).sum))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"work_ns":${s.busyNs}}""")
      w.newLine()
    } finally w.close()
  }
}
