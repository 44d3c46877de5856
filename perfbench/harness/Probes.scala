package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** Counters read from outside the program: one SparkListener for the
  * scheduler and executor, Spark's static codegen and file-listing
  * metric sources, and the JVM's management beans. */
object Probes {

  /** Local property that tags the jobs a calling thread submits with the
    * class of operation it is running (read, write, query). Spark copies
    * local properties into threads the caller starts, and reports them on
    * every job start. */
  val ClassProperty = "perfbench.op.class"

  final class ClassTotals {
    val jobs, stages, tasks = new LongAdder
    val cpuNs, deserializeMs, shuffleWritten, shuffleRead, spilled, outputBytes = new LongAdder
  }

  /** Jobs, stages and task metrics, summed per operation class. */
  final class OpListener extends SparkListener {
    private val totals = new ConcurrentHashMap[String, ClassTotals]()
    private val stageClass = new ConcurrentHashMap[Int, String]()
    @volatile var counting = false

    def of(cls: String): ClassTotals = totals.computeIfAbsent(cls, _ => new ClassTotals)
    def reset(): Unit = totals.clear()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val cls = Option(e.properties).flatMap(p => Option(p.getProperty(ClassProperty)))
        .getOrElse("other")
      e.stageIds.foreach(stageClass.put(_, cls))
      if (counting) of(cls).jobs.increment()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (counting) of(stageClass.getOrDefault(e.stageInfo.stageId, "other")).stages.increment()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
      val t = of(stageClass.getOrDefault(e.stageId, "other"))
      t.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs.add(m.executorCpuTime)
        t.deserializeMs.add(m.executorDeserializeTime)
        t.shuffleWritten.add(m.shuffleWriteMetrics.bytesWritten)
        t.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        t.spilled.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.outputBytes.add(m.outputMetrics.bytesWritten)
      }
    }
  }

  def install(sc: SparkContext): OpListener = {
    val l = new OpListener
    sc.addSparkListener(l)
    l
  }

  /** Runs `f` with the calling thread's jobs tagged as class `cls`. */
  def tagged[A](sc: SparkContext, cls: String)(f: => A): A = {
    val prev = sc.getLocalProperty(ClassProperty)
    sc.setLocalProperty(ClassProperty, cls)
    try f finally sc.setLocalProperty(ClassProperty, prev)
  }

  /** Cumulative JVM and Spark counters at one instant. */
  final case class Snapshot(
      gcMs: Long, cpuNs: Long, codegenCompiles: Long,
      filesDiscovered: Long, listingJobs: Long)

  def snapshot(): Snapshot = Snapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    },
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)

  /** Mean codegen compile time (ms) over the histogram's reservoir. */
  def codegenCompileMsMean(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** Starts the peak-heap and peak-thread windows. */
  def resetPeaks(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    ManagementFactory.getThreadMXBean.resetPeakThreadCount()
  }

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6

  def threadsPeak(): Int = ManagementFactory.getThreadMXBean.getPeakThreadCount

  /** Peak resident set of this process (`VmHWM`) beyond the Java heap,
    * in MB. The heap is fixed and pre-touched (see run.py), so all of it
    * is resident from the start; what is left is the memory the process
    * holds outside it: thread stacks, metaspace, code cache, direct and
    * native buffers. */
  def rssBeyondHeapMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0)
    finally src.close()
    val heapKb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1024.0
    (hwmKb - heapKb) / 1024.0
  }

  /** Catalyst phase durations (ms) recorded on a query's tracker. */
  def phasesMs(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
}
