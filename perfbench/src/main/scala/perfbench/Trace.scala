package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed region around a call into a layer of the program. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: spans nest by call order, are kept until the
  * run ends and are written out once. With `enabled = false` it only
  * times the call, so untraced runs pay nothing beyond two clock reads. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  /** Runs `f` inside a span; tasks it starts are attributed to `tag`. */
  def span[A](name: String, tag: String = "")(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) { val a = f; return (a, (System.nanoTime() - t0) / 1e9) }
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), t0, 0L)
    spans += s
    stack.push(s.id)
    val prevTag = sc.getLocalProperty(Counters.TagKey)
    if (tag.nonEmpty) sc.setLocalProperty(Counters.TagKey, tag)
    try { val a = f; s.endNs = System.nanoTime(); (a, s.seconds) }
    finally {
      stack.pop()
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      if (tag.nonEmpty) sc.setLocalProperty(Counters.TagKey, prevTag)
    }
  }

  def dump: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Task-level totals of the jobs run under one tag. */
final class TaskTotals {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val resultTaskMs = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener that sums task metrics per tag. The tag is the local
  * property the calling thread carries while it runs a traced call. */
final class Counters extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, TaskTotals]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Counters.TagKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag(_) = tag)
    totals.getOrElseUpdate(tag, new TaskTotals).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageTag.getOrElse(e.stageId, ""), new TaskTotals)
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (e.taskType == "ResultTask") t.resultTaskMs += e.taskInfo.duration
  }

  /** Totals of `tag`, after every event posted so far has been handled. */
  def take(sc: SparkContext, tag: String): TaskTotals = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized(totals.remove(tag).getOrElse(new TaskTotals))
  }
}

object Counters {
  val TagKey = "perfbench.tag"
}

/** Scan statistics from an executed plan's file-scan metrics. */
final case class ScanStats(files: Long, bytes: Long, rows: Long)

object PlanStats extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): ScanStats = {
    val s = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    def m(name: String) = s.flatMap(_.metrics.get(name)).map(_.value).sum
    ScanStats(m("numFiles"), m("filesSize"), m("numOutputRows"))
  }
}

/** A point in time: wall clock, this process's CPU time, and the machine's
  * busy and stolen jiffies (stolen = given by the hypervisor to other
  * guests while a CPU of this machine wanted to run). */
final case class Sample(ns: Long, cpuNs: Long, busy: Long, steal: Long) {
  def since(from: Sample): Map[String, Any] = Map(
    "s" -> (ns - from.ns) / 1e9, "cpu_s" -> (cpuNs - from.cpuNs) / 1e9,
    "busy_ticks" -> (busy - from.busy), "steal_ticks" -> (steal - from.steal))
}

object Usage {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Sample = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Sample(System.nanoTime(), os.getProcessCpuTime, v(0) + v(1) + v(2) + v(5) + v(6), v(7))
  }
}

/** Highest heap in use right after a full collection, sampled at operation
  * boundaries. The heap after an ordinary young collection still holds
  * whatever garbage was promoted since the last old-generation cycle, so it
  * swings with GC timing; after a full collection it is the live set. */
object HeapWatch {
  @volatile var peakBytes = 0L

  /** Collects, then records the heap in use; call outside timed intervals. */
  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
}
