package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics over a sample (nearest-rank on the sorted values). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** CPU time this JVM has used, in seconds. */
  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

}

/** The peak heap in use right after a garbage collection, over the whole
  * run, from the collectors' notifications. */
object HeapWatch {
  @volatile private var peak = 0L

  def peakMb: Double = peak / 1048576.0

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }, null, null)
      case _ => ()
    }
  }
}

/** Records every progress report of the streaming queries the benchmark
  * starts (filtered by query id when read). Used in untraced runs too:
  * the drain's latency is read off the trigger end offsets. */
final class ProgressLog(endOffsets: () => Seq[Long]) extends StreamingQueryListener {
  /** (progress, broker log-end offsets sampled when the report arrived) */
  val reports = new ConcurrentLinkedQueue[(StreamingQueryProgress, Seq[Long])]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add((e.progress, endOffsets()))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Data-carrying triggers of one query, in batch order. */
  def triggers(id: java.util.UUID): Seq[Trigger] =
    reports.asScala.toSeq.filter(_._1.id == id).map { case (p, ends) =>
      val src = p.sources.headOption
      val end = src.map(x => Offsets.parse(x.endOffset)).getOrElse(Nil)
      // the first trigger of a query reports no start offset
      val start = src.map(x => Offsets.parse(x.startOffset)).filter(_.nonEmpty)
        .getOrElse(end.map(_ => 0L))
      Trigger(p.batchId, start, end,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ends)
    }.filter(t => t.rows > 0).sortBy(_.batchId)
}

final case class Trigger(batchId: Long, start: Seq[Long], end: Seq[Long],
                         startMs: Long, durationMs: Map[String, Long], rows: Long,
                         brokerEnds: Seq[Long]) {
  def ms(k: String): Long = durationMs.getOrElse(k, 0L)
  def endMs: Long = startMs + ms("triggerExecution")
}

object Offsets {
  /** The `graft-queue` source's offsets, a JSON array of per-partition
    * ends; other sources' offsets read as empty. */
  def parse(json: String): Seq[Long] =
    if (json == null || !json.trim.startsWith("[")) Nil
    else scala.util.Try(json.trim.stripPrefix("[").stripSuffix("]").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)).getOrElse(Nil)
}

/** Per-label Spark job/stage/task counters. Jobs are labelled with the
  * label current when they start (the benchmark runs one thing at a
  * time); streaming micro-batch jobs also count towards their batch. */
final class JobLog extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var emptyTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  @volatile var label: String = "setup"
  private val aggs = mutable.LinkedHashMap[String, Agg]()
  private val jobLabel = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageLabel = mutable.Map[Int, String]()
  var streamingJobs = 0L

  private def agg(l: String): Agg = aggs.getOrElseUpdate(l, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = label
    jobLabel(e.jobId) = l
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageLabel(_) = l)
    agg(l).jobs += 1
    if (Option(e.properties).exists(_.getProperty("streaming.sql.batchId") != null))
      streamingJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLabel.remove(e.jobId).foreach { l =>
      agg(l).intervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageLabel.getOrElse(e.stageInfo.stageId, label)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageLabel.getOrElse(e.stageId, label))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        a.emptyTasks += 1
    }
  }

  def get(l: String): Option[Agg] = synchronized(aggs.get(l))

  def labels: Seq[String] = synchronized(aggs.keys.toSeq)

  /** Engine-wide totals over the given labels, as `spark.*` metrics. */
  def sparkMetrics(ls: Seq[String], heapPeakMb: Double): Map[String, Double] = synchronized {
    val as = ls.flatMap(aggs.get)
    def sum(f: Agg => Long) = as.map(f).sum.toDouble
    val tasks = sum(_.tasks)
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> tasks,
      "spark.empty_task_share" -> (if (tasks > 0) sum(_.emptyTasks) / tasks else 0.0),
      "spark.executor_run_s" -> sum(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1048576.0,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1048576.0,
      "spark.spill_mb" -> sum(_.spill) / 1048576.0,
      "spark.heap_after_gc_peak_mb" -> heapPeakMb)
  }

  def describe(l: String): Map[String, Any] = get(l).map { a =>
    Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "empty_tasks" -> a.emptyTasks, "executor_run_ms" -> a.runMs,
      "executor_cpu_ms" -> a.cpuNs / 1000000, "gc_ms" -> a.gcMs,
      "shuffle_read_bytes" -> a.shuffleRead, "shuffle_write_bytes" -> a.shuffleWrite,
      "spill_bytes" -> a.spill, "job_busy_ms" -> Stats.unionLength(a.intervals.toSeq))
  }.getOrElse(Map.empty)
}

/** Spans (name, start, end, parent) around the benchmark's calls into
  * each layer, kept in memory and written to the run's artifact. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

final class Spans {
  private val all = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def apply[A](name: String)(body: => A): A = {
    val s = Span(all.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    all += s
    stack = s.id :: stack
    try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  def seconds(name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Every span, with times in ms from the first span's start. */
  def list: Seq[Map[String, Any]] = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    all.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
  }

  /** Per span name: total and self seconds (self = total minus the time
    * its direct children cover). */
  def summary: Map[String, Map[String, Double]] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size.toDouble,
        "total_s" -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum,
        "self_s" -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum)
    }
  }
}

object Bus {
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
