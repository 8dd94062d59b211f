package graft.obs

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** What a label's work ran in Spark. A job counts toward it with its
  * stages and tasks; a write job is one whose tasks wrote output rows. */
final class Counters {
  var jobs, stages, tasks, emptyTasks, writeJobs = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var streamsStarted, triggers = 0L
  private[obs] val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The wall time at least one of the jobs was running, in ms. */
  def jobBusyMs: Long = Profiler.unionLength(intervals.toSeq)

  /** Every counter, under its name in the bench file. */
  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
    "write_jobs" -> writeJobs, "job_busy_ms" -> jobBusyMs, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1000000, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "streams_started" -> streamsStarted, "triggers" -> triggers)
}

/** One listener over a session's Spark jobs and streaming queries that
  * splits work by label. A job, its stages and its tasks count toward
  * the label current when the job starts, whatever thread runs it, so a
  * stream's micro-batch jobs count toward the label of the work that
  * runs the stream; a job of a micro-batch also counts toward its
  * (query id, batch id). A streaming query counts as started toward the
  * label current at its `start()`, and each of its triggers that carried
  * rows toward that same label. The bus delivers events asynchronously
  * and the label is read on delivery, so [[measure]] drains the bus
  * before and after its body: every job the body starts counts toward
  * its label, and no other job does. */
final class Profiler private (spark: SparkSession) extends SparkListener with AutoCloseable {
  /** The label new work counts toward; null counts it toward none. */
  @volatile private var label: String = null
  private val byLabel = mutable.Map.empty[String, Counters]
  private val byBatch = mutable.Map.empty[(String, Long), Counters]
  private final class Job(val start: Long, val stageIds: Seq[Int], val counts: Seq[Counters]) {
    var wrote = false
  }
  private val jobs, stages = mutable.Map.empty[Int, Job]
  private val streams = mutable.Map.empty[UUID, Counters] // by run id

  private def current: Option[Counters] =
    Option(label).map(byLabel.getOrElseUpdate(_, new Counters))

  /** `body`'s result and what it ran, `body` running with `l` current. */
  def measure[A](l: String)(body: => A): (A, Counters) = {
    drain()
    label = l
    val a = try body finally { drain(); label = null }
    (a, synchronized(byLabel.remove(l)).getOrElse(new Counters))
  }

  /** What micro-batch `batchId` of the query `query` ran. */
  def batch(query: UUID, batchId: Long): Counters =
    synchronized(byBatch.getOrElse((query.toString, batchId), new Counters))

  /** Waits until every event posted so far is counted. */
  def drain(): Unit = GraftBus.drain(spark.sparkContext)

  /** Drains the bus and stops listening; the counts stay readable. */
  override def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = for {
      p <- Option(e.properties)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } yield byBatch.getOrElseUpdate((q, b.toLong), new Counters)
    val job = new Job(e.time, e.stageIds, current.toSeq ++ batch)
    job.counts.foreach(_.jobs += 1)
    jobs(e.jobId) = job
    e.stageIds.foreach(stages(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { job =>
      job.counts.foreach { c =>
        c.intervals += ((job.start, e.time))
        if (job.wrote) c.writeJobs += 1
      }
      // a later job that shares a stage owns it now
      job.stageIds.filter(stages.get(_).contains(job)).foreach(stages.remove)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.counts.foreach(_.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { job =>
      val m = e.taskMetrics
      job.counts.foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            c.emptyTasks += 1
        }
      }
      if (m != null && m.outputMetrics.recordsWritten > 0) job.wrote = true
    }
  }

  // Spark posts a query's start on the thread that calls `start()`, so
  // the label read here is the caller's
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = Profiler.this.synchronized {
      current.foreach { c => c.streamsStarted += 1; streams(e.runId) = c }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Profiler.this.synchronized {
      if (e.progress.numInputRows > 0) streams.get(e.progress.runId).foreach(_.triggers += 1)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Profiler.this.synchronized {
      streams.remove(e.runId); ()
    }
  }
}

object Profiler {
  /** A profiler listening to `spark` until it is closed. */
  def install(spark: SparkSession): Profiler = {
    val p = new Profiler(spark)
    spark.sparkContext.addSparkListener(p)
    spark.streams.addListener(p.streamListener)
    p
  }

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
}
