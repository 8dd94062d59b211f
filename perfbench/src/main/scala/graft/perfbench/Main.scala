package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.QueueBroker

/** One benchmark run of one workload. `perfbench/run.py` generates the
  * inputs, starts this program, and checks what it reports; the program
  * writes everything it measured to the `--out` JSON file.
  *
  * {{{
  * Main --workload <name> --seed <n> --trace <0|1> --t0-ms <epoch ms of run start>
  *      --work <dir> --out <file>
  *      [--jobs <file> --warm-jobs <file> --max-per-trigger <n>]
  *      [--data <dir> --names <q1,q2,..> --warm <q,..> --reference <file> --emit <dir>]
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val t0Ms = args("t0-ms").toLong
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val mainS = (System.currentTimeMillis() - t0Ms) / 1e3
    HeapWatch.install()

    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    // stop Spark on failure too: its non-daemon threads would keep the JVM up
    try {
      val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
      val jobLog = if (traced) Some(new JobLog) else None
      jobLog.foreach(spark.sparkContext.addSparkListener)
      val spans = new Spans

      val run = new Run(spark, args, cores, t0Ms, work, jobLog, spans)
      val result = workload match {
        case "ingest_drain" => run.drain()
        case "queries_analytics" => run.queries()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }

      val layers: Map[String, Double] =
        if (!traced) Map.empty
        else {
          // the kernel and read-plan probes belong to the query side; the
          // traced drain, the longest run, leaves them out
          jobLog.foreach(_.label = "probes")
          val probes = if (workload != "queries_analytics") Map.empty[String, Double] else {
            val (cold, warm) = new Queries(spark, args("data"), None, spans).tablesPlanMs()
            Kernels.run(spark, seed, spans) ++
              Map("sources.tables_plan_ms_cold" -> cold, "sources.tables_plan_ms_warm" -> warm)
          }
          Bus.drain(spark)
          val log = jobLog.get
          result.layers ++ probes ++ log.sparkMetrics(result.timedLabels, HeapWatch.peakMb)
        }

      val conf = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted.toMap
      val out = Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
        "spark_version" -> spark.version,
        "setup_s" -> result.setupS,
        "setup_phases_s" -> Map("jvm_main" -> mainS, "session_built" -> sessionS),
        "metrics" -> result.metrics,
        "layers" -> layers,
        "checks" -> result.checks,
        "artifact" -> (result.artifact ++ Map(
          "spark_sql_conf" -> conf,
          "spans" -> spans.summary,
          "span_list" -> spans.list,
          "labels" -> jobLog.map(l => l.labels.map(x => x -> l.describe(x)).toMap)
            .getOrElse(Map.empty))))
      Files.write(Paths.get(args("out")), Json.write(out))
    } finally spark.stop()
  }
}

/** What a workload reports back to [[Main]]. */
final case class Outcome(setupS: Double, metrics: Map[String, Double],
                         layers: Map[String, Double], checks: Map[String, Any],
                         artifact: Map[String, Any], timedLabels: Seq[String])

final class Run(spark: SparkSession, args: Map[String, String], cores: Int, t0Ms: Long,
                work: String, jobLog: Option[JobLog], spans: Spans) {

  private def label(l: String): Unit = {
    jobLog.foreach(_.label = l)
    System.err.println(f"[perfbench] +${sinceStart}%.1fs $l")
  }
  private def sinceStart: Double = (System.currentTimeMillis() - t0Ms) / 1e3
  private def lines(key: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(args(key))).asScala.toIndexedSeq

  /** What landed and the table schemas, for the check; traced, also the
    * timed read-back and the trigger and table-layout layer metrics. */
  private def ingestCommon(ing: Ingest, name: String, triggers: Seq[Trigger])
      : (Map[String, Any], Map[String, Double], Map[String, Any]) = {
    val cfg = ing.config(name)
    val types = ing.tableTypes(cfg)
    val readBack = jobLog.map { _ =>
      label("readback")
      val r0 = System.nanoTime()
      val rb = spans("ingest.readback")(ing.readBack(cfg, types))
      (rb, (System.nanoTime() - r0) / 1e9)
    }
    label("verify")
    val schemas = readBack.map(_._1.map { case (t, m) => t -> m("schema") })
      .getOrElse(ing.schemas(cfg, types))
    val landed = ing.landed(cfg)
    val layers = jobLog.map { log =>
      Bus.drain(spark)
      val (filesPerTable, bytes) = ing.layout(cfg, types)
      val rows = ing.rows(landed)
      Ingest.triggerMetrics(triggers, log.streamingJobs) ++ Map(
        "streaming.files_per_table" -> filesPerTable,
        "streaming.stored_bytes_per_event" -> (if (rows > 0) bytes.toDouble / rows else 0.0),
        "ingest.readback_s" -> readBack.get._2)
    }.getOrElse(Map.empty)
    (Map("readback" -> readBack.map(_._1).getOrElse(Map.empty), "schemas" -> schemas,
      "landed" -> landed), layers, Map("triggers" -> ing.triggerRows(triggers)))
  }

  /** ingest_drain: closed loop over a pre-published backlog. */
  def drain(): Outcome = {
    val ing = new Ingest(spark, cores, work)
    val maxPerTrigger = args("max-per-trigger").toLong
    ing.warmUp(lines("warm-jobs"), maxPerTrigger)
    val jobs = lines("jobs")
    val broker = new QueueBroker(ing.partitions)
    try {
      val progress = new ProgressLog(() => broker.endOffsets)
      spark.streams.addListener(progress)
      ing.publishAll(broker, jobs)
      val setupS = sinceStart

      label("drain")
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val cpu0 = Stats.processCpuS
      val query = ing.startDrain(broker, ing.config("drain"), maxPerTrigger)
      spans("streaming.drain")(query.awaitTermination())
      val drainS = (System.nanoTime() - n0) / 1e9
      val cpuS = Stats.processCpuS - cpu0
      Bus.drain(spark)
      val triggers = progress.triggers(query.id)
      val (checks, layers0, art) = ingestCommon(ing, "drain", triggers)
      val landedAt = ing.landingTimes(triggers, jobs.size)
      val latency = landedAt.filter(_ >= 0).map(t => (t - startMs) / 1e3).toSeq
      val valid = ing.rows(checks("landed"))
      val layers = jobLog.map { _ =>
        label("replay")
        layers0 ++ spans("ingest.replay")(ing.replay(jobs, triggers, spans))
      }.getOrElse(Map.empty)
      spark.streams.removeListener(progress)
      Outcome(setupS,
        Map("throughput_per_s" -> valid / drainS,
          "latency_s_p50" -> Stats.median(latency),
          "latency_s_p90" -> Stats.quantile(latency, 0.9)),
        layers,
        checks ++ Map("consumed" -> latency.size, "drain_s" -> drainS, "process_cpu_s" -> cpuS,
          "ingest_events_per_s" -> valid / drainS),
        art, Seq("drain"))
    } finally broker.close()
  }

  /** queries_analytics: one client, fixed order. */
  def queries(): Outcome = {
    val names = args("names").split(",").toSeq.filter(_.nonEmpty)
    val warm = args.getOrElse("warm", "").split(",").toSeq.filter(_.nonEmpty)
    val reference = args.get("reference").map(Digest.load).getOrElse(Map.empty)
    val progress = new ProgressLog(() => Nil)
    spark.streams.addListener(progress)
    val qs = new Queries(spark, args("data"), jobLog, spans)
    label("warmup")
    qs.runAll(warm, None)
    val setupS = sinceStart

    args.get("emit").foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, "oracle_sql.json"),
        Json.write(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    }
    val cpu0 = Stats.processCpuS
    val runs = qs.runAll(names, args.get("emit"))
    val cpuS = Stats.processCpuS - cpu0
    Bus.drain(spark)
    val failures = runs.flatMap { r =>
      r.error.map(e => r.name -> e).orElse(reference.get(r.name) match {
        case None if args.contains("emit") => None
        case None => Some(r.name -> "no reference digest")
        case Some((rows, digest)) if rows != r.rows || digest != r.digest =>
          Some(r.name -> s"result differs from reference: rows ${r.rows} vs $rows, digest ${r.digest} vs $digest")
        case _ => None
      })
    }
    val walls = runs.map(_.wallS)
    val suiteS = walls.sum
    val streamTriggers = progress.reports.asScala.map(_._1.id).toSeq.distinct
      .flatMap(progress.triggers)
    spark.streams.removeListener(progress)
    val layers = jobLog.map { log =>
      val inSuite = runs.flatMap(_.layers.get("driver_s").map(_.asInstanceOf[Double]))
      Map("entry.build_s" -> runs.map(_.buildS).sum, "entry.plan_s" -> runs.map(_.planS).sum,
        "entry.driver_s" -> inSuite.sum) ++
        Ingest.triggerMetrics(streamTriggers, log.streamingJobs)
    }.getOrElse(Map.empty)
    Outcome(setupS,
      Map("throughput_per_s" -> runs.size / suiteS,
        "latency_s_p50" -> Stats.median(walls),
        "latency_s_p90" -> Stats.quantile(walls, 0.9)),
      layers,
      Map("attempted" -> runs.size, "failed" -> failures.size,
        "failures" -> failures.toMap, "suite_s" -> suiteS, "process_cpu_s" -> cpuS,
        "digests" -> runs.map(r => r.name -> Map("rows" -> r.rows, "digest" -> r.digest)).toMap),
      Map("order" -> names, "warmup" -> warm,
        "queries" -> runs.map(r => Map("name" -> r.name, "wall_s" -> r.wallS,
          "build_s" -> r.buildS, "plan_s" -> r.planS, "rows" -> r.rows,
          "error" -> r.error, "layers" -> r.layers))),
      names)
  }
}
