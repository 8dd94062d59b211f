package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{EventFlattener, SchemaEvolution}
import graft.sources.QueueBroker
import graft.streaming.EventPipeline

/** The queue-to-table workloads: jobs go onto an in-process
  * [[QueueBroker]], `EventPipeline.startEvolving` consumes them through
  * the `graft-queue` source and evolves one parquet table per
  * event_type. */
final class Ingest(spark: SparkSession, cores: Int, work: String) {

  /** The job envelope; `props` is the free-form body (kept as JSON text). */
  val envelope: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Decodes a job body the way the library's own queue consumers do
    * (`SparkEntry`'s a17 and a18): a plain `from_json` over the
    * envelope. */
  def decode(value: Column): Column = from_json(value, envelope)

  /** Broker partitions: one per core, so the source reads `cores` ways. */
  val partitions: Int = cores

  def config(name: String): EventPipeline.Config = EventPipeline.Config(
    inputDir = "", outputDir = s"$work/$name/tables",
    checkpointDir = s"$work/$name/checkpoint", dlqDir = Some(s"$work/$name/dlq"))

  private def source(broker: QueueBroker, maxPerTrigger: Long): EventPipeline.EventSource =
    EventPipeline.FrameEventSource(spark.readStream.format("graft-queue")
      .option("host", broker.host).option("port", broker.port.toString)
      .option("maxRecordsPerTrigger", maxPerTrigger.toString).load()
      .select(decode(col("value")).as("e")).select("e.*"))

  /** Job i goes to partition i % partitions, so its offset is i / partitions. */
  def publishAll(broker: QueueBroker, jobs: IndexedSeq[String]): Unit =
    jobs.indices.foreach(i => broker.publish(i % partitions, jobs(i)))

  def jobIndex(partition: Int, offset: Long): Int = (offset * partitions + partition).toInt

  /** Closed loop: drain everything on the broker with AvailableNow. */
  def startDrain(broker: QueueBroker, cfg: EventPipeline.Config, maxPerTrigger: Long): StreamingQuery =
    EventPipeline.startEvolving(spark, source(broker, maxPerTrigger), cfg, "props",
      availableNow = true)

  /** A throwaway drain through the whole pipeline (JIT, codegen, first
    * parquet writes), so the timed work starts warm. */
  def warmUp(jobs: IndexedSeq[String], maxPerTrigger: Long): Unit = if (jobs.nonEmpty) {
    val broker = new QueueBroker(partitions)
    try {
      publishAll(broker, jobs)
      startDrain(broker, config("warmup"), maxPerTrigger).awaitTermination()
    } finally broker.close()
  }

  def tableTypes(cfg: EventPipeline.Config): Seq[String] = {
    val root = Paths.get(cfg.outputDir)
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("event_type=")).map(_.stripPrefix("event_type=")).toSeq.sorted
  }

  /** The fixed read-back over every per-type table, one query per table
    * through `readEvolvingTable`: per hour of received_at, the row count,
    * distinct message_ids and the sum of a nested column. */
  def readBack(cfg: EventPipeline.Config, types: Seq[String]): Map[String, Map[String, Any]] =
    types.map { t =>
      val tbl = EventPipeline.readEvolvingTable(spark, cfg, t)
      val width =
        if (tbl.columns.contains("device_screen_width")) sum(col("device_screen_width"))
        else lit(null).cast(LongType)
      val hours = tbl.groupBy(floor(unix_micros(col("received_at")) / 3600000000L).as("h"))
        .agg(count(lit(1)), countDistinct(col("message_id")), width).collect()
      t -> Map[String, Any](
        "count" -> hours.map(_.getLong(1)).sum,
        "distinct_message_ids" -> hours.map(_.getLong(2)).sum,
        "screen_width_sum" -> hours.map(r => if (r.isNullAt(3)) 0L else r.getLong(3)).sum,
        "hours" -> hours.map(r => r.getLong(0).toString -> r.getLong(1)).toMap,
        "schema" -> tbl.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap)
    }.toMap

  /** Each table's schema as `readEvolvingTable` reads it. */
  def schemas(cfg: EventPipeline.Config, types: Seq[String]): Map[String, Map[String, String]] =
    types.map { t =>
      t -> EventPipeline.readEvolvingTable(spark, cfg, t).schema.fields
        .map(f => f.name -> f.dataType.simpleString).toMap
    }.toMap

  /** Rows that landed in any table, from [[landed]]. */
  def rows(landed: Any): Long =
    landed.asInstanceOf[Map[String, Any]]("ids").asInstanceOf[Map[String, Seq[Long]]]
      .values.map(_.size.toLong).sum

  /** Where every event id landed (one scan over all tables), plus the
    * dead-letter row count. Untimed. */
  def landed(cfg: EventPipeline.Config): Map[String, Any] = {
    val ids =
      if (!Files.isDirectory(Paths.get(cfg.outputDir))) Map.empty[String, Seq[Long]]
      else spark.read.schema("event_id BIGINT, event_type STRING").parquet(cfg.outputDir)
        .collect().groupBy(_.getString(1)).map { case (t, rs) => t -> rs.map(_.getLong(0)).toSeq }
    val dlq = cfg.dlqDir.filter(d => Files.isDirectory(Paths.get(d)))
      .map(d => spark.read.parquet(d).count()).getOrElse(0L)
    Map("ids" -> ids, "dlq_rows" -> dlq)
  }

  /** Files and bytes of the part files under every table. */
  def layout(cfg: EventPipeline.Config, types: Seq[String]): (Double, Long) = {
    val perTable = types.map { t =>
      val dir = Paths.get(cfg.outputDir, s"event_type=$t")
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
      (files.size, files.map(Files.size).sum)
    }
    (if (perTable.isEmpty) 0.0 else perTable.map(_._1).sum.toDouble / perTable.size,
      perTable.map(_._2).sum)
  }

  /** Stepwise replay of a stream's micro-batches outside Structured
    * Streaming, timing each layer of the per-batch body on its own:
    * JSON structure inference, flatten, enrich (each materialised into a
    * noop sink or cache), then the routed evolving write. Schemas read
    * before and after each batch count the ADD COLUMN and widen events. */
  def replay(jobs: IndexedSeq[String], triggers: Seq[Trigger], spans: Spans): Map[String, Double] = {
    val out = s"$work/replay/tables"
    val enrichmentCols = Seq("received_at", "sent_at", "message_id", "timestamp", "stream_batch_id")
    var mergeNs = 0L
    var added = 0L
    var widened = 0L
    // each table's schema after the last batch that wrote it
    val known = scala.collection.mutable.Map[String, StructType]()
    def schemaOf(t: String): Option[StructType] = {
      val p = s"$out/event_type=$t"
      if (!Files.isDirectory(Paths.get(p))) None
      else Some(spark.read.option("mergeSchema", "true").parquet(p).schema)
    }
    triggers.foreach { tr =>
      val idx = tr.start.indices.flatMap(p => (tr.start(p) until tr.end(p)).map(o => jobIndex(p, o)))
      val batch = spark.createDataset(idx.map(jobs))(Encoders.STRING).toDF("value")
        .select(decode(col("value")).as("e")).select("e.*")
      val valid = batch.filter(col("event_type").isNotNull && length(col("event_type")) > 0).persist()
      valid.write.format("noop").mode("overwrite").save()
      val types = valid.select(col("event_type")).distinct().collect().map(_.getString(0)).toSeq
      val keep = valid.columns.filterNot(_ == "props").toSeq
      val opts = EventFlattener.Options(
        reserved = EventFlattener.defaultReserved ++ keep ++ enrichmentCols)
      val schema = spans("operators.infer")(EventFlattener.inferStructure(valid, "props", opts))
      val flat = spans("operators.flatten") {
        val f = EventFlattener.flattenWithSchema(valid, "props", schema, keep, opts).persist()
        f.write.format("noop").mode("overwrite").save()
        f
      }
      val enriched = spans("operators.enrich") {
        val e = EventPipeline.enrich(flat, EventFlattener.defaultTransform)
          .withColumn("stream_batch_id", lit(tr.batchId)).persist()
        e.write.format("noop").mode("overwrite").save()
        e
      }
      val before = types.map(t => t -> known.get(t)).toMap
      val batchSchema = StructType(enriched.drop("event_type").schema.fields)
      before.values.flatten.foreach { ex =>
        val t0 = System.nanoTime()
        SchemaEvolution.merge(ex, batchSchema)
        mergeNs += System.nanoTime() - t0
      }
      spans("streaming.write_evolved") {
        EventPipeline.writeEvolvedBatch(spark, enriched, types, out, tr.batchId)
      }
      types.foreach { t =>
        val after = schemaOf(t)
        (before(t), after) match {
          case (Some(b), Some(a)) =>
            added += a.fieldNames.count(n => !b.fieldNames.contains(n))
            widened += a.fields.count(f => b.fieldNames.contains(f.name) && b(f.name).dataType != f.dataType)
          case _ => ()
        }
        after.foreach(known(t) = _)
      }
      enriched.unpersist(); flat.unpersist(); valid.unpersist()
    }
    Map("operators.infer_s" -> spans.seconds("operators.infer"),
      "operators.flatten_s" -> spans.seconds("operators.flatten"),
      "operators.enrich_s" -> spans.seconds("operators.enrich"),
      "streaming.write_evolved_s" -> spans.seconds("streaming.write_evolved"),
      "operators.merge_ms" -> mergeNs / 1e6,
      "operators.columns_added" -> added.toDouble,
      "operators.columns_widened" -> widened.toDouble)
  }

  /** Per job index: the end time (epoch ms) of the trigger that consumed
    * it, or -1. */
  def landingTimes(triggers: Seq[Trigger], n: Int): Array[Long] = {
    val at = Array.fill(n)(-1L)
    triggers.foreach { t =>
      t.start.indices.foreach { p =>
        var o = t.start(p)
        while (o < t.end(p)) {
          val i = jobIndex(p, o)
          if (i < n && at(i) < 0) at(i) = t.endMs
          o += 1
        }
      }
    }
    at
  }

  def triggerRows(triggers: Seq[Trigger]): Seq[Map[String, Any]] = triggers.map { t =>
    Map("batch_id" -> t.batchId, "rows" -> t.rows, "start_ms" -> t.startMs,
      "end_offsets" -> t.end, "broker_ends" -> t.brokerEnds, "duration_ms" -> t.durationMs)
  }
}

object Ingest {
  /** Trigger-level layer metrics from the query's progress reports. */
  def triggerMetrics(triggers: Seq[Trigger], streamingJobs: Long): Map[String, Double] = {
    def p50(f: Trigger => Double) = Stats.median(triggers.map(f))
    val n = triggers.size
    Map(
      "streaming.triggers" -> n.toDouble,
      "streaming.trigger_s_p50" -> p50(_.ms("triggerExecution") / 1e3),
      "streaming.trigger_s_p90" -> Stats.quantile(triggers.map(_.ms("triggerExecution") / 1e3), 0.9),
      "streaming.add_batch_s_p50" -> p50(_.ms("addBatch") / 1e3),
      "streaming.query_planning_s_p50" -> p50(_.ms("queryPlanning") / 1e3),
      "streaming.commit_s_p50" -> p50(t => (t.ms("walCommit") + t.ms("commitOffsets")) / 1e3),
      "sources.latest_offset_s_p50" -> p50(_.ms("latestOffset") / 1e3),
      "streaming.jobs_per_trigger" -> (if (n > 0) streamingJobs.toDouble / n else 0.0),
      "sources.backlog_events_p90" -> Stats.quantile(
        triggers.map(t => (t.brokerEnds.sum - t.end.sum).toDouble.max(0.0)), 0.9),
      "sources.rows_per_trigger_p50" -> p50(_.rows.toDouble))
  }
}
