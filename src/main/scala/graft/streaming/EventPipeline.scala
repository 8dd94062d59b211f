package graft.streaming

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.Fns
import graft.operators.{EventFlattener, EventRouter, SchemaEvolution}
import graft.sources.JdbcEventSink

/** End-to-end Structured Streaming re-expression of the reference's
  * worker loop (reference: src/main.ts — queue.process → per-type
  * Bulker buffers → repeated bulk INSERT):
  *
  *   readStream (file source standing in for the Redis queue; the
  *   container is zero-egress) → flatten/enrich/transform →
  *   foreachBatch{ route to per-event-type parquet tables with schema
  *   evolution }.
  *
  * What the reference gets from Bull + bulkers, streaming gives
  * structurally: micro-batches ARE the bulk inserts (the source's
  * per-trigger cap ≙ TAKE_UP_TO_PER_BATCH), the checkpoint is the
  * re-enqueue-on-crash story (no manual SIGTERM dance), and
  * backpressure is trigger-paced instead of a bounded in-memory buffer
  * that throws `errors.bulker_full`.
  */
object EventPipeline {

  /** Pluggable queue-source seam (reference north star: a Redis/Kafka
    * consumer feeding the worker — main.ts:540's `queue.process`).
    * Anything that yields a streaming DataFrame of event rows drops
    * in: the file source below is the zero-egress stand-in; a Kafka
    * reader is `FrameEventSource(spark.readStream.format("kafka")
    * .option("subscribe", topic)...load().select(<decode body>))` —
    * no pipeline code changes.
    *
    * Reference-knob mapping (so a queue deployment translates):
    * - `NB_CONCURRENCY` (main.ts:162, parallel queue reads) ≙ source
    *   partition count × `spark.sql.shuffle.partitions` — parallelism
    *   is cluster-sized, not worker-config-sized.
    * - `TAKE_UP_TO_PER_BATCH` / `BULKER_MAX_LENGTH` (main.ts:153,
    *   bounded per-INSERT batch + buffer cap) ≙ trigger pacing: the
    *   broker source's `maxRecordsPerTrigger` (`maxOffsetsPerTrigger`
    *   for Kafka) bounds each micro-batch, and backpressure is
    *   structural — the source is never drained faster than the sink
    *   commits, so there is no `errors.bulker_full` overflow path to
    *   re-enqueue. */
  trait EventSource {
    def load(spark: SparkSession): DataFrame
  }

  /** File-backed queue stand-in: each arriving file ≙ a batch of
    * queue jobs, read one file per micro-batch (the order
    * [[Scaffold.stageSliceFiles]] stages them in). */
  final case class FileEventSource(schema: StructType, dir: String) extends EventSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
  }

  /** Adapter for an already-built streaming frame (MemoryStream in
    * tests, a Kafka/Redis reader in a real deployment). */
  final case class FrameEventSource(df: DataFrame) extends EventSource {
    def load(spark: SparkSession): DataFrame = df
  }

  /** The queue job's JSON body: the six event columns every producer
    * publishes, `props` still a JSON string for the evolving sinks to
    * flatten. */
  val envelope: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The `graft-queue` broker at host:port as a stream of event rows:
    * each record's value decoded as an [[envelope]] JSON job. */
  private[graft] def brokerEvents(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("graft-queue")
      .option("host", host)
      .option("port", port.toString)
      .load()
      .select(from_json(col("value"), envelope).as("e")).select("e.*")

  /** One pipeline's settings.
    *
    * `dlqDir = Some(dir)` is where rows go instead of being lost, with a
    * reason + attempt counter (the reference never loses a row,
    * main.ts:463-514); replay them with `EventRouter.replayDlq`. One
    * rule holds in every entry point: a row whose body does not parse
    * is dead-lettered as `malformed_body`, or dropped when `dlqDir` is
    * None. A row with no routing key is dead-lettered only by `start`;
    * the evolving sinks drop it. The evolving sinks also send here the
    * sinkPing divert below and, in `startEvolving`, the batch rows of a
    * type whose table write threw.
    *
    * `sinkPing = Some(f)` is the connection-watchdog seam (reference
    * main.ts:244-260 pings ClickHouse and main.ts:464 gates inserts on
    * `lastPingShowsDisconnectedDestination`), used by the evolving
    * sinks: evaluated once per micro-batch BEFORE any table write. A
    * false ping diverts the batch's routable rows to `dlqDir` raw
    * instead of failing the stream; recovery is the existing a12 replay path.
    * Without a `dlqDir` the ping is not consulted and a write failure
    * propagates (fail-the-batch, checkpoint replays — the pre-watchdog
    * behavior).
    *
    * `compactEvery = Some(n)` runs [[graft.operators.Compactor]] over
    * the routed table after every n-th micro-batch of `start`, INSIDE
    * foreachBatch — the maintenance loop that keeps streaming
    * fragmentation bounded (the reference's MergeTree background
    * merges, bulker.class.ts:66-117, where the engine that owns the
    * parts owns their merges). Running at the micro-batch boundary
    * makes the merge atomic w.r.t. the stream's own appends BY
    * CONSTRUCTION (no snapshot-then-swap lost-append race: foreachBatch
    * serializes the two), and external readers see staged-swap
    * visibility — the old file set or the new one, never a half-merged
    * union (StreamingCompactionSpec pins both). `onCompact` observes
    * each merge's Stats (tests and ops counters).
    *
    * `debugTee = Some(dir)` appends a compact JSON-lines trace of every
    * STORED row — (type, received_at, stream_batch_id) — next to the
    * real write, the reference's DEBUG_STORE_LOG ops affordance
    * (main.ts:140-142, 181-199: fs.appendFile of per-row
    * {type, received_at, flags} summaries at insert time). Spark-form:
    * a distributed JSON append per micro-batch (never a driver-side
    * collect), so the tee scales with the stream it shadows. */
  case class Config(
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      transform: EventFlattener.RowTransform = EventFlattener.defaultTransform,
      dlqDir: Option[String] = None,
      sinkPing: Option[() => Boolean] = None,
      compactEvery: Option[Int] = None,
      onCompact: Option[graft.operators.Compactor.Stats => Unit] = None,
      debugTee: Option[String] = None)

  /** The DEBUG_STORE_LOG trace write (see [[Config.debugTee]]). */
  private def traceBatch(enriched: DataFrame, tee: Option[String]): Unit =
    tee.foreach { dir =>
      enriched.select(col("event_type").as("type"), col("received_at"),
          col("stream_batch_id"))
        .write.mode("append").json(dir)
    }

  /** The enrichment applied to each micro-batch (shared with tests and
    * with the batch path, so batch/streaming parity is testable). */
  def enrich(events: DataFrame, transform: EventFlattener.RowTransform): DataFrame = {
    val withMeta = EventFlattener.withMetadata(
      events,
      receivedAt = Fns.nanosToTimestamp(col("ts")),
      sentAt = current_timestamp(),
      idCols = Seq(col("event_type"), col("event_id")))
    transform(withMeta)
  }

  /** Start the pipeline. AvailableNow drains everything present and
    * stops — the batch-refill shape; Trigger.ProcessingTime is the
    * always-on worker (BULK_REPEAT_INTERVAL_SEC). */
  def start(spark: SparkSession, schema: StructType, cfg: Config,
            availableNow: Boolean = true): StreamingQuery =
    start(spark, FileEventSource(schema, cfg.inputDir), cfg, availableNow)

  /** Same pipeline over any [[EventSource]] (the queue seam). */
  def start(spark: SparkSession, source: EventSource, cfg: Config,
            availableNow: Boolean): StreamingQuery = {
    Scaffold.foreachBatch(source.load(spark), cfg.checkpointDir, availableNow) {
      (batch, batchId) =>
        // reference main.ts:463-514: a row is never lost — invalid rows
        // dead-letter (when configured) with a reason + attempt counter
        val (valid, dlq) = EventRouter.splitDlq(batch, "props")
        cfg.dlqDir.foreach(divertToDlq(dlq, col("dlq_reason"), _, batchId))
        val enriched = enrich(valid, cfg.transform)
          .withColumn("stream_batch_id", lit(batchId))
        EventRouter.routedFrame(enriched, "sent_at", saltBuckets = 1)
          .write.mode("append")
          .partitionBy(EventRouter.RouteCol)
          .parquet(cfg.outputDir)
        traceBatch(enriched, cfg.debugTee)
        // the in-stream maintenance merge (see Config.compactEvery):
        // serialized with the append above, so no append can land
        // between the compaction's snapshot and its swap
        cfg.compactEvery.foreach { n =>
          val outPath = new org.apache.hadoop.fs.Path(cfg.outputDir)
          val fs = outPath.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          if ((batchId + 1) % n == 0 && fs.exists(outPath)) {
            val st = graft.operators.Compactor.compact(batch.sparkSession,
              cfg.outputDir, partitionCol = "event_type",
              sortCol = "sent_at")
            cfg.onCompact.foreach(_(st))
          }
        }
    }
  }

  /** Read one routed destination "table" back. */
  def readTable(spark: SparkSession, cfg: Config, eventType: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(cfg.outputDir)
      .filter(col("event_type") === eventType)

  /** The reference's full loop: per micro-batch, flatten the free-form
    * JSON body, route by event_type, and evolve EACH type's table
    * schema independently (CREATE on first batch, ADD COLUMN nullable,
    * widen-to-String — reference batch-client:492-568).
    *
    * Before any write, one pre-pass job over the cached batch checks
    * each body, finds the present types, infers the batch schema and
    * gathers the flatten's facts: its array lengths and date columns
    * (see withRoutableBatch). A steady cast-free trigger therefore runs
    * three jobs: the pre-pass, and the routed write's shuffle map stage
    * and write.
    *
    * Schema evolution is per-type METADATA (driver-side merges); the
    * DATA write is ONE routed `partitionBy` job per micro-batch for
    * every cast-free type, staged then file-moved into the per-type
    * tables ([[writeEvolvedBatch]]) — the batch router's one-shuffle
    * shape, not a per-type job loop. Tables needing a cast or a widen
    * rewrite add one job per distinct table schema, not per table.
    *
    * The running query owns its tables' schemas: it reads each table's
    * merged schema on first touch in this query run and then keeps it
    * in driver memory, updated by every landing, so a steady trigger
    * runs no schema-read job. A schema edit made outside the stream is
    * therefore seen after a restart, which rebuilds the schemas from
    * the files.
    *
    * Delivery is at-least-once at the table level: a crash between a
    * type's append and the checkpoint commit replays the batch, and
    * replays APPEND (parquet has no upsert). `message_id` is a content
    * hash and `stream_batch_id` is stamped on every row, so downstream
    * exact-once reads are `dropDuplicates("message_id")` — a filter,
    * not a fix-up job — or a MERGE when the sink is transactional.
    *
    * Flattened JSON keys that would collide with the envelope columns
    * (the kept source columns and the enrichment columns) are dropped
    * via the reserved-keys mechanism, reference-style — a props key
    * named "event_id" must not shadow the envelope's event_id. */
  def startEvolving(spark: SparkSession, schema: StructType, cfg: Config,
                    jsonCol: String = "props",
                    availableNow: Boolean = true): StreamingQuery =
    startEvolving(spark, FileEventSource(schema, cfg.inputDir), cfg, jsonCol, availableNow)

  /** Enrichment columns both evolving sinks reserve (one list — the
    * parquet and JDBC twins must never drift apart on it). */
  private val enrichmentCols = Seq("received_at", "sent_at", "message_id",
    "timestamp", "stream_batch_id")

  /** Divert: rows dead-letter with a per-row reason + attempt counter
    * instead of failing the stream or landing (reference
    * main.ts:463-514). */
  private def divertToDlq(rows: DataFrame, reason: Column, dlqDir: String,
                          batchId: Long): Unit =
    rows.withColumn("dlq_reason", reason)
      .withColumn("retry_attempt", lit(1))
      .withColumn("stream_batch_id", lit(batchId))
      .write.mode("append").parquet(dlqDir)

  /** The shared per-batch prelude of BOTH evolving sinks (parquet and
    * JDBC — one body, so a change to the gate/flatten/enrich sequence
    * cannot silently apply to only one twin): keep routable rows,
    * dead-letter (or drop) the ones whose body does not parse, gate
    * on the sink ping (diverting the whole batch raw when the
    * destination reports down and a DLQ is configured — main.ts:464's
    * insert gate), flatten the JSON column, enrich, stamp the batch
    * id, then hand (rawValid, presentTypes, enriched) to the
    * sink-specific body. Skips the body for an empty or diverted
    * batch. Persists the raw frame, with its body verdict, around the
    * body and the trace: that is the batch's one cache. `enriched` is
    * not cached; each consumer (a write group, a JDBC table, the trace)
    * filters it by `event_type` and the filter runs below the
    * deterministic projection, so each parses only its own rows from
    * the cache, and the trace parses none. `sent_at` is therefore
    * stamped once per table write, not once per batch.
    *
    * The emptiness gate, the sinks' type discovery, the batch's
    * schema inference and the flatten's facts are ONE pre-pass job over
    * the persisted batch ([[EventFlattener.typedGroups]]): per
    * (event_type, malformed) pair it returns the merged JSON type and
    * the facts of the pair's bodies (no valid pair == empty batch), and
    * the body check is computed as the pass fills the cache. The valid
    * pairs' types merge into the one batch schema the flatten projects,
    * and their facts into the ones it plans by, so the flatten runs no
    * job of its own. event_type is a kept passthrough column, so the
    * list taken pre-flatten equals the one the sinks saw post-flatten. */
  private def withRoutableBatch(batch: DataFrame, batchId: Long, cfg: Config,
      jsonCol: String)(body: (DataFrame, Seq[String], DataFrame) => Unit): Unit = {
    val keyed = batch
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0)
      .withColumn("__malformed", EventRouter.malformedBody(jsonCol))
      .persist()
    try {
      val seen = EventFlattener.typedGroups(keyed, jsonCol, Seq("event_type", "__malformed"))(
        r => r.getUTF8String(1).toString -> r.getBoolean(2)) // ≤ 2 per table
      if (seen.keys.exists(_._2)) cfg.dlqDir.foreach(divertToDlq(keyed.filter(col("__malformed"))
        .drop("__malformed"), lit("malformed_body"), _, batchId))
      val valid = keyed.filter(!col("__malformed")).drop("__malformed")
      val typed = seen.collect { case ((t, false), g) => t -> g }
      val types = typed.keys.toSeq.sorted
      if (types.nonEmpty) {
        if (cfg.dlqDir.isDefined && !cfg.sinkPing.forall(_())) {
          divertToDlq(valid, lit("destination_unhealthy"), cfg.dlqDir.get, batchId)
        } else {
          val keep = valid.columns.filterNot(_ == jsonCol).toSeq
          val reserved = EventFlattener.defaultReserved ++ keep ++ enrichmentCols
          val flat = EventFlattener.flattenTyped(valid, jsonCol, typed.values, keep = keep,
            opts = EventFlattener.Options(reserved = reserved))
          val enriched = enrich(flat, cfg.transform)
            .withColumn("stream_batch_id", lit(batchId))
          body(valid, types, enriched)
          traceBatch(enriched, cfg.debugTee)
        }
      }
    } finally { keyed.unpersist(); () }
  }

  /** Same evolving pipeline over any [[EventSource]] (the queue seam). */
  def startEvolving(spark: SparkSession, source: EventSource, cfg: Config,
                    jsonCol: String, availableNow: Boolean): StreamingQuery = {
    val schemas = mutable.Map.empty[String, StructType] // this query run's tables
    Scaffold.foreachBatch(source.load(spark), cfg.checkpointDir, availableNow) {
      (batch, batchId) =>
        withRoutableBatch(batch, batchId, cfg, jsonCol) { (valid, types, enriched) =>
          val onFail: Option[(Seq[String], Throwable) => Unit] =
            cfg.dlqDir.map { dlqOut => (failed: Seq[String], _: Throwable) =>
              divertToDlq(valid.filter(col("event_type").isin(failed: _*)),
                lit("sink_write_failed"), dlqOut, batchId)
            }
          writeEvolvedBatch(spark, enriched, types, cfg.outputDir,
            batchId, onFail, schemas)
        }
    }
  }

  /** The reference's FULL path on real seams: any [[EventSource]] (in
    * production the `graft-queue` broker connector — the BullMQ
    * consumer's seat, main.ts:540) → flatten + type-infer + enrich →
    * per-event-type WAREHOUSE tables over JDBC with real catalog
    * evolution (clickhouse-batch-client.class.ts:492-568's CREATE /
    * ALTER TABLE ADD COLUMN / widen path, via
    * [[graft.sources.JdbcEventSink.routeAndAppend]]).
    *
    * Delivery is the same contract as the parquet twin: at-least-once
    * per micro-batch (checkpoint replays re-append), deduped
    * downstream on `message_id`; a clean checkpointed restart is
    * exactly-once because consumed broker offsets are committed.
    * The sinkPing gate dead-letters a batch raw when the warehouse
    * reports down (main.ts:464's insert gate) — replayable unchanged. */
  def startEvolvingJdbc(spark: SparkSession, source: EventSource, cfg: Config,
                        jdbcUrl: String, jsonCol: String = "props",
                        availableNow: Boolean = true): StreamingQuery = {
    Scaffold.foreachBatch(source.load(spark), cfg.checkpointDir, availableNow) {
      (batch, batchId) =>
        withRoutableBatch(batch, batchId, cfg, jsonCol) { (_, types, enriched) =>
          JdbcEventSink.routeAndAppend(spark, enriched, jdbcUrl, types)
          ()
        }
    }
  }

  /** Spark jobs [[writeEvolvedBatch]] keeps in flight at once: a small
    * constant, since each job already spreads over every core — the
    * overlap only fills the gaps between one job's tasks and the next
    * job's driver-side planning. */
  private val evolvePar = 4

  /** One micro-batch's routed write with per-type schema evolution, in
    * a number of Spark jobs that follows the batch's distinct table
    * schemas, not its type count.
    *
    * 1. Each present type's merged table schema is taken from `known`,
    *    the schemas this query run has already seen. A type not in it is
    *    read (mergeSchema, one small job per existing table),
    *    [[Scaffold.overlapped]]: a table dir that does not exist is a
    *    CREATE; one that exists but cannot be read fails only its own
    *    type. After the landings below each landed type's new merged
    *    schema goes into `known` and each failed type leaves it, so a
    *    steady trigger reads no schema. The running query owns its
    *    tables' schemas: an edit made to a table outside the stream is
    *    seen after a restart, which starts from an empty `known`.
    * 2. Every type whose append is cast-free — a new table, or no
    *    column the batch shares with its table changes dtype (new
    *    columns are metadata-only via mergeSchema, like ClickHouse's
    *    ADD COLUMN) — rides ONE `partitionBy` write to a staging dir,
    *    hash-partitioned by type with no salt, so AQE coalesces a small
    *    batch to a task or two (the batch router's one-shuffle shape,
    *    EventRouter.writeRouted), whose part files then MOVE into the
    *    per-type tables driver-side ([[SchemaEvolution.land]]).
    * 3. The other types are grouped by their table's merged schema. The
    *    batch schema is inferred once per micro-batch, so one existing
    *    schema fixes one target schema. A group whose target widens a
    *    column is rewritten: its tables are read by ONE parquet scan
    *    (`event_type` read back as a STRING partition column, so a type
    *    named `007` keeps its name), unioned with the group's batch
    *    rows, written by one job and swapped in per table (parquet
    *    cannot re-read old DOUBLE pages as STRING). Any other group
    *    appends its batch rows, cast to the target, as in step 2. The
    *    groups and the step-2 write run overlapped.
    *
    * A failure diverts exactly the types it touched — one type for a
    * schema read or a file move, every type of a write that failed —
    * through `onWriteFailure`, called ONCE after all the work above
    * (two overlapped DLQ appends would share one output committer dir);
    * with no handler the first failure propagates (fail-the-batch, the
    * checkpoint replays).
    *
    * Every staging dir lives under the output root with a `__` prefix
    * and no `=`, which Spark's partition discovery ignores; a crash
    * mid-move replays the batch (at-least-once, deduped downstream by
    * `message_id`). NOTE the move is a same-filesystem rename — O(1)
    * on HDFS/local; on an object store front it with a rename-capable
    * committer or layer. */
  private[graft] def writeEvolvedBatch(spark: SparkSession, enriched: DataFrame,
                                       types: Seq[String], outputDir: String,
                                       batchId: Long,
                                       onWriteFailure: Option[(Seq[String], Throwable) => Unit] = None,
                                       known: mutable.Map[String, StructType] = mutable.Map.empty): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outputDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchSchema = enriched.drop("event_type").schema
    def tablePath(t: String) = s"$outputDir/event_type=${escapePathName(t)}"
    // mergeSchema=true is LOAD-BEARING here: after a fast-path batch
    // added a column, only the newer files carry it — a single-footer
    // schema read could pick an older file, miss that column, classify
    // a type-changing batch as cast-free, and mix incompatible types
    // into one table (unreadable until manually repaired); `known`
    // holds that merged schema too, so a type in it is not read again
    val (seen, unseen) = types.partition(known.contains)
    val existing = seen.map(t => t -> Success(known.get(t))) ++
      Scaffold.overlapped(unseen, evolvePar) { t =>
        t -> Try(Option.when(fs.exists(new Path(tablePath(t))))(
          spark.read.option("mergeSchema", "true").parquet(tablePath(t)).schema))
      }
    // one group per existing schema, hence one target, except that
    // every cast-free type shares the group keyed None: a new table
    // (CREATE at the batch schema), or one whose columns the batch
    // shares all keep their dtype (so none widens)
    val groups = existing.collect { case (t, Success(ex)) => t -> ex }.groupMap {
      case (_, ex) => ex.filterNot(ex => batchSchema.fields.forall(f =>
        ex.fields.find(_.name == f.name).forall(_.dataType == f.dataType)))
    }(_._1).toSeq
    val work = groups.zipWithIndex.map { case ((ex, ts), i) => () =>
      import SchemaEvolution.{align, keyed, widened}
      val target = ex.fold(batchSchema)(SchemaEvolution.merge(_, batchSchema))
      val rewrite = ex.exists(SchemaEvolution.widens(_, target))
      val rows = enriched.filter(col("event_type").isin(ts: _*))
      SchemaEvolution.land(spark,
        (if (!rewrite) align(rows, keyed(target, "event_type"))
         else widened(spark.read.schema(keyed(ex.get, "event_type"))
           .option("basePath", outputDir).parquet(ts.map(tablePath): _*),
           rows, target, "event_type"))
          // the write's cost is per file, not per core: spreading it
          // over ts.size partitions measured slower (docs/SCALE.md)
          .repartition(col("event_type"))
          .sortWithinPartitions(col("event_type"), col("received_at")),
        "event_type", ts.map(t => t -> tablePath(t)),
        s"$outputDir/__graft_stage_${batchId}_$i", replace = rewrite)
    }
    val failed = existing.collect { case (t, Failure(e)) => t -> e } ++
      Scaffold.overlapped(work, evolvePar)(_()).flatten
    // a landed table's merged schema is now its old one merged with the
    // batch's: the target a rewrite wrote, or what a mergeSchema read of
    // the old and new files returns. A failed table is read afresh.
    val lost = failed.map(_._1).toSet
    existing.foreach {
      case (t, Success(ex)) if !lost(t) =>
        known(t) = ex.fold(batchSchema)(SchemaEvolution.merge(_, batchSchema))
      case (t, _) => known -= t
    }
    failed.headOption.foreach { case (_, cause) =>
      onWriteFailure match {
        case Some(h) => h(failed.map(_._1), cause)
        case None => throw cause
      }
    }
  }

  /** Read one evolving per-type table back (schema-merged). */
  def readEvolvingTable(spark: SparkSession, cfg: Config, eventType: String): DataFrame =
    SchemaEvolution.readEvolved(spark,
      s"${cfg.outputDir}/event_type=${escapePathName(eventType)}")
}
