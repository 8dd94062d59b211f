package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators._
import graft.sources.{JdbcEventSink, Tables}
import graft.streaming.{EventPipeline, Scaffold}
import graft.streaming.Scaffold.{scratch, stageSliceFiles}

/** One query: its name, its Spark body over an sf dir, and the DuckDB
  * SQL its result must match. The oracle is a required field, so a query
  * cannot be registered without one. */
final case class Q(name: String, run: (SparkSession, String) => DataFrame,
                   oracle: String)

object Q {
  /** `entries` as given, or a failure naming every repeated name (a
    * `Map` built from them would silently keep only the last). */
  def distinctNames(entries: Seq[Q]): Seq[Q] = {
    val dups = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query registry: duplicate name(s) ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }
}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query reads from the given sf dir, aliases every computed
  * column (the driver's compare sorts columns by name), avoids raw
  * timestamp outputs, makes float reductions decimal-exact, and orders
  * deterministically with full tie-breaks.
  */
object SparkEntry {

  /** Flagship: the event pipeline end-to-end on sf0.001 — ingest,
    * flatten, enrich, route, rollup. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(spark, dir, "events")
    val flat = EventFlattener.flatten(
      ev, "props", keep = Seq("event_id", "ts", "user_id", "event_type", "value"))
    EventRouter.routeCounts(EventPipeline.enrich(flat, EventFlattener.defaultTransform))
  }

  // ---------------------------------------------------------------
  // A. Reference surface — event pipeline
  // ---------------------------------------------------------------

  /** A1: ingestion — required-key check + typed body extraction. */
  private def a1Ingest(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0)
      .select(
        col("event_id"), col("event_type"), col("user_id"), col("value"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("event_date"),
        get_json_object(col("props"), "$.k").try_cast("bigint").as("props_k"))
      .orderBy(col("event_id"))

  /** A2: routing — one bulker/table per event_type. */
  private def a2RouteCounts(s: SparkSession, dir: String): DataFrame =
    EventRouter.routeCounts(Tables(s, dir, "events")).orderBy(col("event_type"))

  /** A3: nested record → snake_case flattened columns. The testdata
    * props are flat, so the nested body is assembled in-plan from real
    * columns, then flattened by the operator. */
  private def a3FlattenRecords(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val nested = ev.withColumn("body",
      to_json(struct(
        struct(col("user_id").as("id"), col("value").as("score")).as("userInfo"),
        col("props").as("rawProps"),
        col("event_type").as("kind"))))
    EventFlattener.flatten(nested, "body", keep = Seq("event_id"),
        opts = EventFlattener.Options(detectDates = false, sampleFraction = 0.1))
      .select(col("event_id"), col("kind"), col("raw_props"),
        col("user_info_id"), col("user_info_score"))
      .orderBy(col("event_id"))
  }

  /** A4: arrays → indexed columns `k_0, k_1, …`. */
  private def a4FlattenArrays(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val nested = ev.withColumn("body",
      to_json(struct(
        array(col("event_type"), col("event_id").cast("string")).as("tags"),
        array(col("value"), col("value") * 2).as("vals"))))
    EventFlattener.flatten(nested, "body", keep = Seq("event_id"),
        opts = EventFlattener.Options(detectDates = false, sampleFraction = 0.1))
      .select(col("event_id"), col("tags_0"), col("tags_1"),
        col("vals_0"), col("vals_1"))
      .orderBy(col("event_id"))
  }

  /** A5: value-form type inference (date-string / int / float / bool /
    * string → ClickHouse-ish types), aggregated over all values. */
  private def a5InferTypes(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val kv = ev.select(lit("props_k").as("key"),
        get_json_object(col("props"), "$.k").as("value"))
      .unionAll(ev.select(lit("value").as("key"), col("value").cast("string")))
      .unionAll(ev.select(lit("event_type").as("key"), col("event_type")))
      .unionAll(ev.select(lit("event_date").as("key"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")))
      .unionAll(ev.select(lit("is_even_user").as("key"),
        (col("user_id") % 2 === 0).cast("string")))
    ChTypes.inferFromStrings(kv).orderBy(col("column_name"))
  }

  /** A6: schema evolution — batch 1's inferred schema merged with a
    * later batch that adds a column and turns a numeric into strings. */
  private def a6SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val half = ev.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    val b1 = ev.filter(col("event_id") <= half)
      .select(lit("k").as("key"), get_json_object(col("props"), "$.k").as("value"))
      .unionAll(ev.filter(col("event_id") <= half)
        .select(lit("amount").as("key"), col("value").cast("string")))
    val b2 = ev.filter(col("event_id") > half)
      .select(lit("k").as("key"), get_json_object(col("props"), "$.k").as("value"))
      .unionAll(ev.filter(col("event_id") > half)
        .select(lit("amount").as("key"), concat(lit("usd_"), col("value"))))
      .unionAll(ev.filter(col("event_id") > half)
        .select(lit("new_flag").as("key"), (col("value") > 100).cast("string")))
    SchemaEvolution.mergeChTypes(
        ChTypes.inferFromStrings(b1), ChTypes.inferFromStrings(b2))
      .orderBy(col("column_name"))
  }

  /** A7: metadata enrichment — received_at/sent_at/message_id. The
    * reference's random UUID becomes a content md5 (deterministic,
    * replay-safe). */
  private def a7Metadata(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(
        col("event_id"),
        Fns.nanosToEpochSec(col("ts")).as("received_at_s"),
        lit("2026-01-01 00:00:00").as("sent_at_s"),
        md5(concat_ws("#", col("event_type"), col("event_id"))).as("message_id"))
      .orderBy(col("event_id"))

  /** A8: transform hook — default adds timestamp := received_at. */
  private def a8TransformHook(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .withColumn("received_at", Fns.nanosToEpochSec(col("ts")))
    EventFlattener.defaultTransform(base)
      .select(col("event_id"), col("received_at"),
        col("timestamp").as("transform_ts"))
      .orderBy(col("event_id"))
  }

  /** A9: micro-batch bulk sink bookkeeping — deterministic batch ids
    * per route (TAKE_UP_TO_PER_BATCH=500) + batch manifests. */
  private def a9BulkBatches(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    EventRouter.withBatchId(ev, 500, Seq(col("ts"), col("event_id")))
      .groupBy(col("event_type"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"))
      .orderBy(col("event_type"), col("batch_id"))
  }

  /** A10: DLQ split summary (testdata is all-valid, so the output is
    * the per-route valid/dlq accounting, never empty). */
  private def a10Dlq(s: SparkSession, dir: String): DataFrame = {
    val (ok, dlq) = EventRouter.splitDlq(Tables(s, dir, "events"), "props")
    ok.groupBy(col("event_type")).agg(count(lit(1)).as("n_valid"))
      .join(dlq.groupBy(col("event_type")).agg(count(lit(1)).as("n_dlq")),
        Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_valid"), lit(0L)).as("n_valid"),
        coalesce(col("n_dlq"), lit(0L)).as("n_dlq"))
      .orderBy(col("event_type"))
  }

  /** A12: DLQ replay — the reference re-enqueues every failed row as a
    * single-retry job with exponential backoff and `attempts: 5`
    * (main.ts:502-507); after the budget, non-critical rows drop and
    * critical rows park. Malformed rows are planted in-plan (every
    * 17th event loses its routing key, every 23rd gets an unparseable
    * body); bodies recover on a deterministic attempt (transient
    * fault), keyless rows never do and are non-critical → dropped.
    * The oracle reproduces the full (row, attempt) schedule. */
  private def a12DlqReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 17 === 0, lit(""))
        .otherwise(col("event_type")).as("event_type"),
      when(col("event_id") % 23 === 0, concat(lit("{broken "), col("props")))
        .otherwise(col("props")).as("props"))
    val (_, dlq) = EventRouter.splitDlq(ev, "props")
    val recoverAt = when(col("dlq_reason") === "malformed_body",
      (col("event_id") % 3 + 2).cast("int"))
    EventRouter.replayDlq(dlq, recoverAt, maxAttempts = 5,
        baseDelaySec = 1L, nonCritical = Seq(""))
      .select(col("event_id"), col("dlq_reason"),
        col("attempt").cast("long").as("attempt"),
        col("backoff_s"), col("disposition"))
      .orderBy(col("event_id"), col("attempt"))
  }

  /** A13: legacy-queue migration shim (main.ts:422-460,
    * RE_ENQUEUE_OLD_BULL_EVENTS): every 13th event is planted as a
    * legacy job — second-precision timestamp (ms stamps are ≥ 13
    * digits, legacy ≤ 10) and no received_at. Normalization must
    * upscale exactly those rows to nanos, tag provenance, and
    * backfill received_at on first touch, leaving modern rows
    * byte-unchanged. */
  private def a13LegacyNormalize(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 13 === 0,
        floor(col("ts").cast("decimal(25,0)") / 1000000000L).cast("long"))
        .otherwise(col("ts")).as("ts"),
      when(col("event_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("ts")).as("received_at"))
    EventRouter.normalizeLegacy(planted, "ts", Some("received_at"))
      .select(col("event_id"),
        // surfaced at micro precision: DuckDB reads the nanos parquet
        // as TIMESTAMP(µs), so raw nanos can't round-trip the oracle
        floor(col("ts").cast("decimal(25,0)") / 1000L).cast("long")
          .as("ts_us"),
        floor(col("received_at").cast("decimal(25,0)") / 1000L).cast("long")
          .as("received_at_us"),
        col("is_from_legacy").cast("long").as("is_from_legacy"))
      .orderBy(col("event_id"))
  }

  /** A11 (batch form): the whole ingest path through a REAL routed
    * parquet write — flatten props, enrich metadata, default transform,
    * one-shuffle routed write, read the tables back. The oracle checks
    * the round-trip preserved exactly the valid rows per type. */
  private def a11PipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_e2e") + "/tables"
    val ev = Tables(s, dir, "events")
    val flat = EventFlattener.flatten(ev, "props",
      keep = Seq("event_id", "ts", "user_id", "event_type", "value"),
      opts = EventFlattener.Options(detectDates = false, sampleFraction = 0.1))
    val enriched = EventPipeline.enrich(flat, EventFlattener.defaultTransform)
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0)
    EventRouter.writeRouted(enriched, out, sortCol = "ts")
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("message_id")).as("n_message_ids"))
      .orderBy(col("event_type"))
  }

  /** A14: compaction round-trip — fragment the routed table (16-way
    * repartition write, the streaming-micro-batch fragmentation
    * MergeTree's background merges clean up), compact it, and prove
    * the compacted table is LOSSLESS against the DuckDB oracle over
    * the original rows (counts, distinct ids, decimal-exact sums) —
    * with the file-count reduction asserted in-row. */
  private def a14CompactionE2e(s: SparkSession, dir: String): DataFrame = {
    val out = scratch("graft_compact") + "/tables"
    Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(16)
      .write.partitionBy("event_type").parquet(out)
    val st = graft.operators.Compactor.compact(s, out,
      partitionCol = "event_type", sortCol = "ts",
      targetBytes = 512L * 1024 * 1024)
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_event_ids"),
        Fns.sumExact(col("value"), 2).as("sum_value"))
      .withColumn("files_reduced",
        lit(st.filesAfter < st.filesBefore).cast("int"))
      .orderBy(col("event_type"))
  }

  /** A19: B24's STREAMING twin as a driver row — the maintenance loop
    * that compacts the routed tables WHILE the A11 stream drains them
    * (reference bulker.class.ts:66-117: MergeTree's background merges,
    * owned by the engine that owns the parts). A deterministic 1-in-19
    * event slice arrives as 4 files = 4 micro-batches with
    * `compactEvery = 2`, so two full table merges run mid-stream,
    * serialized with the appends inside foreachBatch (no
    * snapshot-then-swap lost-append race by construction —
    * StreamingCompactionSpec additionally pins the concurrent-reader
    * visibility). The oracle checks the final table contents are
    * lossless and that exactly 2 merges ran, each reducing files. */
  private def a19StreamCompact(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("graft_a19")
    val slice = Tables(s, dir, "events")
      .filter(col("event_id") % 19 === 0)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    stageSliceFiles(s, s"$tmp/in", (0 until 4).map { i =>
      slice.filter(pmod(col("event_id") / 19, lit(4)) === i)
    })
    val merges = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.operators.Compactor.Stats]()
    val cfg = EventPipeline.Config(
      inputDir = s"$tmp/in", outputDir = s"$tmp/out",
      checkpointDir = s"$tmp/ck", compactEvery = Some(2),
      onCompact = Some(st => { merges.add(st); () }))
    EventPipeline.start(s, slice.schema, cfg).awaitTermination()
    val reduced = merges.size() == 2 &&
      merges.asScala.forall(st => st.filesAfter <= st.filesBefore)
    s.read.parquet(s"$tmp/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_event_ids"),
        Fns.sumExact(col("value"), 2).as("sum_value"))
      .withColumn("n_merges", lit(merges.size()).cast("long"))
      .withColumn("files_reduced", lit(reduced).cast("int"))
      .orderBy(col("event_type"))
  }

  /** A16 promotion (the a14/c49 pattern): the JDBC evolve path as a
    * DRIVER-CHECKED replay, not just a spec. A deterministic 1-in-17
    * event slice splits at half max event_id (a6's rule); batch 2
    * widens amount_cents long→string and adds new_flag — so CREATE
    * TABLE, the catalog ALTER TABLE ADD COLUMN (old rows NULL from
    * the database), and the widen-to-String staged swap ALL run
    * against a real embedded Derby catalog
    * (clickhouse-batch-client.class.ts:492-568), and the final table
    * CONTENTS read back over JDBC are what the oracle checks. The
    * in-memory DB is dropped at the start of each invocation, so
    * replays are independent; the slice keeps the single-connection
    * embedded insert out of the benchmark's way (a real warehouse
    * takes the appends executor-parallel). */
  private def a15JdbcEvolve(s: SparkSession, dir: String): DataFrame = {
    val base = "jdbc:derby:memory:graft_a15"
    try { java.sql.DriverManager.getConnection(s"$base;drop=true"); () }
    catch { case _: java.sql.SQLException => () } // drop reports via exception
    evolveReplay(s, dir, "a15_jdbc_evolve", 17, s"$base;create=true")(identity)
  }

  /** A16b: the a15 evolve replay against a NETWORK-SERVED warehouse —
    * [[graft.sources.NetWarehouse]] (TCP server over embedded Derby)
    * consumed through the genuine `java.sql` SPI by
    * [[graft.sources.GraftNetDriver]]. This is the topology
    * `jdbc:derby:memory:` cannot give: Spark's JDBC writer opens one
    * INSERT-batch connection PER PARTITION TASK — under local[32]
    * that's parallel driver threads, under local-cluster it's real
    * executor JVMs dialing the catalog over sockets (the r7
    * cluster-smoke FAIL this closes; see docs/SCALE.md). Same
    * CREATE → ALTER ADD COLUMN → staged widen-swap semantics as a15,
    * on a disjoint 1-in-19 slice; the final contents read back OVER
    * THE WIRE are what the oracle checks. Results land in a temp
    * parquet before the warehouse closes (the a16 broker pattern). */
  private def a15bJdbcEvolveNet(s: SparkSession, dir: String): DataFrame = {
    val wh = new graft.sources.NetWarehouse("graft_a15b")
    try evolveReplay(s, dir, "a15b_jdbc_evolve_net", 19, wh.url) { table =>
      val out = scratch("graft_a15b")
      table.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    } finally wh.close()
  }

  /** The a15/a15b replay (described at a15) over the 1-in-`modulus`
    * slice into `ev_replay` at `url`. The table read back passes
    * through `land` before the final shape: a15b stages it off the
    * live server there. */
  private def evolveReplay(s: SparkSession, dir: String, query: String,
                           modulus: Int, url: String)(
                           land: DataFrame => DataFrame): DataFrame = {
    val ev = Tables(s, dir, "events").filter(col("event_id") % modulus === 0)
      .select(col("event_id"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val maxRow = ev.agg(max(col("event_id"))).collect()(0)
    // the slice could be empty on a tiny input — fail loudly instead
    // of an opaque NPE from getLong on a NULL max
    require(!maxRow.isNullAt(0),
      s"$query: no events with event_id % $modulus == 0 under $dir")
    val half = maxRow.getLong(0) / 2
    val b1 = ev.filter(col("event_id") <= half)
      .select(col("event_id"), col("k"),
        round(col("value") * 100).cast("long").as("amount_cents"))
    val b2 = ev.filter(col("event_id") > half)
      .select(col("event_id"), col("k"),
        concat(lit("usd_"), round(col("value") * 100).cast("long"))
          .as("amount_cents"),
        (col("value") > 100).as("new_flag"))
    JdbcEventSink.evolveAppend(s, b1, url, "ev_replay")
    JdbcEventSink.evolveAppend(s, b2, url, "ev_replay")
    land(JdbcEventSink.readTable(s, url, "ev_replay"))
      .select(col("event_id"), col("k"), col("amount_cents"),
        col("new_flag").cast("string").as("new_flag"))
      .orderBy(col("event_id"))
  }

  /** A13 promotion: the REAL-BROKER queue seam as a driver-checked
    * query. A deterministic 1-in-13 event slice publishes onto a live
    * [[graft.sources.QueueBroker]] (localhost TCP), flows back through
    * the `graft-queue` DataSource V2 streaming connector
    * (AvailableNow), lands in parquet via foreachBatch, and the
    * routed per-type profile of what ARRIVED is what the oracle
    * checks against the slice itself — any byte lost or duplicated on
    * the wire breaks the hash. The driver-side publish loop is the
    * test harness's producer seat (bounded by the declared slice); in
    * production, producers publish from their own processes —
    * RetryLoopSpec exercises the executor-parallel publisher. */
  private def a16BrokerRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val broker = new graft.sources.QueueBroker(numPartitions = 2)
    try {
      val payloads = Tables(s, dir, "events")
        .filter(col("event_id") % 13 === 0 &&
          col("event_type").isNotNull && length(col("event_type")) > 0)
        .orderBy(col("event_id"))
        .select(to_json(struct(col("event_id"), col("event_type"),
          col("user_id"))).as("p"))
        .collect().map(_.getString(0)) // bounded by the declared slice
      payloads.zipWithIndex.foreach { case (p, i) =>
        broker.publish(i % 2, p)
      }
      val out = scratch("graft_broker_rt")
      Scaffold.foreachBatch(EventPipeline.brokerEvents(s, broker.host, broker.port),
          s"$out/ck") { (b, _) =>
        b.write.mode("append").parquet(s"$out/rows")
      }.awaitTermination()
      s.read.parquet(s"$out/rows")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy(col("event_type"))
    } finally broker.close()
  }

  /** A17 promotion: the reference's WHOLE warehouse loop as ONE
    * driver-checked row (main.ts:540 queue.process → flatten →
    * clickhouse-batch-client.class.ts:492-568 evolve), every byte on
    * real seams. A deterministic 1-in-11 event slice is published
    * through the DSv2 WRITE sink (`writeStream.format("graft-queue")`
    * — the A18b seam, driver-visible here), consumed back through the
    * DSv2 read connector, flattened (JSON props → typed columns), and
    * evolved into per-type JDBC warehouse tables. Three staged batches
    * split at half max event_id (the a15 rule): the second half adds
    * a new key v for every type and widens props.k long→string for
    * ONE type (shipped as its own micro-batch — see the staging
    * comment below), so CREATE TABLE, the catalog ALTER TABLE ADD
    * COLUMN, and exactly one widen-to-String staged swap all run
    * mid-stream, across checkpointed restarts that must consume ONLY
    * new broker offsets. The final contents read back over JDBC are
    * what the oracle checks. */
  private def a17WarehouseRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import org.apache.hadoop.fs.Path
    // NETWORK-served warehouse (not embedded Derby): executor tasks
    // dial the catalog over sockets, so this row also runs under
    // local-cluster — the a15 lesson (an in-memory embedded DB is
    // invisible to executor JVMs)
    val wh = new graft.sources.NetWarehouse("graft_a17")
    val url = wh.url
    val broker = new graft.sources.QueueBroker(numPartitions = 2)
    try {
      val ev = Tables(s, dir, "events")
        .filter(col("event_id") % 11 === 0 &&
          col("event_type").isNotNull && length(col("event_type")) > 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      // ONE driver collect for all three scalars the query needs (max
      // id, widen type, the distinct type list) — these were three
      // separate ~0.15 s agg jobs + planning gaps on the same scan
      // (r13 event-log probe); the values are identical, the slice is
      // static, and collect_set is bounded by table count.
      val hdr = ev.agg(max(col("event_id")), min(col("event_type")),
        sort_array(collect_set(col("event_type")))).collect()(0)
      require(!hdr.isNullAt(0),
        s"a17_warehouse_roundtrip: no events with event_id % 11 == 0 under $dir")
      val half = hdr.getLong(0) / 2
      // the reference risks exactly ONE widen ALTER (JdbcEventSink's
      // contract) — so the second half widens k long→string for a
      // single deterministic type (the slice's first, alphabetically)
      // and adds key v for every type. The widen-type rows ship as
      // their OWN micro-batch: JSON schema inference is batch-wide, so
      // one string k in a mixed batch stringifies k for every type and
      // all five tables would take the staged-rewrite widen path (a
      // widen is a full table rewrite over the wire; five of them
      // would be bench-dominating AND unfaithful to the reference's
      // one-risky-ALTER shape). Staged separately: four metadata-only
      // ADD COLUMNs, then the one real widen.
      val widenType = hdr.getString(1)
      // batch 1: props {"k": <long>}; batch 2a: k + new key v (types
      // that never widen); batch 2b: widened k + v (the one type)
      val b1 = ev.filter(col("event_id") <= half)
        .select(to_json(struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"),
          to_json(struct(col("k"))).as("props"))).as("value"))
      val rest = ev.filter(col("event_id") > half)
      val b2a = rest.filter(col("event_type") =!= widenType)
        .select(to_json(struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"),
          to_json(struct(col("k"),
            (col("event_id") % 7).as("v"))).as("props"))).as("value"))
      val b2b = rest.filter(col("event_type") === widenType)
        .select(to_json(struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"),
          to_json(struct(concat(lit("s"), col("k")).as("k"),
            (col("event_id") % 7).as("v"))).as("props"))).as("value"))
      val tmp = scratch("graft_a17")
      val pubSchema = StructType(Seq(StructField("value", StringType)))
      // stage all three producer inputs UPFRONT and overlapped (guide
      // §2.6): the staged frames depend only on the static slice, not
      // on any drain, so the three serial scan+write jobs the r13
      // event-log probe measured between the drains collapse to one
      // parallel wave before the loop starts
      stageSliceFiles(s, s"$tmp/in", Seq(b1, b2a, b2b))
      // producer seat: ONE always-on DSv2 write-sink stream (the
      // epoch-idempotent PUBBATCH producer) watches a drop dir and
      // publishes each staged batch as its file is moved in — the r12
      // verdict's "combine per-query multi-stream setups": the three
      // per-stage AvailableNow publish queries each paid a full
      // streaming-query lifecycle (~0.45 s of start/stop machinery
      // around a 0.05 s publish job, r13 event-log probe). Stage
      // completion is confirmed against the BROKER's own end offsets
      // (the row counts come from the staged files' parquet footers —
      // driver-side metadata, no job), so each drain still starts only
      // after its stage is fully on the log, exactly as before.
      val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(s"$tmp/pub_in"))
      val pubQ = s.readStream.schema(pubSchema).parquet(s"$tmp/pub_in")
        .writeStream.format("graft-queue")
        .option("host", broker.host)
        .option("port", broker.port.toString)
        .option("checkpointLocation", s"$tmp/pub_ck")
        .trigger(Trigger.ProcessingTime(0)).start()
      var publishedRows = 0L
      // moves staged batch i (b1, b2a, b2b) into the producer's drop dir
      def publish(i: Int): Unit = {
        val slice = new Path(f"$tmp/in/slice-$i%05d.parquet")
        publishedRows += org.apache.parquet.hadoop.ParquetFileReader
          .readFooter(s.sparkContext.hadoopConfiguration, slice)
          .getBlocks.asScala.map(_.getRowCount).sum
        if (!fs.rename(slice, new Path(s"$tmp/pub_in", slice.getName)))
          throw new java.io.IOException(s"a17: stage move failed for $slice")
        val c = new graft.sources.QueueBroker.Client(broker.host, broker.port)
        try {
          val parts = c.numPartitions
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (c.endOffsets(parts).sum < publishedRows) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"a17: publish of $slice not on the broker log after 120 s")
            Thread.sleep(5)
          }
        } finally c.close()
      }
      val cfg = EventPipeline.Config(
        inputDir = "", outputDir = s"$tmp/out", checkpointDir = s"$tmp/ck")
      def drainToWarehouse(): Unit =
        EventPipeline.startEvolvingJdbc(s, EventPipeline.FrameEventSource(
          EventPipeline.brokerEvents(s, broker.host, broker.port)), cfg, url)
          .awaitTermination()
      publish(0); drainToWarehouse()
      // each drain is a checkpointed restart consuming ONLY new offsets
      publish(1); drainToWarehouse() // 4 metadata-only ADD COLUMNs
      publish(2); drainToWarehouse() // the ONE staged-rewrite widen
      pubQ.stop() // the producer's seat closes with the show
      // read back over JDBC; per-type tables align to the merged shape
      // (a type all of whose rows landed in batch 1 never widened k,
      // and never gained v — cast/backfill at read, like mergeSchema);
      // staged to parquet BEFORE the warehouse closes (the a15b/a16
      // pattern — the returned frame must not depend on live servers)
      val types = hdr.getSeq[String](2) // bounded by table count
      val back = types.toSeq.sorted.map { t =>
        var tb = graft.sources.JdbcEventSink.readTable(s, url,
          graft.sources.JdbcEventSink.tableName(t))
        if (!tb.columns.contains("k")) tb = tb.withColumn("k", lit(null))
        if (!tb.columns.contains("v")) tb = tb.withColumn("v", lit(null))
        tb.select(col("event_id"), lit(t).as("event_type"), col("user_id"),
          col("value"), col("k").cast("string").as("k"),
          col("v").cast("long").as("v"))
      }.reduce(_.unionAll(_))
      back.write.mode("overwrite").parquet(s"$tmp/back")
      s.read.parquet(s"$tmp/back").orderBy(col("event_id"))
    } finally { broker.close(); wh.close() }
  }

  /** A18 promotion: the reference's RETRY LOOP as a driver-checked row
    * (main.ts:388-409 re-enqueue + 463-514 never-lose-a-row). A
    * deterministic 1-in-31 event slice — with every third row
    * POISONED (event_type nulled) — is published onto a live broker
    * by the executor-parallel [[graft.sources.QueuePublisher]], routed
    * by the streaming pipeline with rows dead-lettering instead of
    * dropping, repaired (type defaulted to 'recovered'), RE-ENQUEUED
    * over the socket as retry jobs (one idempotent PUBBATCH per task
    * on the wire), and drained by a
    * checkpointed rerun that must consume only the re-enqueued
    * offsets. The oracle checks every slice row arrived exactly once,
    * under its original type or 'recovered' — a lost, duplicated, or
    * double-recovered row breaks the hash. */
  private def a18RetryRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val broker = new graft.sources.QueueBroker(numPartitions = 2)
    try {
      val tmp = scratch("graft_a18")
      val cfg = EventPipeline.Config(
        inputDir = "", outputDir = s"$tmp/out", checkpointDir = s"$tmp/ck",
        dlqDir = Some(s"$tmp/dlq"))
      val slice = Tables(s, dir, "events").filter(col("event_id") % 31 === 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          when(col("event_id") % 3 === 0, lit(null).cast("string"))
            .otherwise(col("event_type")).as("event_type"),
          col("value"), lit("{}").as("props"))
      val published = graft.sources.QueuePublisher.publish(
        slice.select(to_json(struct(col("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")))
          .as("payload"), col("event_id")),
        broker.host, broker.port, col("payload"), col("event_id"))
      require(published > 0,
        s"a18_retry_roundtrip: no events with event_id % 31 == 0 under $dir")
      def run(): Unit = EventPipeline.start(s, EventPipeline.FrameEventSource(
        EventPipeline.brokerEvents(s, broker.host, broker.port)), cfg,
        availableNow = true).awaitTermination()
      run()
      // repair the dead letters and re-enqueue over the wire (the
      // reference's single-row retry jobs); a poison-free slice has no
      // DLQ directory and nothing to replay
      val dlq = try Some(s.read.parquet(cfg.dlqDir.get))
                catch { case _: Exception => None }
      dlq.foreach { d =>
        val repaired = d.select(to_json(struct(col("event_id"), col("ts"),
          col("user_id"), lit("recovered").as("event_type"), col("value"),
          col("props"))).as("payload"), col("event_id"))
        graft.sources.QueuePublisher.publish(repaired,
          broker.host, broker.port, col("payload"), col("event_id"))
        run() // same checkpoint: drains ONLY the re-enqueued offsets
      }
      s.read.parquet(cfg.outputDir)
        .select(col("event_id"),
          col("event_type").cast("string").as("event_type"),
          col("user_id"), col("value"))
        .orderBy(col("event_id"))
    } finally broker.close()
  }

  // ---------------------------------------------------------------
  // B. Analytics over the ingested tables
  // ---------------------------------------------------------------

  /** B1: grouped aggregation with decimal-exact sums (TPC-H Q1 shape). */
  private def b1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Fns.sumExact(col("l_quantity")).as("sum_qty"),
        Fns.sumExact(col("l_extendedprice")).as("sum_base_price"),
        Fns.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** B8: per-type daily rollup — the canonical MergeTree query the
    * reference's tables exist to serve. Collapse-first: aggregate to
    * (type, date, user) once, then roll that small table up — the
    * mixed countDistinct+sum form would plan an Expand that doubles
    * every event row through the shuffle; here events cross one
    * exchange once, partially combined map-side, and the distinct
    * count is a plain count over the collapsed table (b80/b92's
    * shape). */
  private def b8DailyRollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        Fns.floorDivLong(col("ts"), 86400L * 1000000000L).as("__day"),
        col("user_id"))
      .agg(count(lit(1)).as("__n"),
        sum(col("value").cast("decimal(18,2)")).as("__sv"))
      .groupBy(col("event_type"), col("__day"))
      .agg(sum(col("__n")).as("n_events"),
        sum(col("__sv")).cast("double").as("sum_value"),
        count(lit(1)).as("n_users"))
      .select(col("event_type"),
        // format the 150-row rollup, not the raw events (UTC session
        // tz: epoch-day ≡ the date_format of the nanos timestamp)
        date_format(timestamp_seconds(col("__day") * 86400L), "yyyy-MM-dd")
          .as("event_date"),
        col("n_events"), col("sum_value"), col("n_users"))
      .orderBy(col("event_type"), col("event_date"))

  /** B33 promotion: the streaming SummingMergeTree view as a DRIVER
    * row. Events split into 3 id-striped files feed the rollup one
    * file per trigger — three micro-batches, each appending ONE
    * partial-state part per key — then the WHOLE stream replays with
    * a fresh checkpoint (every part written twice, the at-least-once
    * worst case). The read-side view (batch_id dedup → merge →
    * finalize) must still equal the direct groupBy over all events —
    * a failed dedup doubles every sum and breaks the hash. n_parts
    * pins multi-part maintenance (keys genuinely span parts, the
    * merge is real, not one part passing through). */
  private def b33StreamingRollup(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("graft_b33")
    val ev = Tables(s, dir, "events")
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0)
      .select(col("event_type"),
        Fns.floorDivLong(col("ts"), 86400L * 1000000000L).as("day"),
        col("value"), pmod(col("event_id"), lit(3)).as("part"))
    stageSliceFiles(s, s"$tmp/in", (0 until 3).map { p =>
      ev.filter(col("part") === p).drop("part")
    })
    val schema = s.read.parquet(s"$tmp/in").schema
    def maintain(ck: String): Unit = graft.streaming.StreamingRollup.start(s,
      EventPipeline.FileEventSource(schema, s"$tmp/in"),
      s"$tmp/states", ck, keys = Seq("event_type", "day"),
      value = col("value")).awaitTermination()
    maintain(s"$tmp/ck1")
    maintain(s"$tmp/ck2") // full replay: duplicate parts for every batch
    val keys = Seq("event_type", "day")
    val parts = s.read.parquet(s"$tmp/states")
      .dropDuplicates(keys :+ "batch_id")
      .groupBy(keys.map(col): _*)
      .agg(countDistinct(col("batch_id")).as("n_parts"))
    graft.streaming.StreamingRollup.readFinal(s, s"$tmp/states", keys)
      .join(parts, keys)
      .select(col("event_type"), col("day"), col("n_rows"),
        col("sum_value"), col("n_parts"))
      .orderBy(col("event_type"), col("day"))
  }

  /** B23 promotion (the sessions leg — the hardest semantics of the
    * streaming-analytics row): native `session_window` sessionization
    * RUN AS A STREAM (two time-ordered micro-batches, so sessions
    * straddling the file boundary must merge through state), checked
    * against a gaps-and-islands oracle: a new session starts strictly
    * past the 30-minute gap, an event exactly AT the gap boundary
    * merges (Spark coalesces touching windows). */
  private def b23StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("graft_b23")
    val ev = Tables(s, dir, "events").filter(col("event_id") % 7 === 0)
      .select(col("ts"), col("user_id"), col("value"))
    val maxRow = ev.agg(max(col("ts"))).collect()(0)
    require(!maxRow.isNullAt(0),
      s"b23_stream_sessions: no events with event_id % 7 == 0 under $dir")
    val mid = maxRow.getLong(0) / 2
    // time-ordered halves: later files only carry later events, so the
    // watermark never discards a straggler the batch oracle would keep
    // (stageSliceFiles pins that order via ascending modification times)
    stageSliceFiles(s, s"$tmp/in",
      Seq(ev.filter(col("ts") <= mid), ev.filter(col("ts") > mid)))
    val stream = EventPipeline.FileEventSource(
      s.read.parquet(s"$tmp/in").schema, s"$tmp/in").load(s)
    Scaffold.foreachBatch(graft.streaming.StreamingAnalytics.sessionWindowRollup(stream),
        s"$tmp/ck", outputMode = "complete") { (b, _) =>
      b.write.mode("overwrite").parquet(s"$tmp/out")
    }.awaitTermination()
    s.read.parquet(s"$tmp/out")
      .select(col("user_id"), col("session_start_s"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_start_s"))
  }

  // ---------------------------------------------------------------

  /** Every query with its oracle: SparkEntry's own entries, then each
    * family's. */
  lazy val registry: Seq[Q] = Q.distinctNames(Seq(own,
    AnalyticsQueries.registry, AnalyticsQueries2.registry,
    AnalyticsQueries3.registry, AnalyticsQueries4.registry,
    AnalyticsQueries5.registry, AnalyticsQueries6.registry,
    AnalyticsQueries7.registry, AnalyticsQueries8.registry,
    TrainingQueries.registry, TrainingQueries2.registry,
    TrainingQueries3.registry, TrainingQueries4.registry,
    TrainingQueries5.registry, TrainingQueries6.registry,
    TrainingQueries7.registry, TrainingQueries8.registry).flatten)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The query filter for local iteration: `SPARK_GRAFT_ONLY`, comma-
    * separated registry names (`c13_sample,c2_dedup_minhash`); unset
    * runs every query. An empty or unknown name fails startup, naming
    * it, so a typo cannot quietly run fewer queries. */
  def only(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Option[Set[String]] = spec.map { s =>
    val names = s.split(",", -1).map(_.trim).toSeq
    val bad = names.filterNot(queries.contains)
    require(bad.isEmpty, "SPARK_GRAFT_ONLY: unknown query name(s) " +
      bad.map(n => s"'$n'").mkString(", "))
    names.toSet
  }

  private def own: Seq[Q] = Seq(
    Q("a1_ingest", a1Ingest,
      """SELECT event_id, event_type, user_id, value,
         strftime(ts, '%Y-%m-%d') AS event_date,
         try_cast(json_extract_string(props, '$.k') AS BIGINT) AS props_k
         FROM events
         WHERE event_type IS NOT NULL AND len(event_type) > 0
         ORDER BY event_id"""),
    Q("a2_route_counts", a2RouteCounts,
      """SELECT event_type,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         min(event_id) AS first_event_id,
         max(event_id) AS last_event_id
         FROM events
         WHERE event_type IS NOT NULL AND len(event_type) > 0
         GROUP BY event_type ORDER BY event_type"""),
    Q("a3_flatten_records", a3FlattenRecords,
      """SELECT event_id, event_type AS kind, props AS raw_props,
         user_id AS user_info_id, value AS user_info_score
         FROM events ORDER BY event_id"""),
    Q("a4_flatten_arrays", a4FlattenArrays,
      """SELECT event_id,
         event_type AS tags_0, CAST(event_id AS VARCHAR) AS tags_1,
         value AS vals_0, value * 2 AS vals_1
         FROM events ORDER BY event_id"""),
    Q("a5_infer_types", a5InferTypes, inferTypesOracle),
    Q("a6_schema_evolution", a6SchemaEvolution, schemaEvolutionOracle),
    Q("a16_broker_roundtrip", a16BrokerRoundtrip,
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS first_id, max(event_id) AS last_id
         FROM events
         WHERE event_id % 13 = 0 AND event_type IS NOT NULL
           AND len(event_type) > 0
         GROUP BY event_type ORDER BY event_type"""),
    // b33: the streaming summing view must equal the direct rollup —
    // through 3 parts per key AND a whole-stream replay (batch_id
    // dedup); n_parts pins real multi-part maintenance
    Q("b33_streaming_rollup", b33StreamingRollup,
      """SELECT event_type,
           epoch_ns(ts) // 86400000000000 AS day,
           count(*) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           count(DISTINCT event_id % 3) AS n_parts
         FROM events
         WHERE event_type IS NOT NULL AND len(event_type) > 0
         GROUP BY 1, 2 ORDER BY event_type, day"""),
    // b23: streaming session_window vs the gaps-and-islands fold —
    // new session strictly past the 30-min gap, boundary-touch merges
    Q("b23_stream_sessions", b23StreamSessions,
      """WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tsn, value
           FROM events WHERE event_id % 7 = 0),
         m AS (
           SELECT user_id, event_id, tsn, value,
             CASE WHEN tsn - lag(tsn) OVER
                 (PARTITION BY user_id ORDER BY tsn, event_id)
               > 1800000000000 THEN 1 ELSE 0 END AS brk
           FROM ev),
         s AS (
           SELECT user_id, tsn, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY tsn, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(tsn) // 1000000000 AS session_start_s,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start_s"""),
    // a17: the whole warehouse loop — broker write-sink + DSv2 read +
    // flatten + JDBC evolve (CREATE / ADD COLUMN / widen) — replayed
    // on a 1-in-11 slice; the oracle is the slice's expected final
    // warehouse contents
    Q("a17_warehouse_roundtrip", a17WarehouseRoundtrip,
      """WITH ev AS (
           SELECT event_id, user_id, event_type, value,
             try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events
           WHERE event_id % 11 = 0 AND event_type IS NOT NULL
             AND len(event_type) > 0),
         h AS (SELECT max(event_id) // 2 AS half,
                      min(event_type) AS widen_type FROM ev)
         SELECT event_id, event_type, user_id, value,
           CASE WHEN k IS NULL THEN NULL
                WHEN event_id > (SELECT half FROM h)
                  AND event_type = (SELECT widen_type FROM h)
                  THEN 's' || CAST(k AS VARCHAR)
                ELSE CAST(k AS VARCHAR) END AS k,
           CASE WHEN event_id > (SELECT half FROM h)
             THEN event_id % 7 END AS v
         FROM ev ORDER BY event_id"""),
    // a18: the retry loop — every slice row arrives exactly once,
    // poisoned rows (and natively type-less ones) under 'recovered'
    Q("a18_retry_roundtrip", a18RetryRoundtrip,
      """SELECT event_id,
           CASE WHEN event_id % 3 = 0 OR event_type IS NULL
                  OR len(event_type) = 0
             THEN 'recovered' ELSE event_type END AS event_type,
           user_id, value
         FROM events WHERE event_id % 31 = 0
         ORDER BY event_id"""),
    Q("a15_jdbc_evolve", a15JdbcEvolve,
      """WITH ev AS (
           SELECT event_id, value,
             try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events WHERE event_id % 17 = 0),
         h AS (SELECT max(event_id) // 2 AS half FROM ev)
         SELECT event_id, k,
           CASE WHEN event_id <= (SELECT half FROM h)
             THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
             ELSE 'usd_' || CAST(round(value * 100) AS BIGINT) END
             AS amount_cents,
           CASE WHEN event_id <= (SELECT half FROM h) THEN NULL
             ELSE CAST(value > 100 AS VARCHAR) END AS new_flag
         FROM ev ORDER BY event_id"""),
    // a15b: identical evolve semantics over the wire (1-in-19 slice)
    Q("a15b_jdbc_evolve_net", a15bJdbcEvolveNet,
      """WITH ev AS (
           SELECT event_id, value,
             try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events WHERE event_id % 19 = 0),
         h AS (SELECT max(event_id) // 2 AS half FROM ev)
         SELECT event_id, k,
           CASE WHEN event_id <= (SELECT half FROM h)
             THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
             ELSE 'usd_' || CAST(round(value * 100) AS BIGINT) END
             AS amount_cents,
           CASE WHEN event_id <= (SELECT half FROM h) THEN NULL
             ELSE CAST(value > 100 AS VARCHAR) END AS new_flag
         FROM ev ORDER BY event_id"""),
    Q("a7_metadata_cols", a7Metadata,
      """SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS received_at_s,
         '2026-01-01 00:00:00' AS sent_at_s,
         md5(concat(event_type, '#', CAST(event_id AS VARCHAR))) AS message_id
         FROM events ORDER BY event_id"""),
    Q("a8_transform_hook", a8TransformHook,
      """SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS received_at,
         CAST(floor(epoch(ts)) AS BIGINT) AS transform_ts
         FROM events ORDER BY event_id"""),
    Q("a9_bulk_sink", a9BulkBatches,
      """WITH numbered AS (
           SELECT event_type, event_id,
             (row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1) // 500
               AS batch_id
           FROM events)
         SELECT event_type, batch_id, count(*) AS n_rows,
           min(event_id) AS first_event_id, max(event_id) AS last_event_id
         FROM numbered GROUP BY event_type, batch_id
         ORDER BY event_type, batch_id"""),
    Q("a10_dlq_retry", a10Dlq,
      """SELECT event_type, count(*) AS n_valid, 0 AS n_dlq
         FROM events
         WHERE event_type IS NOT NULL AND len(event_type) > 0
         GROUP BY event_type ORDER BY event_type"""),
    Q("a13_legacy_normalize", a13LegacyNormalize,
      """SELECT event_id,
           CASE WHEN event_id % 13 = 0
             THEN (epoch_us(ts) // 1000000) * 1000000
             ELSE epoch_us(ts) END AS ts_us,
           CASE WHEN event_id % 13 = 0
             THEN (epoch_us(ts) // 1000000) * 1000000
             ELSE epoch_us(ts) END AS received_at_us,
           CAST(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_from_legacy
         FROM events ORDER BY event_id"""),
    Q("a14_compaction_e2e", a14CompactionE2e,
      """SELECT event_type, count(*) AS n_rows,
           count(DISTINCT event_id) AS n_event_ids,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(1 AS INT) AS files_reduced
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("a19_stream_compact", a19StreamCompact,
      """SELECT event_type, count(*) AS n_rows,
           count(DISTINCT event_id) AS n_event_ids,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(2 AS BIGINT) AS n_merges,
           CAST(1 AS INT) AS files_reduced
         FROM events
         WHERE event_id % 19 = 0
           AND event_type IS NOT NULL AND len(event_type) > 0
         GROUP BY event_type ORDER BY event_type"""),
    Q("a12_dlq_replay", a12DlqReplay,
      """WITH ev AS (
           SELECT event_id,
             CASE WHEN event_id % 17 = 0 THEN '' ELSE event_type END AS event_type,
             CASE WHEN event_id % 23 = 0 THEN '{broken ' || props ELSE props END AS props
           FROM events),
         d AS (
           SELECT event_id, event_type,
             CASE WHEN event_type IS NULL OR len(event_type) = 0
                    THEN 'missing_event_type'
                  WHEN props IS NOT NULL AND NOT json_valid(props)
                    THEN 'malformed_body' END AS dlq_reason
           FROM ev),
         dlq AS (SELECT * FROM d WHERE dlq_reason IS NOT NULL),
         r AS (
           SELECT *, CASE WHEN dlq_reason = 'malformed_body'
             THEN event_id % 3 + 2 END AS rec_at
           FROM dlq),
         e AS (
           SELECT *, CAST(CASE WHEN rec_at IS NOT NULL AND rec_at <= 5
             THEN rec_at ELSE 5 END AS BIGINT) AS eff
           FROM r),
         x AS (SELECT *, unnest(generate_series(1, eff)) AS attempt FROM e)
         SELECT event_id, dlq_reason, CAST(attempt AS BIGINT) AS attempt,
           CAST(1 << (attempt - 1) AS BIGINT) AS backoff_s,
           CASE WHEN attempt < eff THEN 'retried'
                WHEN rec_at IS NOT NULL AND rec_at <= 5 THEN 'recovered'
                WHEN coalesce(event_type, '') = '' THEN 'dropped_non_critical'
                ELSE 'parked' END AS disposition
         FROM x ORDER BY event_id, attempt"""),
    Q("a11_pipeline_e2e", a11PipelineE2e,
      """SELECT event_type, count(*) AS n_rows,
         count(DISTINCT md5(concat(event_type, '#', CAST(event_id AS VARCHAR)))) AS n_message_ids
         FROM events
         WHERE event_type IS NOT NULL AND len(event_type) > 0
         GROUP BY event_type ORDER BY event_type"""),
    Q("b1_pricing_summary", b1Pricing,
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Q("b8_daily_rollup", b8DailyRollup,
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
         ORDER BY event_type, event_date""")
  )

  /** DuckDB mirror of ChTypes.inferFromStrings over the same 5 keys. */
  private def inferTypesOracle: String = {
    val kv =
      """SELECT 'props_k' AS key, json_extract_string(props, '$.k') AS value FROM events
         UNION ALL SELECT 'value', CAST(value AS VARCHAR) FROM events
         UNION ALL SELECT 'event_type', event_type FROM events
         UNION ALL SELECT 'event_date', strftime(ts, '%Y-%m-%d') FROM events
         UNION ALL SELECT 'is_even_user', CAST(user_id % 2 = 0 AS VARCHAR) FROM events"""
    s"""WITH kv AS ($kv)
        SELECT key AS column_name, $chCaseSql AS ch_type
        FROM kv WHERE value IS NOT NULL
        GROUP BY key ORDER BY column_name"""
  }

  /** The shared inference CASE over regex votes (DuckDB side — must
    * stay in lockstep with EventFlattener.DateRe). */
  private def chCaseSql: String = {
    val d = "^\\d{4}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}(:\\d{2}(\\.\\d{1,6})?)?(Z|[+-]\\d{2}:\\d{2})?)?$|^\\d{2}/\\d{2}/\\d{4}$"
    val i = "^-?\\d{1,18}$"
    val f = "^-?\\d+\\.\\d+([eE][-+]?\\d+)?$|^-?\\d+[eE][-+]?\\d+$"
    s"""CASE WHEN bool_and(regexp_matches(value, '$d')) THEN 'DateTime64(6)'
        WHEN bool_and(regexp_matches(value, '^(true|false)$$')) THEN 'UInt8'
        WHEN bool_and(regexp_matches(value, '$i')) THEN 'Int64'
        WHEN bool_and(regexp_matches(value, '$i') OR regexp_matches(value, '$f')) THEN 'Float64'
        ELSE 'String' END"""
  }

  private def schemaEvolutionOracle: String =
    s"""WITH half AS (SELECT max(event_id) // 2 AS h FROM events),
        b1 AS (
          SELECT 'k' AS key, json_extract_string(props, '$$.k') AS value
          FROM events WHERE event_id <= (SELECT h FROM half)
          UNION ALL
          SELECT 'amount', CAST(value AS VARCHAR)
          FROM events WHERE event_id <= (SELECT h FROM half)),
        b2 AS (
          SELECT 'k' AS key, json_extract_string(props, '$$.k') AS value
          FROM events WHERE event_id > (SELECT h FROM half)
          UNION ALL
          SELECT 'amount', concat('usd_', CAST(value AS VARCHAR))
          FROM events WHERE event_id > (SELECT h FROM half)
          UNION ALL
          SELECT 'new_flag', CAST(value > 100 AS VARCHAR)
          FROM events WHERE event_id > (SELECT h FROM half)),
        s1 AS (SELECT key AS column_name, $chCaseSql AS ch_type
               FROM b1 WHERE value IS NOT NULL GROUP BY key),
        s2 AS (SELECT key AS column_name, $chCaseSql AS ch_type
               FROM b2 WHERE value IS NOT NULL GROUP BY key)
        SELECT coalesce(s1.column_name, s2.column_name) AS column_name,
          CASE WHEN s1.ch_type IS NULL THEN s2.ch_type
               WHEN s2.ch_type = 'String'
                 AND s1.ch_type IN ('Int64','Float64','UInt8') THEN 'String'
               ELSE s1.ch_type END AS ch_type
        FROM s1 FULL OUTER JOIN s2 ON s1.column_name = s2.column_name
        ORDER BY column_name"""
}
