package graft.operators

import java.io.IOException

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonToken, StreamReadConstraints,
  StreamReadFeature}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-type routing: the reference keeps one `Bulker` (≙ one
  * destination ClickHouse table) per `event_type` and drains each via
  * bounded bulk INSERTs (reference: src/main.ts:256,366-373 +
  * src/bulker.class.ts).
  *
  * Spark-first shape: routing is **one hash shuffle on the routing key
  * + one partitioned write** (`partitionBy("event_type")`), not N
  * sequential filtered jobs — table count doesn't multiply passes over
  * the data, which is what survives a 100 TB day. Sort-within-
  * partitions on the time column reproduces MergeTree's
  * `ORDER BY sent_at` clustering for the downstream scans.
  */
object EventRouter {

  val RouteCol = "event_type"

  /** Per-destination-table counts — the router's bookkeeping view. */
  def routeCounts(events: DataFrame): DataFrame =
    events
      .filter(col(RouteCol).isNotNull && length(col(RouteCol)) > 0)
      .groupBy(col(RouteCol))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"))

  /** Micro-batch ids within each route: consecutive chunks of
    * `perBatch` rows in (ts, event_id) order — the deterministic
    * analogue of the bulker's TAKE_UP_TO_PER_BATCH draining.
    *
    * NOT `row_number over (partition by route order by ts)`: that
    * window puts a route's ENTIRE history into one sort task, so
    * parallelism is capped at \|routes\| (~tens) however large the
    * cluster — the r9 sf100 probe measured the resulting 13×/decade
    * wall-clock growth, and at 100 TB one task would sort one type's
    * full history. The scalable shape is the classic two-pass global
    * rank: range-partition on (route, orderCols) — a route spans a
    * CONTIGUOUS ascending run of partitions, and (ts, event_id) is a
    * strict total order, so ranks are invariant to where the sampled
    * range boundaries land — rank within each partition, then add
    * per-(partition, route) prefix offsets. The offsets table is
    * P×\|routes\| rows (never data-sized), its prefix sum is a window
    * over THAT table, and the join back lets the planner pick its
    * shape: under the broadcast threshold it's a broadcast hash join;
    * past it, sort-merge on (__pid, route) reuses the window's own
    * partitioning AND sort prefix, so still no extra data-sized
    * exchange. Null routes are a legal group and must not be silently
    * inner-joined away, but `<=>` join keys measured 1.7× slower than
    * plain equi keys at sf100 (52 vs 30 s — the coalesce/isnull key
    * triple defeats the BHJ fast path), so the group key is an
    * injective NON-NULL encoding instead: "0" for null, "1"+route
    * otherwise — order-preserving, so the contiguous-run invariant
    * survives, and the join stays a plain equi-join.
    *
    * __pid is NOT spark_partition_id() over a repartitionByRange: the
    * offsets aggregate and the local-rank branch are two consumers, and
    * RangePartitioner seeds its reservoir sampling with the exchange's
    * rdd.id — two physically distinct exchanges (exchange reuse off, or
    * a canonicalization miss) would sample different boundaries and the
    * equi-join back would silently mis-assign batch ids. Instead the
    * bucket boundaries are sampled ONCE, collected, and baked into the
    * plan as struct literals, so __pid is a pure function of row data:
    * every consumer computes identical buckets under any exchange
    * config, cache state, or task recompute — no persist of the
    * data-sized frame needed. Boundary placement only affects balance,
    * never values: the offsets correction makes the global rank
    * invariant to where buckets land. Requires orderCols non-null
    * (already assumed: (ts, event_id) is a strict total order). Bonus:
    * only ONE data-sized shuffle remains (the window's hash exchange);
    * the offsets branch partial-aggregates on the scan. */
  def withBatchId(events: DataFrame, perBatch: Int,
                  orderCols: Seq[Column]): DataFrame = {
    val p = events.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val rk = when(col(RouteCol).isNull, lit("0"))
      .otherwise(concat(lit("1"), col(RouteCol)))
    // bounded boundary sample: ~200 keys per target bucket, one tiny
    // collect (p*240 rows max); count() is a metadata op on raw scans
    val keyProj = events.select((rk.as("__rk") +: orderCols.zipWithIndex
      .map { case (c, i) => c.as(s"__k$i") }): _*)
    val n = keyProj.count()
    val target = p.toLong * 200L
    val sampled =
      if (n <= target) keyProj
      else keyProj.sample(withReplacement = false,
        fraction = math.min(1.0, target.toDouble * 1.2 / n), seed = 42L)
    val fields = keyProj.schema.fields
    val sv = sampled.orderBy(fields.map(f => col(f.name)): _*).collect()
    val step = math.max(1, sv.length / p)
    val bRows = (step until sv.length by step).map(sv(_)).distinct.take(p - 1)
    val key = struct((rk +: orderCols).zipWithIndex
      .map { case (c, i) => c.as(s"b$i") }: _*)
    def boundLit(r: org.apache.spark.sql.Row): Column =
      struct(r.toSeq.zipWithIndex.map { case (v, i) =>
        lit(v).cast(fields(i).dataType).as(s"b$i") }: _*)
    val pid = bRows.foldLeft(lit(0)) { (acc, b) =>
      acc + when(key >= boundLit(b), 1).otherwise(0) }
    val keyed = events.withColumn("__rk", rk).withColumn("__pid", pid)
    val offsets = keyed.groupBy(col("__pid"), col("__rk"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.partitionBy(col("__rk")).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__rk"), col("__offset"))
    val wLocal =
      Window.partitionBy(col("__pid"), col("__rk")).orderBy(orderCols: _*)
    keyed.withColumn("__lrn", row_number().over(wLocal))
      .join(offsets, Seq("__pid", "__rk"))
      // integer div: exact at any scale (no 2^53 double-floor caveat)
      .withColumn("batch_id", expr(s"(__offset + __lrn - 1) div $perBatch"))
      .drop("__pid", "__rk", "__lrn", "__offset")
  }

  /** Route + write: one shuffle on event_type (+ low-cardinality salt
    * so one hot event type still fans across the cluster), sorted
    * within partitions on the time column (MergeTree ORDER BY). */
  def writeRouted(df: DataFrame, baseDir: String, sortCol: String,
                  saltBuckets: Int = 1): Unit =
    routedFrame(df, sortCol, saltBuckets)
      .write.mode("overwrite")
      .partitionBy(RouteCol)
      .parquet(baseDir)

  /** The routed frame writeRouted writes — exposed so plan guards can
    * pin the shape: ONE exchange on (event_type [, salt]), data sorted
    * within partitions on the time column. The salt is
    * xxhash64(sortCol) mod buckets — structured time columns (fixed
    * prefixes, trailing zeros) defeat weaker mixers: crc32-of-string
    * measurably collided sequential-nanos timestamps into half the
    * buckets, and a salt that doesn't spread IS the skew it exists to
    * fix. */
  private[graft] def routedFrame(df: DataFrame, sortCol: String,
                                 saltBuckets: Int): DataFrame = {
    val routed =
      if (saltBuckets <= 1) df.repartition(col(RouteCol))
      else df.repartition(col(RouteCol), pmod(xxhash64(col(sortCol)), lit(saltBuckets.toLong)))
    routed.sortWithinPartitions(col(RouteCol), col(sortCol))
  }

  /** Read one routed table back (partition pruning applies). */
  def readRoute(spark: SparkSession, baseDir: String, eventType: String): DataFrame =
    spark.read.parquet(baseDir).filter(col(RouteCol) === eventType)

  /** Retry disposition (reference: src/main.ts:296): every failed row
    * retries once; on a second failure, rows of NON_CRITICAL_EVENT_TYPES
    * are dropped (acked away), critical types keep retrying. Returns
    * (retry, dropped). */
  def retryDisposition(failed: DataFrame, attemptCol: String,
                       nonCritical: Seq[String]): (DataFrame, DataFrame) = {
    val drop =
      if (nonCritical.isEmpty) lit(false)
      else col(attemptCol) > 1 && col(RouteCol).isin(nonCritical: _*)
    (failed.filter(!drop), failed.filter(drop))
  }

  /** DLQ replay with bounded attempts + exponential backoff
    * (reference: src/main.ts:502-507 — failed rows re-enqueue as
    * single-retry jobs with `backoff: {type: 'exponential'}` and
    * `attempts: 5`; after the retry budget, NON_CRITICAL_EVENT_TYPES
    * rows are dropped, critical rows stay parked for operator action).
    *
    * Batch re-expression: the replay SCHEDULE is data — one row per
    * (dlq row, attempt) with the backoff delay and the disposition the
    * reference's queue would reach. `recoverAttempt` is the attempt at
    * which the row's failure cause goes away (null = never): transient
    * faults model as a recovery attempt, permanent faults exhaust the
    * budget. Pure projection + bounded generator (≤ maxAttempts rows
    * per input row, no shuffle) — replay state never leaves the row,
    * so the operator scales like a map at any DLQ size.
    *
    * Emitted columns: attempt (1-based), backoff_s (base·2^(attempt-1),
    * the reference's exponential policy), disposition ∈
    * 'retried' | 'recovered' | 'dropped_non_critical' | 'parked'. */
  def replayDlq(dlq: DataFrame, recoverAttempt: Column, maxAttempts: Int,
                baseDelaySec: Long, nonCritical: Seq[String]): DataFrame = {
    val eff = when(recoverAttempt.isNotNull && recoverAttempt <= maxAttempts,
      recoverAttempt).otherwise(lit(maxAttempts)).cast("int")
    val isNonCritical =
      if (nonCritical.isEmpty) lit(false)
      else coalesce(col(RouteCol), lit("")).isin(nonCritical.map(x => x: Any): _*)
    dlq
      .withColumn("recover_attempt", recoverAttempt.cast("int"))
      .withColumn("attempt", explode(sequence(lit(1), eff)))
      .withColumn("backoff_s",
        (lit(baseDelaySec) * expr("shiftleft(1L, attempt - 1)")).cast("long"))
      .withColumn("disposition",
        when(col("attempt") <
          when(col("recover_attempt").isNotNull &&
            col("recover_attempt") <= maxAttempts, col("recover_attempt"))
            .otherwise(lit(maxAttempts)), lit("retried"))
          .when(col("recover_attempt").isNotNull &&
            col("recover_attempt") <= maxAttempts, lit("recovered"))
          .when(isNonCritical, lit("dropped_non_critical"))
          .otherwise(lit("parked")))
      .drop("recover_attempt")
  }

  /** Legacy-queue migration shim (reference: src/main.ts:422-460,
    * `RE_ENQUEUE_OLD_BULL_EVENTS` — jobs from the pre-migration queue
    * carry SECOND-precision timestamps, detected by digit length ≤ 10
    * while ms stamps have ≥ 13; they re-enqueue tagged
    * `__is_from_old_queue` with `__received_at` backfilled on first
    * touch). Spark-first: one projection — detect, upscale to the
    * pipeline's nanosecond domain, tag provenance, backfill. No
    * shuffle; modern rows pass through byte-unchanged. (The nanos
    * domain itself caps at 2262-04-11; second stamps beyond ~2.9e9
    * can't be represented in it, same as everywhere else in the
    * pipeline.) */
  def normalizeLegacy(events: DataFrame, tsCol: String,
                      receivedAtCol: Option[String] = None): DataFrame = {
    val legacy = col(tsCol) > 0 && col(tsCol) <= 9999999999L // ≤ 10 digits
    val normTs = when(legacy, col(tsCol) * 1000000000L).otherwise(col(tsCol))
    val base = events
      .withColumn("is_from_legacy", legacy.cast("int"))
      .withColumn(tsCol, normTs)
    receivedAtCol match {
      case Some(r) =>
        base.withColumn(r, coalesce(col(r), normTs)) // first-touch backfill
      case None => base
    }
  }

  /** DLQ split (reference: src/main.ts:463-514 — failed batch rows
    * become single-retry jobs with attempt counters). Valid rows go to
    * the route; invalid rows go to the dead-letter frame with a reason
    * and `retry_attempt` 1, never lost: no routing key, or, when the
    * frame has `jsonCol`, a body that does not parse. */
  def splitDlq(events: DataFrame, jsonCol: String): (DataFrame, DataFrame) = {
    val bodyBad = if (events.columns.contains(jsonCol)) malformedBody(jsonCol) else lit(false)
    val invalidReason =
      when(col(RouteCol).isNull || length(col(RouteCol)) === 0, "missing_event_type")
        .when(bodyBad, "malformed_body")
    val tagged = events.withColumn("dlq_reason", invalidReason)
    (tagged.filter(col("dlq_reason").isNull).drop("dlq_reason"),
      tagged.filter(col("dlq_reason").isNotNull)
        .withColumn("retry_attempt", lit(1)))
  }

  /** True for a row whose present body is not one JSON object — the
    * `malformed_body` rule every pipeline entry point applies. One
    * strict Jackson pass per body: the root is an object, no key repeats
    * in any object (`from_json` would keep only its last value), nothing
    * but whitespace follows it, and none of Jackson's
    * leniencies is on (no NaN, single quotes, unquoted names, leading
    * zeros, trailing commas, comments or raw control characters). */
  private[graft] def malformedBody(jsonCol: String): Column =
    col(jsonCol).isNotNull && notOneObject(col(jsonCol))

  private lazy val strictJson = new JsonFactoryBuilder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    // as long a string as Spark's JSON reader takes
    .streamReadConstraints(StreamReadConstraints.builder().maxStringLength(Int.MaxValue).build())
    .build()

  /** The body is parsed as the UTF-8 text Spark's JSON readers see
    * (on raw bytes Jackson would guess UTF-16 or UTF-32 from a leading
    * NUL); any read error is a malformed body, never a failed task. */
  private val notOneObject = udf { (body: String) =>
    try {
      val p = strictJson.createParser(body)
      try p.nextToken() != JsonToken.START_OBJECT || { p.skipChildren(); p.nextToken() != null }
      finally p.close()
    } catch { case _: IOException => true }
  }
}
