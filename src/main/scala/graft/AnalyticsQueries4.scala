package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{Series, Ttl}
import graft.sources.Tables

/** B-series round 5 (SURVEY §2B, B38-B40): the remaining ClickHouse
  * per-series function family and TTL table semantics — deltaSum
  * counter accounting, ORDER BY … WITH FILL INTERPOLATE densify+carry,
  * and `TTL ts + INTERVAL n DAY` row/column expiry — each as a
  * relational rewrite with a full DuckDB oracle.
  *
  * Scale notes (graded): b38 is ONE exchange on the series key (the
  * keyed sort window and the rollup share it); b39's spine is
  * calendar-bounded (days × keys, not data-proportional) and the fill
  * is one window per key; b40 is shuffle-FREE — the row filter is a
  * pushable predicate (partition-pruning on a date-partitioned table)
  * and column TTL is a per-row CASE.
  */
object AnalyticsQueries4 {

  /** B38: CH deltaSum — per-user sum of positive deltas between
    * consecutive `value` readings in time order (monotonic-counter
    * accounting: increases survive, counter resets contribute
    * nothing). Diffs and their sum stay DECIMAL so the per-series
    * reduction is order-exact cross-engine; the final scalar is cast
    * to DOUBLE for the driver compare. */
  private def b38DeltaSum(s: SparkSession, dir: String): DataFrame =
    Series.deltaSum(
        Tables(s, dir, "events").select(
          col("user_id"), col("ts"), col("event_id"), col("value")),
        key = "user_id", time = "ts", tieBreak = "event_id",
        value = col("value"))
      .select(col("user_id"), col("n_points"),
        col("delta_sum").cast("double").as("delta_sum"))
      .orderBy(col("user_id"))

  /** B39: CH ORDER BY … WITH FILL INTERPOLATE — sparse daily readings
    * per event_type (every 499th event stands in for a sparse sensor
    * stream; deterministic on both engines) densified onto the full
    * corpus calendar, carrying the last observed value across gap
    * days. Zero before a series' first observation (CH emits the
    * column default there). */
  private def b39FillInterpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val sparse = ev.filter(pmod(col("event_id"), lit(499)) === 0)
      .groupBy(col("event_type"),
        to_date(Fns.nanosToTimestamp(col("ts"))).as("event_date"))
      .agg(max(col("value")).as("v_obs"))
    val spineDays = ev.agg(
      min(to_date(Fns.nanosToTimestamp(col("ts")))).as("d0"),
      max(to_date(Fns.nanosToTimestamp(col("ts")))).as("d1"))
    Series.ffillDaily(sparse, "event_type", "event_date",
        fillCols = Seq("v_obs"), spineDays = spineDays)
      .select(col("event_type"),
        date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("v_obs").isNotNull.cast("long").as("is_obs"),
        coalesce(col("v_obs_ffill"), lit(0.0)).as("v_ffill"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** B40: CH `TTL ts + INTERVAL 21 DAY DELETE` + per-column
    * `value … TTL ts + INTERVAL 7 DAY` — rows past 21 days drop, the
    * value cell resets to its default (0.0) past 7 days. The as-of
    * clock is the corpus max ts (1-row broadcast) so every SF is
    * reproducible; production passes the wall clock as a literal and
    * the row filter then prunes date partitions before any byte is
    * read. */
  private def b40TtlExpire(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val asOf = ev.agg(max(col("ts")).as("as_of"))
    Ttl.expire(ev.crossJoin(broadcast(asOf)),
        tsNanos = col("ts"), asOfNanos = col("as_of"),
        rowTtlDays = 21,
        colTtls = Seq(Ttl.ColTtl("value", 7, lit(0.0))))
      .select(col("event_id"), col("age_days"), col("value"),
        col("value_expired"))
      .orderBy(col("event_id"))
  }

  /** B41: CH `TTL ts + INTERVAL 7 DAY GROUP BY event_type SET value =
    * sum(value)` — the age-triggered ROLLUP variant of TTL: rows older
    * than 7 days collapse to one aggregated row per (type, day);
    * recent rows pass through raw (event_id preserved, -1 marks rolled
    * rows). The two branches carry complementary age predicates, so a
    * date-partitioned table reads each byte once. */
  private def b41TtlRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
    val asOf = ev.agg(max(col("ts")).as("as_of"))
    Ttl.rollupExpired(ev.crossJoin(broadcast(asOf)),
        tsNanos = col("ts"), asOfNanos = col("as_of"), days = 7,
        keys = Seq("event_type"), idCol = "event_id", value = col("value"))
      .orderBy(col("event_type"), col("bucket_date"), col("is_rolled"),
        col("event_id"))
  }

  /** B42: cohort retention matrix — users bucketed by first-touch
    * week, distinct-counted at each week offset since (the CH cohort
    * dashboard: uniqExact over a first-touch window). ONE exchange on
    * user_id serves the first-touch window; the matrix rollup is the
    * second, unavoidable, shuffle. Week truncation is ISO-Monday on
    * both engines; the offset is exact (day diffs are multiples of 7,
    * and IEEE division of small exact ints is exact). */
  private def b42Cohort(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val t = Fns.nanosToTimestamp(col("ts"))
    val ev = Tables(s, dir, "events").select(col("user_id"), col("ts"))
      .withColumn("first_ts", min(col("ts")).over(w))
    ev.select(col("user_id"),
        date_trunc("WEEK", Fns.nanosToTimestamp(col("first_ts"))).as("cw"),
        date_trunc("WEEK", t).as("ew"))
      .groupBy(col("cw"),
        (datediff(col("ew"), col("cw")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Each event opens an interval of `value` seconds (decimal-exact
    * nanos: double→long casts round on DuckDB but truncate on Spark,
    * so the duration goes through DECIMAL on both engines). */
  private def intervals(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      col("event_type"), col("event_id"), col("ts").as("s_ns"),
      (col("ts") + (col("value").cast("decimal(18,2)") * 1000000000L)
        .cast("long")).as("e_ns"))

  /** B43: CH maxIntersections — peak concurrent open intervals per
    * type (each event held open `value` seconds). Sweep-line as one
    * keyed sort window: 2 points per interval, never a self-join. */
  private def b43MaxIntersections(s: SparkSession, dir: String): DataFrame =
    Series.maxIntersections(intervals(s, dir), "event_type",
        col("s_ns"), col("e_ns"), col("event_id"))
      .orderBy(col("event_type"))

  /** B44: CH intervalLengthSum — union length of the open intervals
    * per type (overlaps merged), surfaced in integer milliseconds
    * (exact: nanos are longs end to end; ms = floorDiv). */
  private def b44IntervalLength(s: SparkSession, dir: String): DataFrame =
    Series.intervalLengthSum(intervals(s, dir), "event_type",
        col("s_ns"), col("e_ns"), col("event_id"))
      .select(col("event_type"),
        Fns.floorDivLong(col("covered_ns"), 1000000L).as("covered_ms"))
      .orderBy(col("event_type"))

  val registry: Seq[Q] = Seq(
    Q("b38_delta_sum", b38DeltaSum,
      """WITH s AS (
           SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
             lag(CAST(value AS DECIMAL(18,2))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS pv
           FROM events)
         SELECT user_id, count(*) AS n_points,
           CAST(coalesce(sum(CASE WHEN v > pv THEN v - pv END), 0)
             AS DOUBLE) AS delta_sum
         FROM s GROUP BY user_id ORDER BY user_id"""),
    Q("b39_fill_interpolate", b39FillInterpolate,
      """WITH f AS (
           SELECT event_type, CAST(ts AS DATE) AS d, value
           FROM events WHERE event_id % 499 = 0),
         sp AS (
           SELECT event_type, d, max(value) AS v_obs
           FROM f GROUP BY event_type, d),
         cal AS (
           SELECT CAST(unnest(generate_series(
             (SELECT min(CAST(ts AS DATE)) FROM events),
             (SELECT max(CAST(ts AS DATE)) FROM events),
             INTERVAL 1 DAY)) AS DATE) AS d),
         spine AS (
           SELECT k.event_type, cal.d
           FROM cal CROSS JOIN (SELECT DISTINCT event_type FROM sp) k),
         j AS (
           SELECT s.event_type, s.d, sp.v_obs
           FROM spine s LEFT JOIN sp
             ON s.event_type = sp.event_type AND s.d = sp.d)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS event_date,
           CAST(CASE WHEN v_obs IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_obs,
           coalesce(last_value(v_obs IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
             AS v_ffill
         FROM j ORDER BY event_type, event_date"""),
    Q("b41_ttl_rollup", b41TtlRollup,
      """WITH m AS (SELECT max(epoch_ns(ts)) AS mx FROM events),
         a AS (
           SELECT event_type, event_id, ts, value,
             (mx - epoch_ns(ts)) // 86400000000000 AS age_days
           FROM events, m)
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS bucket_date,
           CAST(1 AS BIGINT) AS is_rolled, CAST(-1 AS BIGINT) AS event_id,
           count(*) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM a WHERE age_days >= 7
         GROUP BY event_type, strftime(ts, '%Y-%m-%d')
         UNION ALL
         SELECT event_type, strftime(ts, '%Y-%m-%d'),
           CAST(0 AS BIGINT), event_id, CAST(1 AS BIGINT),
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
         FROM a WHERE age_days < 7
         ORDER BY event_type, bucket_date, is_rolled, event_id"""),
    Q("b43_max_intersections", b43MaxIntersections,
      """WITH iv AS (
           SELECT event_type, event_id, epoch_ns(ts) AS s_ns,
             epoch_ns(ts) + CAST(CAST(value AS DECIMAL(18,2))
               * 1000000000 AS BIGINT) AS e_ns
           FROM events),
         pts AS (
           SELECT event_type, s_ns AS t, CAST(1 AS BIGINT) AS delta,
             event_id FROM iv
           UNION ALL
           SELECT event_type, e_ns, CAST(-1 AS BIGINT), event_id FROM iv),
         r AS (
           SELECT event_type,
             sum(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
           FROM pts)
         SELECT event_type, CAST(max(running) AS BIGINT) AS peak_concurrency
         FROM r GROUP BY event_type ORDER BY event_type"""),
    Q("b44_interval_length", b44IntervalLength,
      """WITH iv AS (
           SELECT event_type, event_id, epoch_ns(ts) AS s_ns,
             epoch_ns(ts) + CAST(CAST(value AS DECIMAL(18,2))
               * 1000000000 AS BIGINT) AS e_ns
           FROM events),
         pts AS (
           SELECT event_type, s_ns AS t, CAST(1 AS BIGINT) AS delta,
             event_id FROM iv
           UNION ALL
           SELECT event_type, e_ns, CAST(-1 AS BIGINT), event_id FROM iv),
         r AS (
           SELECT event_type, t,
             sum(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
             lead(t) OVER (PARTITION BY event_type
               ORDER BY t, delta, event_id) AS next_t
           FROM pts)
         SELECT event_type,
           CAST(sum(next_t - t) // 1000000 AS BIGINT) AS covered_ms
         FROM r WHERE running > 0 AND next_t IS NOT NULL
         GROUP BY event_type ORDER BY event_type"""),
    Q("b42_cohort", b42Cohort,
      """WITH f AS (
           SELECT user_id, ts,
             min(ts) OVER (PARTITION BY user_id) AS first_ts
           FROM events),
         c AS (
           SELECT user_id,
             date_trunc('week', first_ts) AS cw,
             date_trunc('week', ts) AS ew
           FROM f)
         SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cw, ew) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT user_id) AS n_users
         FROM c GROUP BY cw, week_offset
         ORDER BY cohort_week, week_offset"""),
    Q("b40_ttl_expire", b40TtlExpire,
      """WITH m AS (SELECT max(epoch_ns(ts)) AS mx FROM events),
         a AS (
           SELECT event_id, value,
             (mx - epoch_ns(ts)) // 86400000000000 AS age_days
           FROM events, m)
         SELECT event_id, age_days,
           CASE WHEN age_days >= 7 THEN 0.0 ELSE value END AS value,
           CAST(CASE WHEN age_days >= 7 THEN 1 ELSE 0 END AS BIGINT)
             AS value_expired
         FROM a WHERE age_days < 21 ORDER BY event_id""")
  )
}
