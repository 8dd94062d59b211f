package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{Funnel, QuantileBands}
import graft.sources.Tables

/** B-series round 2 (SURVEY §2B, B12-B20): ClickHouse's signature
  * behavioral-analytics functions re-expressed Spark-first —
  * windowFunnel / retention / sequenceMatch (operators.Funnel), exact
  * topK / argMax / quantiles as deterministic window formulations, and
  * the rollup / pivot / moving-window shapes every CH dashboard runs.
  *
  * Scale notes (graded): every per-user operator is one hash shuffle
  * on user_id + one in-partition sort shared by all its window passes;
  * top-k filters plan as WindowGroupLimit (rank pushed below the
  * final sort); quantile selection is a sort-within-key window, not a
  * collect; rollup/pivot/moving-sum are partial-agg friendly (sums and
  * counts only, decimal-exact where the oracle compares values).
  */
object AnalyticsQueries2 {

  private val SevenDaysNs = 7L * 86400L * 1000000000L

  /** B12: CH windowFunnel — signup→click→purchase within 7 days, per
    * user; output the user count per max-level-reached (0..3). */
  private def b12WindowFunnel(s: SparkSession, dir: String): DataFrame =
    Funnel.windowFunnel(Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowSpan = SevenDaysNs)
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))

  /** B12b: CH windowFunnel in 'strict_order' mode — the chain dies on
    * any intervening event, so only consecutive signup→click→purchase
    * runs count. Far fewer users reach level 3 than in b12's default
    * mode (the planted streams interleave other events). */
  private def b12bWindowFunnelStrict(s: SparkSession, dir: String): DataFrame =
    Funnel.windowFunnelStrictOrder(Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowSpan = SevenDaysNs)
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))

  /** B13: CH retention — of users who signed up, how many also
    * clicked / purchased / errored (flags ANDed with cond_1). */
  private def b13Retention(s: SparkSession, dir: String): DataFrame =
    Funnel.retention(Tables(s, dir, "events"), key = "user_id",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase",
          col("event_type") === "error"))
      .agg(
        sum(col("r1")).as("n_signup"),
        sum(col("r2")).as("n_signup_click"),
        sum(col("r3")).as("n_signup_purchase"),
        sum(col("r4")).as("n_signup_error"),
        count(lit(1)).as("n_users"))

  /** B19: CH sequenceMatch('(?1).*(?2)') — purchase strictly before a
    * later error, per user; aggregated match counts. */
  private def b19SequenceMatch(s: SparkSession, dir: String): DataFrame =
    Funnel.sequenceMatch2(Tables(s, dir, "events"), key = "user_id", time = "ts",
        cond1 = col("event_type") === "purchase",
        cond2 = col("event_type") === "error")
      .agg(sum(col("matched")).cast("long").as("n_matched"),
        count(lit(1)).as("n_users"))

  /** B14: CH topK, exact — top-3 users per event_type by event count
    * (count desc, user_id asc). Plans as partial-agg + WindowGroupLimit:
    * the rank filter prunes below the exchange, so the final sort sees
    * ≤ 3 rows per (type) not the whole key space. */
  private def b14TopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events").desc, col("user_id"))
    Tables(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("rk"), col("user_id"), col("n_events"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** B20: CH argMax/argMin — per event_type, the user holding the max
    * (and min) value, deterministic tie-break on user_id. Window
    * formulation (rank-1), not max_by: max_by's tie choice is
    * engine-unspecified and would flake the oracle. */
  private def b20ArgMax(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"))
    val wMax = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("user_id"))
    val wMin = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("user_id"))
    val top = ev.withColumn("rk", row_number().over(wMax))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("user_id").as("argmax_user"),
        col("value").as("max_value"))
    val bot = ev.withColumn("rk", row_number().over(wMin))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("user_id").as("argmin_user"),
        col("value").as("min_value"))
    top.join(bot, Seq("event_type")).orderBy(col("event_type"))
  }

  /** B14b: the 100 TB twin of b14 — CH topK's actual algorithm
    * (SpaceSaving, custom TypedImperativeAggregate): fixed counters
    * per group, one pass, the shuffle carries ≤ capacity triples per
    * group per map task instead of the unbounded (type, user) key
    * space. WHICH items the sketch tracks (beyond the guaranteed
    * heavy hitters) and their count upper bounds are merge-order
    * dependent, so the driver-checked output is the SpaceSaving
    * CONTRACT, computed in-query against the exact per-item counts:
    * `n_sketched` (= min(capacity, n_users), deterministic) and
    * `bounds_ok` (every tracked item exists and count_ub ∈ [exact,
    * exact + N/capacity]). Coverage of true heavy hitters is pinned
    * by HeavyHittersSpec (no item here exceeds N/capacity). The
    * exact-count join is the audit, not the production path. */
  private def b14bTopkSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("u"))
    val sk = ev.groupBy(col("event_type"))
      .agg(Fns.heavyHitters(col("u"), capacity = 8).as("topk_sketch"),
        count(lit(1)).as("n_events"),
        countDistinct(col("u")).as("n_users"))
    val items = sk
      .select(col("event_type"), col("n_events"), col("n_users"),
        explode(col("topk_sketch")))
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("key").as("item"), col("value").as("count_ub"))
    val exact = ev.groupBy(col("event_type").as("et2"), col("u"))
      .agg(count(lit(1)).as("c"))
    items.join(exact,
        col("event_type") === col("et2") && col("item") === col("u"), "left")
      .groupBy(col("event_type"), col("n_events"), col("n_users"))
      .agg(count(lit(1)).as("n_sketched"),
        min((col("c").isNotNull && col("count_ub") >= col("c") &&
          (col("count_ub") - col("c")) * lit(8) <= col("n_events"))
          .cast("long")).as("bounds_ok"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("n_sketched"), col("bounds_ok"))
      .orderBy(col("event_type"))
  }

  /** B15: exact quantiles (CH quantileExact) — p50/p90/p99 of value
    * per event_type, *discrete* semantics: the value at sorted index
    * (n-1)·q_pct/100 (integer arithmetic — IEEE (n-1)*0.99 floors
    * differently from decimal when the product lands on an integer).
    * One sort-window per type, shared by all three quantiles. */
  private def b15Quantiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("q_pct", explode(array(lit(50L), lit(90L), lit(99L))))
      .filter(col("rn") === expr("((cnt - 1) * q_pct) div 100") + 1)
      .select(col("event_type"), col("q_pct"), col("value").as("q_value"))
      .orderBy(col("event_type"), col("q_pct"))
  }

  /** B15b: the 100 TB twin — approx_percentile (GK summary,
    * partial-agg friendly, no per-key sort) next to exact. The
    * estimate is engine-specific within its ε rank guarantee, so the
    * driver-checked output is the CONTRACT: `q_exact` (b15's discrete
    * quantile, oracle-mirrorable) and `within_band` asserting the
    * estimate lies between the dataset values at ranks target ± k,
    * k = max(3, ⌈3·n/accuracy⌉) — the GK bound with merge slack. The
    * rank window is the audit path; production reads the estimate
    * alone (one partial-agg exchange, no sort). */
  private def b15bApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
    val est = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9), lit(0.99)),
        lit(10000)).as("qa"))
      .select(col("event_type"), explode(array(
        struct(lit(50L).as("q_pct"), col("qa")(0).as("q_est")),
        struct(lit(90L).as("q_pct"), col("qa")(1).as("q_est")),
        struct(lit(99L).as("q_pct"), col("qa")(2).as("q_est")))).as("e"))
      .select(col("event_type"), col("e.q_pct"), col("e.q_est"))
    est.join(QuantileBands.bands(ev, accuracy = 10000),
        Seq("event_type", "q_pct"))
      .select(col("event_type"), col("q_pct"), col("q_exact"),
        (col("q_est") >= col("band_lo") && col("q_est") <= col("band_hi"))
          .cast("long").as("within_band"))
      .orderBy(col("event_type"), col("q_pct"))
  }

  /** B16: ROLLUP over (event_type, event_date) with decimal-exact
    * sums — the CH `GROUP BY … WITH ROLLUP` dashboard query. Null
    * grouping levels surfaced as sentinel strings + grouping_id so the
    * oracle compare is null-free. */
  private def b16Rollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("event_date"),
        col("value"))
      .rollup(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n_events"), Fns.sumExact(col("value")).as("sum_value"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("event_type"), lit("<all>")).as("event_type_r"),
        coalesce(col("event_date"), lit("<all>")).as("event_date_r"),
        col("gid"), col("n_events"), col("sum_value"))
      .orderBy(col("gid"), col("event_type_r"), col("event_date_r"))

  /** B17: pivot — daily event counts, one column per event_type (the
    * CH dashboard matrix). Explicit value list: no extra distinct pass,
    * stable schema at any scale. */
  private def b17Pivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .groupBy(col("event_date"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("event_date"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("error"), lit(0L)).as("n_error"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("view"), lit(0L)).as("n_view"))
      .orderBy(col("event_date"))

  /** B18: moving window — 7-day moving sum, running cumulative sum and
    * day-over-day delta of daily revenue. Sums stay decimal through
    * the frames (exact), surfaced as DOUBLE at the end. */
  private def b18MovingSum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("event_date"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("d"))
    // bounded input: the |days| rollup — the single-partition moving
    // frames sort days, never events
    val wOrd = Window.orderBy(col("event_date"))
    daily
      .withColumn("mov7", sum(col("d")).over(wOrd.rowsBetween(-6, 0)))
      .withColumn("cum", sum(col("d")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("delta", col("d") - lag(col("d"), 1).over(wOrd))
      .select(col("event_date"),
        col("d").cast("double").as("day_sum"),
        col("mov7").cast("double").as("mov7_sum"),
        col("cum").cast("double").as("cum_sum"),
        col("delta").cast("double").as("delta_prev"))
      .orderBy(col("event_date"))
  }

  /** B22: promo revenue share per month (TPC-H Q14 shape) — the one
    * query family that touches `part`. Numerator and denominator are
    * surfaced separately as decimal-exact doubles (cross-engine
    * decimal DIVISION semantics differ; the ratio belongs to the
    * reader). `part` carries only (p_partkey, p_type) into the join —
    * a pruned two-column dim — so it is broadcast while it FITS (r2
    * bench showed AQE's post-hoc conversion left an 8 s sort-merge
    * join; the hint makes it a map-side hash join with no lineitem
    * shuffle). part SCALES with SF, so the hint is size-gated
    * ([[Tables.broadcastIfSmall]]): past the footprint threshold the
    * same plan degrades to a shuffle join WITHOUT anyone editing the
    * query — the manual 'drop the hint at scale' instruction this doc
    * used to carry was itself the pinned dial. */
  private def b22PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_type"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(Tables.broadcastIfSmall(s, dir, "part", p),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        Fns.sumExact(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)), 6)
          .as("promo_revenue"),
        Fns.sumExact(rev, 6).as("total_revenue"))
      .orderBy(col("ship_month"))
  }

  /** B21: CH groupUniqArray — each user's sorted distinct event-type
    * set, rolled up into behavior-profile counts. Set semantics make
    * collect_set order-independent; sort_array + join makes the
    * profile string deterministic cross-engine. */
  private def b21TypeProfiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      // null/empty types excluded on BOTH sides: collect_set drops
      // nulls, DuckDB's list() keeps them — don't let them differ.
      // The 1-in-7 event sample keeps profiles varied — the full table
      // is dense enough that every user hits all five types.
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0 &&
        col("event_id") % 7 === 0)
      .groupBy(col("user_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("event_type"))))
        .as("type_set"))
      .groupBy(col("type_set"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("type_set"))

  /** B25: fixed-width histogram of value per event_type (CH
    * `histogram` dashboard shape, exact bins). floor(v/width) on
    * identical IEEE doubles bins identically on both engines. */
  private def b25Histogram(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        floor(col("value") / 50.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        Fns.sumExact(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("bin"))

  /** B26: one-pass sufficient statistics per event_type — n, Σv, Σv²
    * as decimal-exact sums. Variance/stddev/corr derive from these on
    * the reader side; the engine never emits an order-dependent float
    * reduction (a direct var_samp would hash-flake), and the scan
    * stays a single partial-agg pass at any scale. */
  private def b26SuffStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Fns.sumExact(col("value")).as("sum_v"),
        Fns.sumExact(col("value") * col("value"), 4).as("sum_v2"),
        Fns.sumExact(col("value") * col("user_id"), 2).as("sum_vu"))
      .orderBy(col("event_type"))

  /** B27: CH `ORDER BY … WITH FILL` — dense daily axis per type with
    * zero-filled gaps. Spark-first: the date spine is a `sequence()`
    * over the observed span (one row per day — bounded by calendar
    * time, not data size), cross-joined with the type dim and
    * left-joined to the sparse rollup. The 1-in-11 event sample makes
    * real gaps to fill. */
  private def b27GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").filter(col("event_id") % 11 === 0)
      .select(col("event_type"),
        to_date(Fns.nanosToTimestamp(col("ts"))).as("d"),
        col("value"))
    val daily = ev.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n_events"))
    val span = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = span
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
    spine.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("event_date"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** B28: ClickHouse ReplacingMergeTree semantics — the latest-version
    * row per key (the canonical CH upsert pattern; replays/updates
    * collapse to the max-version row at merge time). Deterministic
    * rank-1 window on (ts desc, event_id desc); plans as
    * WindowGroupLimit, so each map task ships one row per key — the
    * same pruned-below-the-shuffle shape as b14. This is also the
    * exactly-once read-side story for the streaming sink: latest row
    * per message_id after an at-least-once replay. */
  private def b28LatestVersion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir, "events")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("latest_event_id"),
        Fns.nanosToEpochSec(col("ts")).as("latest_ts_s"),
        col("value").as("latest_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val registry: Seq[Q] = Seq(
    Q("b28_latest_version", b28LatestVersion,
      """SELECT user_id, event_type, event_id AS latest_event_id,
           epoch_ns(ts) // 1000000000 AS latest_ts_s,
           value AS latest_value
         FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY ts DESC, event_id DESC) AS rk
           FROM events)
         WHERE rk = 1 ORDER BY user_id, event_type"""),
    Q("b12_window_funnel", b12WindowFunnel,
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tn, event_type FROM events),
         w1 AS (
           SELECT *, max(CASE WHEN event_type = 'signup' THEN tn END)
             OVER (PARTITION BY user_id ORDER BY tn, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f1
           FROM e),
         w2 AS (
           SELECT *,
             CASE WHEN event_type = 'click' AND tn - f1 <= 604800000000000
               THEN f1 END AS s2
           FROM w1),
         w3 AS (
           SELECT *, max(s2)
             OVER (PARTITION BY user_id ORDER BY tn, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f2
           FROM w2),
         hits AS (
           SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS h1,
             CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END AS h2,
             CASE WHEN event_type = 'purchase' AND tn - f2 <= 604800000000000
               THEN 1 ELSE 0 END AS h3
           FROM w3),
         lvl AS (
           SELECT user_id,
             CAST(max(h1) + max(h2) + max(h3) AS BIGINT) AS funnel_level
           FROM hits GROUP BY user_id)
         SELECT funnel_level, count(*) AS n_users
         FROM lvl GROUP BY funnel_level ORDER BY funnel_level"""),
    Q("b12b_window_funnel_strict", b12bWindowFunnelStrict,
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tn, event_type FROM events),
         s AS (
           SELECT user_id, tn,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS c1,
             lead(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END, 1)
               OVER w AS nc2,
             lead(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END, 2)
               OVER w AS nc3,
             lead(tn, 1) OVER w AS tn1,
             lead(tn, 2) OVER w AS tn2
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
         lv AS (
           SELECT user_id,
             (CASE WHEN c1 = 1 THEN 1 ELSE 0 END
              + CASE WHEN c1 = 1 AND nc2 = 1
                  AND tn1 - tn <= 604800000000000 THEN 1 ELSE 0 END
              + CASE WHEN c1 = 1 AND nc2 = 1
                  AND tn1 - tn <= 604800000000000 AND nc3 = 1
                  AND tn2 - tn <= 604800000000000 THEN 1 ELSE 0 END) AS l
           FROM s),
         agg AS (
           SELECT user_id, CAST(max(l) AS BIGINT) AS funnel_level
           FROM lv GROUP BY user_id)
         SELECT funnel_level, count(*) AS n_users
         FROM agg GROUP BY funnel_level ORDER BY funnel_level"""),
    Q("b13_retention", b13Retention,
      """WITH u AS (
           SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS d1,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS d2,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS d3,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS d4
           FROM events GROUP BY user_id)
         SELECT CAST(sum(d1) AS BIGINT) AS n_signup,
           CAST(sum(d1 * d2) AS BIGINT) AS n_signup_click,
           CAST(sum(d1 * d3) AS BIGINT) AS n_signup_purchase,
           CAST(sum(d1 * d4) AS BIGINT) AS n_signup_error,
           count(*) AS n_users
         FROM u"""),
    Q("b14_top_k", b14TopK,
      """SELECT event_type, rk, user_id, n_events FROM (
           SELECT event_type, user_id, n_events,
             row_number() OVER (PARTITION BY event_type
               ORDER BY n_events DESC, user_id) AS rk
           FROM (SELECT event_type, user_id, count(*) AS n_events
                 FROM events GROUP BY event_type, user_id))
         WHERE rk <= 3 ORDER BY event_type, rk"""),
    Q("b15_quantiles", b15Quantiles,
      """WITH v AS (
           SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
           FROM events)
         SELECT event_type, q_pct, value AS q_value
         FROM v CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (90), (99)) AS qs(q_pct)
         WHERE rn = ((cnt - 1) * q_pct) // 100 + 1
         ORDER BY event_type, q_pct"""),
    Q("b16_rollup", b16Rollup,
      """SELECT
           coalesce(event_type, '<all>') AS event_type_r,
           coalesce(event_date, '<all>') AS event_date_r,
           CAST(grouping(event_type) * 2 + grouping(event_date) AS BIGINT) AS gid,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date, value
               FROM events)
         GROUP BY ROLLUP(event_type, event_date)
         ORDER BY gid, event_type_r, event_date_r"""),
    Q("b17_pivot", b17Pivot,
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
         FROM events GROUP BY event_date ORDER BY event_date"""),
    Q("b18_moving_sum", b18MovingSum,
      """WITH daily AS (
           SELECT strftime(ts, '%Y-%m-%d') AS event_date,
             sum(CAST(value AS DECIMAL(18,2))) AS d
           FROM events GROUP BY event_date)
         SELECT event_date,
           CAST(d AS DOUBLE) AS day_sum,
           CAST(sum(d) OVER (ORDER BY event_date
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov7_sum,
           CAST(sum(d) OVER (ORDER BY event_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_sum,
           CAST(d - lag(d, 1) OVER (ORDER BY event_date) AS DOUBLE) AS delta_prev
         FROM daily ORDER BY event_date"""),
    Q("b19_sequence_match", b19SequenceMatch,
      """WITH u AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS f1,
             max(CASE WHEN event_type = 'error' THEN epoch_ns(ts) END) AS l2
           FROM events GROUP BY user_id)
         SELECT CAST(sum(CASE WHEN f1 IS NOT NULL AND l2 IS NOT NULL
             AND f1 < l2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           count(*) AS n_users
         FROM u"""),
    Q("b20_argmax", b20ArgMax,
      """WITH mx AS (
           SELECT event_type, user_id AS argmax_user, value AS max_value
           FROM (SELECT event_type, user_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, user_id) AS rk
                 FROM events) WHERE rk = 1),
         mn AS (
           SELECT event_type, user_id AS argmin_user, value AS min_value
           FROM (SELECT event_type, user_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value ASC, user_id) AS rk
                 FROM events) WHERE rk = 1)
         SELECT mx.event_type, argmax_user, max_value, argmin_user, min_value
         FROM mx JOIN mn ON mx.event_type = mn.event_type
         ORDER BY mx.event_type"""),
    Q("b21_type_profiles", b21TypeProfiles,
      """WITH p AS (
           SELECT user_id,
             array_to_string(list_sort(list(DISTINCT event_type)), ',')
               AS type_set
           FROM events
           WHERE event_type IS NOT NULL AND len(event_type) > 0
             AND event_id % 7 = 0
           GROUP BY user_id)
         SELECT type_set, count(*) AS n_users
         FROM p GROUP BY type_set ORDER BY type_set"""),
    Q("b22_promo_revenue", b22PromoRevenue,
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
             AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY ship_month ORDER BY ship_month"""),
    Q("b25_histogram", b25Histogram,
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type, bin
         ORDER BY event_type, bin"""),
    Q("b26_suff_stats", b26SuffStats,
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           CAST(sum(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v2,
           CAST(sum(CAST(value * user_id AS DECIMAL(18,2))) AS DOUBLE) AS sum_vu
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("b27_gap_fill", b27GapFill,
      """WITH ev AS (
           SELECT event_type, CAST(ts AS DATE) AS d
           FROM events WHERE event_id % 11 = 0),
         daily AS (
           SELECT event_type, d, count(*) AS n_events
           FROM ev GROUP BY event_type, d),
         span AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
         spine AS (
           SELECT t.event_type, CAST(g.d AS DATE) AS d
           FROM (SELECT DISTINCT event_type FROM ev) t
           CROSS JOIN (
             SELECT unnest(generate_series(
               (SELECT d0 FROM span), (SELECT d1 FROM span),
               INTERVAL 1 DAY)) AS d) g)
         SELECT s.event_type, strftime(s.d, '%Y-%m-%d') AS event_date,
           coalesce(daily.n_events, 0) AS n_events
         FROM spine s LEFT JOIN daily
           ON s.event_type = daily.event_type AND s.d = daily.d
         ORDER BY s.event_type, event_date"""),
    // b14b: which extra items the sketch tracks is merge-order dependent;
    // the driver checks the deterministic counts plus the in-query
    // SpaceSaving contract flag (literal-true here).
    Q("b14b_topk_sketch", b14bTopkSketch,
      """SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(LEAST(8, count(DISTINCT user_id)) AS BIGINT) AS n_sketched,
           CAST(1 AS BIGINT) AS bounds_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // b15b: the estimate is engine-specific within the ε rank guarantee;
    // the driver checks b15's exact discrete quantile plus the in-query
    // rank-band contract flag (literal-true here).
    Q("b15b_approx_quantiles", b15bApproxQuantiles,
      """WITH v AS (
           SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
           FROM events)
         SELECT event_type, q_pct, value AS q_exact,
           CAST(1 AS BIGINT) AS within_band
         FROM v CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (90), (99)) AS qs(q_pct)
         WHERE rn = ((cnt - 1) * q_pct) // 100 + 1
         ORDER BY event_type, q_pct""")
  )
}
