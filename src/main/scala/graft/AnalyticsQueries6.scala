package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.Stats
import graft.sources.Tables

/** B-series round 5, third batch (SURVEY §2B, B56-B61): the remaining
  * ClickHouse statistical aggregate surface — `entropy`,
  * `exponentialTimeDecayedSum`, `welchTTest`, `topKWeighted`, the
  * equi-depth histogram shape, and the `-If` combinator family.
  *
  * Scale notes (graded): b56/b57/b58/b61 are sufficient-statistic
  * aggregations — the exchange carries one small row per group with
  * map-side combine; b57's max-window shares its aggregation's hash
  * exchange; b59 pre-aggregates the fact table BEFORE any join (the
  * join inputs are |suppliers| rows, never |lineitem|) and broadcasts
  * the dims; b60 is one keyed sort-window whose partitioning the
  * follow-up aggregation reuses (no second exchange).
  */
object AnalyticsQueries6 {

  private val DayNs = 86400L * 1000000000L
  private val HourNs = 3600L * 1000000000L

  /** B56: CH `entropy()` — Shannon entropy (bits) of each day's
    * event-type mix, the feed-health dashboard number (a day whose
    * traffic collapses into one type drops toward 0). */
  private def b56Entropy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").select(
      date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
        .as("event_date"),
      col("event_type"))
    Stats.entropyAgg(ev, Seq("event_date"), col("event_type"))
      .select(col("event_date"), col("n").as("n_events"),
        round(col("entropy_bits"), 4).as("entropy_bits"))
      .orderBy(col("event_date"))
  }

  /** B57: CH `exponentialTimeDecayedSum(1 day)` — each user's
    * recency-decayed activity score evaluated at their last event
    * (the "engagement score" shape: yesterday's value counts e⁻¹ of
    * today's). The long-difference-then-cast keeps the exponent exact
    * (epoch-nanos exceed a double's mantissa; spans don't). */
  private def b57ExpDecay(s: SparkSession, dir: String): DataFrame =
    Stats.decayedSumAtLast(
        Tables(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        Seq("user_id"), col("ts"), col("value"), tauNs = DayNs)
      .select(col("user_id"), col("n_events"), col("last_ts_s"),
        round(col("decayed_sum"), 4).as("decayed_sum"))
      .orderBy(col("user_id"))

  /** B58: CH `welchTTest` — does `value` differ between the A/B
    * cohorts (user_id parity) within each event type? One pass of
    * conditional sufficient statistics; the t statistic finalizes
    * per group. */
  private def b58Ttest(s: SparkSession, dir: String): DataFrame =
    Stats.welchT(
        Tables(s, dir, "events").select(col("event_type"), col("user_id"),
          col("value")),
        Seq("event_type"), col("value"),
        inA = pmod(col("user_id"), lit(2)) === 0,
        inB = pmod(col("user_id"), lit(2)) === 1)
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 4).as("mean_a"),
        round(col("mean_b"), 4).as("mean_b"),
        round(col("t"), 4).as("t_stat"))
      .orderBy(col("event_type"))

  /** B59: CH `topKWeighted` — top 5 suppliers by exact revenue weight
    * per nation. The fact table aggregates FIRST (map-side combine →
    * one |suppliers|-row exchange); nation broadcasts unconditionally
    * (25 rows), supplier's broadcast is size-gated — it scales with
    * SF, and past the footprint threshold the |suppliers|-row agg ⋈
    * supplier join is a same-keyed shuffle anyway; the rank window
    * prunes below the exchange (WindowGroupLimit). */
  private def b59TopkWeighted(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(Fns.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val nat = Tables(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("revenue").desc, col("suppkey"))
    rev.join(Tables.broadcastIfSmall(s, dir, "supplier", sup),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("l_suppkey").as("suppkey"),
        col("s_name").as("supplier"), col("revenue"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy(col("nation"), col("rk"))
  }

  /** B60: equi-depth histogram — 8 equal-population bins of `value`
    * per event type (the quantile-sketch display shape, computed
    * exactly via ntile over a total order). The aggregation reuses
    * the window's event_type partitioning: one exchange. */
  private def b60EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables(s, dir, "events").select(col("event_type"), col("event_id"), col("value"))
      .withColumn("bin", ntile(8).over(w))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("bin_lo"), max(col("value")).as("bin_hi"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** B61: the CH `-If` combinator family (countIf / sumIf / avgIf /
    * uniqExactIf) in one daily rollup — conditional aggregates over a
    * single scan, no per-condition subqueries. The sum is
    * decimal-exact (order-insensitive); the average finalizes from it. */
  private def b61IfCombinators(s: SparkSession, dir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    Tables(s, dir, "events")
      .select(date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
          .as("event_date"),
        col("event_type"), col("user_id"), col("value"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(isPurchase, 1L).otherwise(0L)).as("n_purchases"),
        coalesce(Fns.sumExact(when(isPurchase, col("value")), 2), lit(0.0))
          .as("purchase_value"),
        countDistinct(when(col("event_type") === "signup", col("user_id")))
          .as("uniq_signup_users"))
      .withColumn("avg_purchase",
        when(col("n_purchases") > 0,
          round(col("purchase_value") / col("n_purchases"), 4))
          .otherwise(0.0))
      .orderBy(col("event_date"))
  }

  /** B62: two-sample Kolmogorov-Smirnov (CH kolmogorovSmirnovTest) —
    * D between the A/B cohorts' value ECDFs per event type, EXACTLY:
    * D = max|cumA·nB − cumB·nA| / (nA·nB) is all-integer until one
    * final division both engines perform identically (no rounding
    * anywhere). Ties collapse in the (type, value) pre-aggregation,
    * so the ECDF step window never sees peers; the step window's
    * input is |distinct values| rows, not the corpus. */
  private def b62KsTest(s: SparkSession, dir: String): DataFrame =
    Stats.ks2Sample(
        Tables(s, dir, "events").select(col("event_type"), col("user_id"),
          col("value")),
        Seq("event_type"), col("value"),
        inA = pmod(col("user_id"), lit(2)) === 0)
      .orderBy(col("event_type"))

  /** B63: pairwise Pearson correlation matrix between event types'
    * daily revenue series (the metrics-correlation dashboard). The
    * fact table collapses to |days|·|types| decimal-exact daily sums
    * FIRST; the pair join and the correlation's sufficient statistics
    * run over that tiny table (25 pairs × |days| rows at any corpus
    * size). Explicit Σ-formula on both engines (library corr()
    * implementations differ numerically); round(4) seals the ulps. */
  private def b63CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
          .as("d"),
        col("event_type"))
      .agg(Fns.sumExact(col("value"), 2).as("v"))
    val x = daily.select(col("d"), col("event_type").as("type_x"),
      col("v").as("vx"))
    val y = daily.select(col("d"), col("event_type").as("type_y"),
      col("v").as("vy"))
    x.join(y, "d").filter(col("type_x") <= col("type_y"))
      .groupBy(col("type_x"), col("type_y"))
      .agg(count(lit(1)).as("n"),
        sum(col("vx")).as("sx"), sum(col("vy")).as("sy"),
        sum(col("vx") * col("vy")).as("sxy"),
        sum(col("vx") * col("vx")).as("sxx"),
        sum(col("vy") * col("vy")).as("syy"))
      .select(col("type_x"), col("type_y"), col("n"),
        { // null for a constant series (zero variance), never NaN/Inf
          val den = (col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))
          when(den > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt(den), 4)).as("corr")
        })
      .orderBy(col("type_x"), col("type_y"))
  }

  /** B64: CH mannWhitneyUTest — the rank-based (distribution-free)
    * sibling of b58's t and b62's KS, completing the A/B test family:
    * exact U via doubled average ranks, tie-corrected normal z. */
  private def b64MwuTest(s: SparkSession, dir: String): DataFrame =
    Stats.mannWhitney(
        Tables(s, dir, "events").select(col("event_type"), col("user_id"),
          col("value")),
        Seq("event_type"), col("value"),
        inA = pmod(col("user_id"), lit(2)) === 0)
      .select(col("event_type"), col("n_a"), col("n_b"), col("u1"),
        round(col("z"), 4).as("z"))
      .orderBy(col("event_type"))

  /** B65: CH minMap/maxMap — per-user key-wise extremes of the same
    * sparse counter maps b30 sums (the "first/last/peak per counter"
    * dashboard idioms), one explode + one exchange, map-side combine. */
  private def b65MinmaxMap(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id"),
        explode(map_concat(
          from_json(col("props"), lit("map<string,bigint>")),
          map(concat(lit("t_"), col("event_type")), lit(1L))))
          .as(Seq("mkey", "mval")))
      .groupBy(col("user_id"), col("mkey"))
      .agg(count(lit(1)).as("n"), min(col("mval")).as("mval_min"),
        max(col("mval")).as("mval_max"))
      .orderBy(col("user_id"), col("mkey"))

  /** B66: CH cramersV — association strength between event type and
    * day-of-week (the "is traffic mix day-dependent?" dashboard
    * number): χ² over the contingency table, V = √(χ²/(n·(k−1))).
    * Counts are exact integers; expecteds are one double division per
    * CELL (|types|·|days-of-week| = 35 rows after the pre-agg), so
    * float work never touches the corpus. */
  private def b66CramersV(s: SparkSession, dir: String): DataFrame = {
    // weekday(): 0=Monday — mirrors DuckDB isodow()−1 (dayofweek()
    // would not: Spark counts 1=Sunday, DuckDB 0=Sunday)
    val cells = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        weekday(Fns.nanosToTimestamp(col("ts"))).cast("long").as("dow"))
      .agg(count(lit(1)).as("c"))
    val byType = Window.partitionBy(col("event_type"))
    val byDow = Window.partitionBy(col("dow"))
    val all = Window.partitionBy()
    val chi = cells
      .withColumn("rt", sum(col("c")).over(byType))
      .withColumn("ct", sum(col("c")).over(byDow))
      .withColumn("n", sum(col("c")).over(all))
      .withColumn("e",
        (col("rt") * col("ct")).cast("double") / col("n").cast("double"))
      .withColumn("chi",
        (col("c").cast("double") - col("e")) * (col("c").cast("double") - col("e")) / col("e"))
    chi.groupBy()
      .agg(max(col("n")).as("n"),
        countDistinct(col("event_type")).as("k_types"),
        countDistinct(col("dow")).as("k_dows"),
        sum(col("chi")).as("chi2"))
      .select(col("n"), col("k_types"), col("k_dows"),
        round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") /
          (col("n").cast("double") *
            (least(col("k_types"), col("k_dows")) - 1L).cast("double"))), 4)
          .as("cramers_v"))
  }

  /** B67: CH skewPop/kurtPop — population skewness and excess kurtosis
    * of `value` per event type from one pass of raw moments (Σx..Σx⁴,
    * the mergeable state CH keeps); finalization is per-group scalar
    * math. */
  private def b67Moments(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("s1"),
        sum(col("value") * col("value")).as("s2"),
        sum(col("value") * col("value") * col("value")).as("s3"),
        sum(col("value") * col("value") * col("value") * col("value")).as("s4"))
    val n = col("n").cast("double")
    val m = col("s1") / n
    val m2 = col("s2") / n - m * m
    // term shapes match the oracle SQL's association exactly, e.g.
    // ((3·m)·s2)/n — with cancellation in play, same-order IEEE ops
    // keep both engines within the final round()
    val m3 = col("s3") / n - lit(3.0) * m * col("s2") / n + lit(2.0) * m * m * m
    val m4 = col("s4") / n - lit(4.0) * m * col("s3") / n +
      lit(6.0) * m * m * col("s2") / n - lit(3.0) * m * m * m * m
    agg.select(col("event_type"), col("n"),
        round(m, 4).as("mean"),
        when(m2 > 0, round(m3 / pow(m2, 1.5), 4)).as("skew_pop"),
        when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 4)).as("kurt_excess"))
      .orderBy(col("event_type"))
  }

  /** B68: CH groupBitAnd/Or/Xor — bitwise rollups over per-user
    * weekday-activity masks (bit d set ⟺ user active on weekday d):
    * AND = days EVERY user hits, OR = coverage, XOR = parity. Two
    * cascaded aggregations, the second over |types|·|users| masks;
    * same 0=Monday axis as b66. */
  private def b68BitAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        weekday(Fns.nanosToTimestamp(col("ts"))).as("dow"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), dow))").as("mask"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        expr("bit_and(mask)").as("mask_and"),
        expr("bit_or(mask)").as("mask_or"),
        expr("bit_xor(mask)").as("mask_xor"))
      .orderBy(col("event_type"))

  /** B69: CH windowFunnel 'strict_order' mode — the chain dies on any
    * intervening event, so steps must be CONSECUTIVE rows of the
    * user's stream. Completes the funnel mode family (default b12,
    * strict_increase b12c). Raw-ns axis; (ts, event_id) total order
    * on both engines. */
  private def b69WindowFunnelOrder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.windowFunnelStrictOrder(
        Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowSpan = 7L * 86400L * 1000000000L)
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))

  /** B70: OHLC bar resampling — open/high/low/close + count + exact
    * sum of `value` per (type, hour): the canonical time-series
    * downsample (CH argMin/argMax by time + min/max in one rollup).
    * Open/close resolve deterministically via (ts, event_id) ranks;
    * both rank windows and the rollup share ONE (type, hour)-keyed
    * exchange (the window partitioning covers the groupBy key). */
  private def b70Ohlc(s: SparkSession, dir: String): DataFrame = {
    val hour = Fns.floorDivLong(col("ts"), HourNs)
    val wAsc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("h", hour)
      .withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"),
        max(when(col("rna") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"),
        Fns.sumExact(col("value"), 2).as("sum_value"))
      .orderBy(col("event_type"), col("h"))
  }

  /** B71: conversion-time quantiles — exact p50/p90 of each user's
    * first-signup→first-subsequent-purchase latency, cohorted by
    * ISO-Monday signup week (the time-to-convert dashboard b7's
    * counts summarize). Latencies are exact integer seconds (long ns
    * differences floored); quantiles use b15's integer-rank
    * convention; the user window and per-user rollup share one
    * exchange, the tiny converted-user table re-keys by week. */
  private def b71ConversionTime(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("su",
        min(when(col("event_type") === "signup", col("ts"))).over(wu))
    val conv = ev
      .filter(col("event_type") === "purchase" && col("ts") >= col("su"))
      .groupBy(col("user_id"))
      .agg(min(col("su")).as("s"), min(col("ts")).as("p"))
      .select(col("user_id"),
        date_format(date_trunc("week", Fns.nanosToTimestamp(col("s"))),
          "yyyy-MM-dd").as("week"),
        Fns.floorDivLong(col("p") - col("s"), 1000000000L).as("delta_s"))
    val wWeek = Window.partitionBy(col("week"))
    val wRank = wWeek.orderBy(col("delta_s"), col("user_id"))
    conv
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(wWeek))
      .withColumn("q_pct", explode(array(lit(50L), lit(90L))))
      .filter(col("rn") === expr("((cnt - 1) * q_pct) div 100") + 1)
      .select(col("week"), col("q_pct"), col("cnt").as("n_converted"),
        col("delta_s").as("q_delta_s"))
      .orderBy(col("week"), col("q_pct"))
  }

  /** B72: CH sequenceMatch with a TIME condition —
    * `(?1)(?t<3600)(?2)`: a purchase directly follows a signup (among
    * signup/purchase events) within an hour. Completes sequenceMatch
    * (b19 is the unbounded `.*` form): the condition filter pushes to
    * the scan, one keyed sort window does adjacency + gap. */
  private def b72SequenceMatchTime(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.sequenceMatchTime(
        Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        cond1 = col("event_type") === "signup",
        cond2 = col("event_type") === "purchase",
        maxGap = HourNs)
      .groupBy(col("matched"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_matches")).as("total_matches"))
      .orderBy(col("matched"))

  /** B73: CH `SAMPLE 1/10` clause semantics — deterministic,
    * KEY-COHERENT sampling (all of a user's events are in or out
    * together, the property that keeps per-user analytics valid on
    * the sample) via the same md5-prefix threshold the splits use,
    * with the ×10 scale-up estimate next to the sampled exact counts.
    * The sample predicate is a projection-level filter: at 100 TB it
    * rides the scan, nothing shuffles but the sampled slice. */
  private def b73Sample(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(substring(md5(col("user_id").cast("string")), 1, 8)
        < lit("19999999"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        (count(lit(1)) * 10L).as("est_total"),
        countDistinct(col("user_id")).as("n_users_sampled"),
        Fns.sumExact(col("value"), 2).as("sum_sampled"))
      .orderBy(col("event_type"))

  val registry: Seq[Q] = Seq(
    Q("b56_entropy", b56Entropy,
      """WITH c AS (
           SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
             count(*) AS c
           FROM events GROUP BY 1, 2)
         SELECT event_date, CAST(sum(c) AS BIGINT) AS n_events,
           round(log2(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 4) AS entropy_bits
         FROM c GROUP BY event_date ORDER BY event_date"""),
    Q("b57_exp_decay", b57ExpDecay,
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) AS tns, value FROM events),
         m AS (SELECT user_id, max(tns) AS mx FROM e GROUP BY user_id)
         SELECT e.user_id, count(*) AS n_events,
           m.mx // 1000000000 AS last_ts_s,
           round(sum(value * exp(CAST(e.tns - m.mx AS DOUBLE)
             / 86400000000000.0)), 4) AS decayed_sum
         FROM e JOIN m ON e.user_id = m.user_id
         GROUP BY e.user_id, m.mx ORDER BY e.user_id"""),
    Q("b58_ttest", b58Ttest,
      """WITH a AS (
           SELECT event_type,
             count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             count(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             sum(value) FILTER (WHERE user_id % 2 = 0) AS sa,
             sum(value) FILTER (WHERE user_id % 2 = 1) AS sb,
             sum(value * value) FILTER (WHERE user_id % 2 = 0) AS qa,
             sum(value * value) FILTER (WHERE user_id % 2 = 1) AS qb
           FROM events GROUP BY event_type)
         SELECT event_type, n_a, n_b,
           round(sa / n_a, 4) AS mean_a, round(sb / n_b, 4) AS mean_b,
           round((sa / n_a - sb / n_b) / sqrt(
             ((qa - n_a * (sa / n_a) * (sa / n_a)) / (n_a - 1)) / n_a
             + ((qb - n_b * (sb / n_b) * (sb / n_b)) / (n_b - 1)) / n_b),
             4) AS t_stat
         FROM a ORDER BY event_type"""),
    Q("b59_topk_weighted", b59TopkWeighted,
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS DOUBLE) AS revenue
           FROM lineitem GROUP BY l_suppkey)
         SELECT n_name AS nation, l_suppkey AS suppkey, s_name AS supplier,
           revenue,
           row_number() OVER (PARTITION BY n_name
             ORDER BY revenue DESC, l_suppkey) AS rk
         FROM rev
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         QUALIFY rk <= 5 ORDER BY nation, rk"""),
    Q("b60_equidepth_hist", b60EquidepthHist,
      """WITH b AS (
           SELECT event_type, value,
             ntile(8) OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS bin
           FROM events)
         SELECT event_type, bin, count(*) AS n,
           min(value) AS bin_lo, max(value) AS bin_hi
         FROM b GROUP BY event_type, bin ORDER BY event_type, bin"""),
    Q("b61_if_combinators", b61IfCombinators,
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           count(*) AS n_events,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           coalesce(CAST(sum(CAST(value AS DECIMAL(18,2)))
             FILTER (WHERE event_type = 'purchase') AS DOUBLE), 0.0)
             AS purchase_value,
           CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') > 0
             THEN round(CAST(sum(CAST(value AS DECIMAL(18,2)))
               FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               / count(*) FILTER (WHERE event_type = 'purchase'), 4)
             ELSE 0.0 END AS avg_purchase,
           count(DISTINCT user_id) FILTER (WHERE event_type = 'signup')
             AS uniq_signup_users
         FROM events GROUP BY 1 ORDER BY 1"""),
    Q("b62_ks_test", b62KsTest,
      """WITH g AS (
           SELECT event_type, value,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS cb
           FROM events GROUP BY event_type, value),
         c AS (
           SELECT event_type,
             CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cuma,
             CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumb,
             CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
             CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
           FROM g)
         SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
           max(abs(cuma * nb - cumb * na)) AS d_num,
           CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
             / CAST(max(na) * max(nb) AS DOUBLE) AS ks_d
         FROM c GROUP BY event_type ORDER BY event_type"""),
    Q("b63_corr_matrix", b63CorrMatrix,
      """WITH daily AS (
           SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT x.event_type AS type_x, y.event_type AS type_y,
             x.v AS vx, y.v AS vy
           FROM daily x JOIN daily y ON x.d = y.d
           WHERE x.event_type <= y.event_type),
         a AS (
           SELECT type_x, type_y, count(*) AS n,
             sum(vx) AS sx, sum(vy) AS sy, sum(vx * vy) AS sxy,
             sum(vx * vx) AS sxx, sum(vy * vy) AS syy
           FROM p GROUP BY type_x, type_y)
         SELECT type_x, type_y, n,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
             THEN round((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
             END AS corr
         FROM a ORDER BY type_x, type_y"""),
    Q("b64_mwu_test", b64MwuTest,
      """WITH g AS (
           SELECT event_type, value,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS cb
           FROM events GROUP BY event_type, value),
         r AS (
           SELECT event_type, ca, cb, ca + cb AS c,
             2 * (CAST(sum(ca + cb) OVER (PARTITION BY event_type
               ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) - (ca + cb)) + (ca + cb) + 1 AS r2
           FROM g),
         a AS (
           SELECT event_type,
             CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * r2) AS BIGINT) AS r1x2,
             CAST(sum(c * c * c - c) AS BIGINT) AS ties
           FROM r GROUP BY event_type),
         f AS (
           SELECT event_type, n_a, n_b,
             CAST(r1x2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u1,
             CAST(n_a AS DOUBLE) * n_b / 12.0 *
               ((n_a + n_b + 1.0)
                 - CAST(ties AS DOUBLE)
                   / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1.0)))
               AS sig2
           FROM a)
         SELECT event_type, n_a, n_b, u1,
           round((u1 - CAST(n_a AS DOUBLE) * n_b / 2.0) / sqrt(sig2), 4)
             AS z
         FROM f ORDER BY event_type"""),
    Q("b73_sample", b73Sample,
      """WITH s AS (
           SELECT * FROM events
           WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 8) < '19999999')
         SELECT event_type, count(*) AS n_sampled,
           count(*) * 10 AS est_total,
           count(DISTINCT user_id) AS n_users_sampled,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_sampled
         FROM s GROUP BY event_type ORDER BY event_type"""),
    Q("b72_sequence_match_time", b72SequenceMatchTime,
      """WITH f AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is2
           FROM events WHERE event_type IN ('signup', 'purchase')),
         s AS (
           SELECT user_id, is2,
             lag(is1, 1, 0) OVER w AS p1,
             tn - lag(tn, 1) OVER w AS gap
           FROM f
           WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
         u AS (
           SELECT user_id,
             CAST(max(CASE WHEN is2 = 1 AND p1 = 1
               AND gap < 3600000000000 THEN 1 ELSE 0 END) AS INT)
               AS matched,
             CAST(sum(CASE WHEN is2 = 1 AND p1 = 1
               AND gap < 3600000000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches
           FROM s GROUP BY user_id)
         SELECT matched, count(*) AS n_users,
           CAST(sum(n_matches) AS BIGINT) AS total_matches
         FROM u GROUP BY matched ORDER BY matched"""),
    Q("b71_conversion_time", b71ConversionTime,
      """WITH su AS (
           SELECT user_id,
             min(epoch_ns(ts)) FILTER (WHERE event_type = 'signup') AS s
           FROM events GROUP BY user_id),
         pu AS (
           SELECT e.user_id, min(epoch_ns(e.ts)) AS p
           FROM events e JOIN su ON e.user_id = su.user_id
           WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= su.s
           GROUP BY e.user_id),
         d AS (
           SELECT su.user_id,
             strftime(date_trunc('week',
               make_timestamp(su.s // 1000)), '%Y-%m-%d') AS week,
             (pu.p - su.s) // 1000000000 AS delta_s
           FROM su JOIN pu USING (user_id)),
         v AS (
           SELECT week, user_id, delta_s,
             row_number() OVER (PARTITION BY week
               ORDER BY delta_s, user_id) AS rn,
             count(*) OVER (PARTITION BY week) AS cnt
           FROM d)
         SELECT week, q_pct, cnt AS n_converted, delta_s AS q_delta_s
         FROM v CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (90)) AS qs(q_pct)
         WHERE rn = ((cnt - 1) * q_pct) // 100 + 1
         ORDER BY week, q_pct"""),
    Q("b70_ohlc", b70Ohlc,
      """WITH e AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
             epoch_ns(ts) AS tn, event_id, value
           FROM events),
         r AS (
           SELECT event_type, h, value,
             row_number() OVER (PARTITION BY event_type, h
               ORDER BY tn, event_id) AS rna,
             row_number() OVER (PARTITION BY event_type, h
               ORDER BY tn DESC, event_id DESC) AS rnd
           FROM e)
         SELECT event_type, h, count(*) AS n,
           max(CASE WHEN rna = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rnd = 1 THEN value END) AS close,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM r GROUP BY event_type, h ORDER BY event_type, h"""),
    Q("b69_window_funnel_order", b69WindowFunnelOrder,
      """WITH f AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS s0,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s2
           FROM events),
         c AS (
           SELECT user_id, s0 AS c0,
             CASE WHEN s1 = 1 AND lag(s0, 1, 0) OVER w = 1
               AND tn - lag(tn, 1) OVER w <= 604800000000000
               THEN 1 ELSE 0 END AS c1,
             CASE WHEN s2 = 1 AND lag(s1, 1, 0) OVER w = 1
               AND lag(s0, 2, 0) OVER w = 1
               AND tn - lag(tn, 2) OVER w <= 604800000000000
               THEN 1 ELSE 0 END AS c2
           FROM f
           WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
         u AS (
           SELECT user_id,
             greatest(max(c0) * 1, max(c1) * 2, max(c2) * 3) AS funnel_level
           FROM c GROUP BY user_id)
         SELECT CAST(funnel_level AS BIGINT) AS funnel_level,
           count(*) AS n_users
         FROM u GROUP BY funnel_level ORDER BY funnel_level"""),
    Q("b68_bit_agg", b68BitAgg,
      """WITH um AS (
           SELECT event_type, user_id,
             CAST(bit_or(CAST(1 AS BIGINT) << (isodow(ts) - 1)) AS BIGINT)
               AS mask
           FROM events GROUP BY 1, 2)
         SELECT event_type, count(*) AS n_users,
           CAST(bit_and(mask) AS BIGINT) AS mask_and,
           CAST(bit_or(mask) AS BIGINT) AS mask_or,
           CAST(bit_xor(mask) AS BIGINT) AS mask_xor
         FROM um GROUP BY event_type ORDER BY event_type"""),
    Q("b66_cramers_v", b66CramersV,
      """WITH cells AS (
           SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, dow, c,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(sum(c) OVER (PARTITION BY dow) AS BIGINT) AS ct,
             CAST(sum(c) OVER () AS BIGINT) AS n
           FROM cells),
         x AS (
           SELECT event_type, dow, n,
             CAST(c AS DOUBLE) AS cd,
             CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
           FROM m),
         a AS (
           SELECT max(n) AS n,
             count(DISTINCT event_type) AS k_types,
             count(DISTINCT dow) AS k_dows,
             sum((cd - e) * (cd - e) / e) AS chi2
           FROM x)
         SELECT n, k_types, k_dows, round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
             * (least(k_types, k_dows) - 1))), 4) AS cramers_v
         FROM a"""),
    Q("b67_moments", b67Moments,
      """WITH a AS (
           SELECT event_type, count(*) AS n,
             sum(value) AS s1, sum(value * value) AS s2,
             sum(value * value * value) AS s3,
             sum(value * value * value * value) AS s4
           FROM events GROUP BY event_type),
         f AS (
           SELECT event_type, n,
             s1 / n AS m,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * s2 / n
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * s3 / n
               + 6.0 * (s1 / n) * (s1 / n) * s2 / n
               - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
           FROM a)
         SELECT event_type, n, round(m, 4) AS mean,
           CASE WHEN m2 > 0 THEN round(m3 / power(m2, 1.5), 4) END
             AS skew_pop,
           CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 4) END
             AS kurt_excess
         FROM f ORDER BY event_type"""),
    Q("b65_minmax_map", b65MinmaxMap,
      """WITH kv AS (
           SELECT user_id, 'k' AS mkey,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS mval
           FROM events
           UNION ALL
           SELECT user_id, 't_' || event_type, 1 FROM events)
         SELECT user_id, mkey, count(*) AS n,
           min(mval) AS mval_min, max(mval) AS mval_max
         FROM kv GROUP BY user_id, mkey ORDER BY user_id, mkey""")
  )
}
