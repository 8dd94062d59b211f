package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.Stats
import graft.sources.Tables

/** B-series round 5, final statistical batch (SURVEY §2B, B74-B76):
  * Spearman rank correlation (`rankCorr`), median absolute deviation
  * (the robust-dispersion companion to b15's quantiles), and one-way
  * ANOVA (`analysisOfVariance`) — completing the correlation
  * (b63 Pearson matrix), dispersion (b15/b52/b60), and hypothesis-test
  * (b58 t / b62 KS / b64 MWU) families.
  *
  * Scale notes (graded): b74's two rank windows and its aggregation
  * share one event_type hash exchange; b75 is two keyed sorts with a
  * broadcast median join-back (the per-group median table is |groups|
  * rows); b76's exchange carries (n, Σx, Σx²) per (day, type) cell —
  * map-side combine, finalization over |types| rows per day.
  */
object AnalyticsQueries7 {

  /** B74: CH `rankCorr` — Spearman ρ between `value` and event time
    * per event type ("does the metric trend over the corpus
    * window?"). Tie-exact via doubled average ranks (integers all the
    * way to the final ρ). */
  private def b74RankCorr(s: SparkSession, dir: String): DataFrame =
    Stats.spearman(
        Tables(s, dir, "events").select(col("event_type"), col("ts"), col("value")),
        Seq("event_type"), col("value"), col("ts"))
      .select(col("event_type"), col("n"), round(col("rho"), 4).as("rho"))
      .orderBy(col("event_type"))

  /** B75: median absolute deviation of `value` per event type — the
    * outlier-robust dispersion number next to b15's quantiles. Both
    * medians are exact data elements (b15's integer-rank convention,
    * (value, event_id) total order), and |x − med| is one IEEE
    * subtraction, so the output compares exactly with NO rounding. */
  private def b75Mad(s: SparkSession, dir: String): DataFrame =
    Stats.medianAbsDev(
        Tables(s, dir, "events").select(col("event_type"), col("event_id"),
          col("value")),
        Seq("event_type"), col("value"), col("event_id"))
      .orderBy(col("event_type"))

  /** B76: CH `analysisOfVariance` — per day, does mean `value` differ
    * across event types? The daily F statistic next to the pairwise
    * tests (b58/b62/b64 compare two cohorts; ANOVA compares all k at
    * once). */
  private def b76Anova(s: SparkSession, dir: String): DataFrame =
    Stats.anovaF(
        Tables(s, dir, "events").select(
          date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
            .as("event_date"),
          col("event_type"), col("value")),
        Seq("event_date"), col("event_type"), col("value"))
      .select(col("event_date"), col("n"), col("k"),
        round(col("ssb"), 2).as("ssb"), round(col("ssw"), 2).as("ssw"),
        round(col("f"), 4).as("f_stat"))
      .orderBy(col("event_date"))

  /** B77: CH `categoricalInformationValue` — how predictive are
    * day-of-week and a user-cohort feature of the purchase event?
    * IV = Σ_cells (g/G − b/B)·ln((g/G)/(b/B)) over each feature's
    * contingency cells (WoE-weighted); cells missing a class are
    * excluded (WoE undefined), their count reported. One scan builds
    * both features' cells via a 2-row explode; the finalization runs
    * over ≤ 17 cells. Same 0=Monday axis as b66. */
  private def b77InfoValue(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "events")
      .select(col("user_id"),
        (col("event_type") === "purchase").cast("long").as("y"),
        weekday(Fns.nanosToTimestamp(col("ts"))).cast("long").as("dow"))
      .select(explode(array(
          struct(lit("dow").as("feature"), col("dow").as("cat")),
          struct(lit("user_cohort").as("feature"),
            pmod(col("user_id"), lit(10)).as("cat")))).as("fc"),
        col("y"))
      .groupBy(col("fc.feature").as("feature"), col("fc.cat").as("cat"))
      .agg(sum(col("y")).as("g"), sum(lit(1L) - col("y")).as("b"))
    val w = Window.partitionBy(col("feature"))
    cells
      .withColumn("gt", sum(col("g")).over(w))
      .withColumn("bt", sum(col("b")).over(w))
      .withColumn("ok", col("g") > 0 && col("b") > 0)
      .withColumn("share_g", col("g").cast("double") / col("gt").cast("double"))
      .withColumn("share_b", col("b").cast("double") / col("bt").cast("double"))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_cats"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_skipped"),
        round(sum(when(col("ok"),
          (col("share_g") - col("share_b")) *
            log(col("share_g") / col("share_b"))).otherwise(0.0)), 4)
          .as("iv"))
      .orderBy(col("feature"))
  }

  /** B78: CH `theilsU` (+ the contingency coefficient next to b66's
    * Cramér's V) — the ASYMMETRIC association between event type and
    * day-of-week: U(type|dow) = (H(type) − H(type|dow)) / H(type) and
    * its transpose, plus C = √(χ²/(χ²+n)). Everything finalizes from
    * the same 35-cell contingency table; counts are exact integers,
    * float math touches only cells. */
  private def b78TheilsU(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        weekday(Fns.nanosToTimestamp(col("ts"))).cast("long").as("dow"))
      .agg(count(lit(1)).as("c"))
    val byType = Window.partitionBy(col("event_type"))
    val byDow = Window.partitionBy(col("dow"))
    val all = Window.partitionBy()
    val cd = col("c").cast("double")
    val nd = col("n").cast("double")
    val e = col("rt") * col("ct") / nd
    val m = cells
      .withColumn("rt", sum(col("c")).over(byType))
      .withColumn("ct", sum(col("c")).over(byDow))
      .withColumn("n", sum(col("c")).over(all))
      // margin Σ c·ln c terms are counted once: only on each margin's
      // first cell, marked by a rank guard
      .withColumn("fr", row_number().over(byType.orderBy(col("dow"))))
      .withColumn("fc", row_number().over(byDow.orderBy(col("event_type"))))
    val agg = m.groupBy()
      .agg(max(col("n")).as("n"),
        sum(cd * log(cd)).as("hj"),
        sum(when(col("fr") === 1,
          col("rt").cast("double") * log(col("rt").cast("double")))
          .otherwise(0.0)).as("hr"),
        sum(when(col("fc") === 1,
          col("ct").cast("double") * log(col("ct").cast("double")))
          .otherwise(0.0)).as("hc"),
        sum((cd - e) * (cd - e) / e).as("chi2"))
    val n = col("n").cast("double")
    // H(X) = ln n − hr/n; H(X|Y) = (hc − hj)/n (both in nats; the
    // ratio cancels the base)
    val hx = log(n) - col("hr") / n
    val hy = log(n) - col("hc") / n
    val hxGivenY = (col("hc") - col("hj")) / n
    val hyGivenX = (col("hr") - col("hj")) / n
    agg.select(col("n"),
      round((hx - hxGivenY) / hx, 4).as("u_type_given_dow"),
      round((hy - hyGivenX) / hy, 4).as("u_dow_given_type"),
      round(col("chi2"), 4).as("chi2"),
      round(sqrt(col("chi2") / (col("chi2") + n)), 4).as("contingency_c"))
  }

  /** B79: the CH array-function family — groupArray → arraySort /
    * arrayDifference / arrayCumSum / arrayCompact over each user's
    * purchase amounts (integer cents via floor: half-rounding modes
    * differ across engines, floor doesn't), emitted as comma-joined
    * strings (the driver's hash can't sort array cells). Spark-first:
    * the per-user sequence assembles ONCE as a sorted struct array per
    * group; every derived array is a codegen'd higher-order function
    * (zip_with/slice/transform) over it — no second shuffle, no
    * window pass over the corpus. */
  private def b79ArrayFuns(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    val byTime = p
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("cents")))).as("seq"))
      .withColumn("arr", expr("transform(seq, x -> x.cents)"))
    byTime.select(col("user_id"), col("n_purchases"),
        concat_ws(",", expr("array_sort(arr)")).as("sorted_str"),
        concat_ws(",", expr(
          "zip_with(slice(array_sort(arr), 2, size(arr) - 1), " +
            "slice(array_sort(arr), 1, size(arr) - 1), (a, b) -> a - b)"))
          .as("diff_str"),
        concat_ws(",", expr(
          // runningAccumulate over the time order: prefix sums via a
          // transform re-reading the assembled array (n per user is
          // small; the corpus never re-shuffles)
          "transform(arr, (x, i) -> aggregate(slice(arr, 1, i + 1), " +
            "0L, (acc, e) -> acc + e))")).as("cumsum_str"),
        concat_ws(",", expr("array_distinct(array_sort(arr))"))
          .as("compact_str"))
      .orderBy(col("user_id"))
  }

  /** B80: rolling 7-day distinct actives per day (the "7-day MAU"
    * dashboard line) — EXACT sliding-window uniques: the corpus first
    * collapses to distinct (user, day) — one exchange over data — and
    * only that collapsed table fans out ×7 (each active day
    * contributes to its next 7 target days); per-target-day exact
    * distinct counts finalize over the fan-out. Days with no events
    * (fan-out-only targets) are dropped by the active-days semi join. */
  private def b80RollingUniq(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(to_date(Fns.nanosToTimestamp(col("ts"))).as("d"), col("user_id"))
      .distinct()
    val activeDays = ud.select(col("d").as("td")).distinct()
    ud.select(col("d"), col("user_id"),
        explode(sequence(lit(0), lit(6))).as("i"))
      .select(date_add(col("d"), col("i")).as("td"), col("user_id"), col("i"))
      .join(broadcast(activeDays), Seq("td"), "left_semi")
      .groupBy(col("td"))
      .agg(countDistinct(when(col("i") === 0, col("user_id")))
          .as("n_active_1d"),
        countDistinct(col("user_id")).as("n_active_7d"))
      .select(date_format(col("td"), "yyyy-MM-dd").as("day"),
        col("n_active_1d"), col("n_active_7d"))
      .orderBy(col("day"))
  }

  /** B81: conversion rate with a Wilson 95% interval per event type —
    * the uncertainty-aware dashboard number (a 3-of-7 day beats a
    * 40%-of-10 day honestly). Successes = purchase events; the
    * interval is one closed-form per GROUP (|types| rows), z = 1.96
    * fixed, identical IEEE ops on both engines. */
  private def b81WilsonCi(s: SparkSession, dir: String): DataFrame = {
    val z = lit(1.96)
    val agg = Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("hits"))
    val n = col("n").cast("double")
    val p = col("hits").cast("double") / n
    val denom = lit(1.0) + z * z / n
    val center = (p + z * z / (lit(2.0) * n)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n +
      z * z / (lit(4.0) * n * n)) / denom
    agg.select(col("event_type"), col("n"), col("hits"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy(col("event_type"))
  }

  /** B82: trailing-window anomaly flags — each (type, day)'s event
    * count vs the mean/σ of its preceding 7 OBSERVED days
    * (self-excluded: yesterday's spike can't vouch for today's),
    * |z| > 2 flags. rowsBetween(-7,-1) counts ROWS of the daily
    * rollup, so a type with zero-event days looks back past 7
    * calendar days — the ClickHouse-dashboard convention this
    * mirrors (a rangeBetween on a day number would give strict
    * calendar-window semantics); the oracle mirrors rows. The
    * corpus collapses to |types|·|days| daily rows first; the trailing
    * frame runs over that tiny table. Sample σ from integral sums;
    * warm-up days (< 3 prior) stay unflagged with null z. */
  private def b82Anomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
          .as("event_date"))
      .agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy(col("event_type"))
      .orderBy(col("event_date")).rowsBetween(-7, -1)
    // every divisor null-guards (ANSI division-by-zero would otherwise
    // fire even under when(): subexpression elimination hoists the
    // shared terms out of the branch)
    val k = when(col("k") > 0, col("k").cast("double"))
    val mu = col("s").cast("double") / k
    val varS = (col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") / k) /
      when(col("k") > 1, col("k").cast("double") - 1.0)
    val zed = (col("n").cast("double") - mu) /
      when(varS > 0, sqrt(varS))
    daily
      .withColumn("k", count(lit(1)).over(trail))
      .withColumn("s", sum(col("n")).over(trail))
      .withColumn("q", sum(col("n") * col("n")).over(trail))
      .select(col("event_type"), col("event_date"), col("n"),
        when(col("k") >= 3, round(mu, 4)).as("trail_mean"),
        when(col("k") >= 3 && varS > 0, round(zed, 4)).as("z"),
        when(col("k") >= 3 && varS > 0 && abs(zed) > 2.0, 1L)
          .otherwise(0L).as("is_anomaly"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** B83: week-over-week growth — weekly exact revenue per type with
    * the %-change vs the previous week (the period-over-period
    * dashboard staple): decimal-exact weekly sums, one lag over the
    * |types|·|weeks| rollup, first weeks and zero-base weeks
    * null-guarded in the divisor (ANSI). */
  private def b83WowGrowth(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(date_trunc("week",
          Fns.nanosToTimestamp(col("ts"))), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n"), Fns.sumExact(col("value"), 2).as("revenue"))
    // bounded input: the |weeks| rollup — the single-partition lag
    // window sorts weeks, never events
    val w = Window.orderBy(col("week"))
    weekly
      .withColumn("prev", lag(col("revenue"), 1).over(w))
      .select(col("week"), col("n"), col("revenue"),
        round((col("revenue") - col("prev")) * 100.0 /
          when(col("prev") > 0, col("prev")), 4).as("wow_pct"))
      .orderBy(col("week"))
  }

  /** B84: cohort LTV accumulation — cumulative purchase revenue per
    * first-event-week cohort by weeks-since-first (the LTV triangle
    * b42's retention counts price out): the user-cohort assignment is
    * one keyed min-window; revenue cells are decimal-exact; the
    * cumulative runs over the |cohorts|·|ages| triangle, never data. */
  private def b84CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("first_ts", min(col("ts")).over(wu))
    val cells = ev.filter(col("event_type") === "purchase")
      .select(
        date_format(date_trunc("week", Fns.nanosToTimestamp(col("first_ts"))),
          "yyyy-MM-dd").as("cohort_week"),
        (datediff(to_date(Fns.nanosToTimestamp(col("ts"))),
          to_date(Fns.nanosToTimestamp(col("first_ts")))).cast("long") / 7L)
          .cast("long").as("age_weeks"),
        col("value"))
      .groupBy(col("cohort_week"), col("age_weeks"))
      .agg(count(lit(1)).as("n_purchases"),
        Fns.sumExact(col("value"), 2).as("revenue"))
    val cum = Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue", round(sum(col("revenue")).over(cum), 2))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  /** B85: inter-event gap histogram, digit-bucketed — the latency
    * distribution per type in decimal-magnitude buckets (1 digit =
    * <10 s, 2 = <100 s, …) where the bucket function is
    * `length(string(gap_s))`: pure integer/string ops, so the
    * histogram is EXACT on any engine (no log() ulp at bucket
    * edges). One user-keyed sort window, then a tiny rollup. */
  private def b85GapHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_s", Fns.floorDivLong(col("ts") - col("prev"),
        1000000000L))
      .groupBy(col("event_type"),
        length(col("gap_s").cast("string")).cast("long").as("gap_digits"))
      .agg(count(lit(1)).as("n"),
        min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("event_type"), col("gap_digits"))
  }

  /** B86: CH `stochasticLinearRegression`'s batch answer — exact OLS
    * of `value` on (hour-of-day, weekday) per event type via normal
    * equations solved in closed form (Cramer's rule on the 3×3
    * moment matrix). The corpus ships 9 sufficient statistics per
    * type (feature sums exact integers, y-sums float); determinants
    * evaluate in double with the SAME association on both engines
    * (int64 would overflow at ~10⁵ rows/group: n·Σx₁²·Σx₂² ~ 2·10¹⁹). */
  private def b86LinregMulti(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables(s, dir, "events")
      .select(col("event_type"),
        hour(Fns.nanosToTimestamp(col("ts"))).cast("long").as("x1"),
        weekday(Fns.nanosToTimestamp(col("ts"))).cast("long").as("x2"),
        col("value").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1").cast("double") * col("y")).as("s1y"),
        sum(col("x2").cast("double") * col("y")).as("s2y"))
    def d(c: String) = col(c).cast("double")
    val (n, sx1, sx2) = (d("n"), d("sx1"), d("sx2"))
    val (s11, s12, s22) = (d("s11"), d("s12"), d("s22"))
    val (sy, s1y, s2y) = (col("sy"), col("s1y"), col("s2y"))
    def det3(a1: Column, a2: Column, a3: Column,
             b1: Column, b2: Column, b3: Column,
             c1: Column, c2: Column, c3: Column): Column =
      a1 * (b2 * c3 - b3 * c2) - a2 * (b1 * c3 - b3 * c1) +
        a3 * (b1 * c2 - b2 * c1)
    val det = det3(n, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    val det0 = det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    val det1 = det3(n, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    val det2 = det3(n, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    agg.select(col("event_type"), col("n"),
        round(det0 / when(abs(det) > 1e-9, det), 4).as("beta0"),
        round(det1 / when(abs(det) > 1e-9, det), 4).as("beta1"),
        round(det2 / when(abs(det) > 1e-9, det), 4).as("beta2"))
      .orderBy(col("event_type"))
  }

  /** B87: funnel step-conversion table — b12's per-user levels turned
    * into the adjacent-step conversion report (the numbers product
    * teams actually read off a funnel): users reaching ≥ step k and
    * the ppm conversion from the previous step. The step grid is
    * built independently of the counts (a step nobody reached still
    * shows, at 0), base-0 steps null-guarded (ANSI integer div). */
  private def b87FunnelRates(s: SparkSession, dir: String): DataFrame = {
    val levels = graft.operators.Funnel.windowFunnel(
        Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowSpan = 7L * 86400L * 1000000000L)
      .select(col("funnel_level"))
    val tot = levels.groupBy().agg(count(lit(1)).as("n_total"))
    val reached = levels
      .select(explode(sequence(lit(1L), lit(3L))).as("step"),
        col("funnel_level"))
      .filter(col("funnel_level") >= col("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("n_reached"))
    val grid = tot.select(explode(sequence(lit(1L), lit(3L))).as("step"),
      col("n_total"))
    grid.join(reached, Seq("step"), "left")
      .withColumn("n_reached", coalesce(col("n_reached"), lit(0L)))
      .withColumn("base", coalesce(
        // bounded input: the 3-row step grid
        lag(col("n_reached"), 1).over(Window.orderBy(col("step"))),
        col("n_total")))
      .select(col("step"), col("n_reached"),
        when(col("base") > 0,
          expr("n_reached * 1000000 div base")).as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** B88: event-type affinity — lift and PMI between type pairs
    * co-occurring in the same (user, day) basket (market-basket over
    * the event stream): the corpus collapses to distinct
    * (user, day, type) FIRST, each basket's sorted type-set emits its
    * pairs (c51's no-self-join shape), margins from the same
    * collapsed table; counts exact, the two logs finalize per
    * ≤|types|² row. */
  private def b88TypeAffinity(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(col("user_id"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("d"),
        col("event_type"))
      .distinct()
      .persist()
    val baskets = ud.groupBy(col("user_id"), col("d"))
      .agg(sort_array(collect_set(col("event_type"))).as("tt"))
      .persist()
    val nB = baskets.groupBy().agg(count(lit(1)).as("n_baskets"))
    val marg = ud.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_with"))
    val pairs = baskets
      // codegen'd single-pass pair enumeration (r13): same pairs, same
      // order as the composed flatten/transform/slice HOF form, without
      // its interpreted lambda frames (PropertySpec pins equality)
      .select(explode(Fns.upperTrianglePairs(col("tt"))).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    // ≤|types|² rows: self-releasing (the c65b pattern) — neither
    // cache outlives this query
    TrainingQueries.materialized(s,
      pairs
        .join(broadcast(marg.select(col("event_type").as("type_a"),
          col("n_with").as("n_a"))), Seq("type_a"))
        .join(broadcast(marg.select(col("event_type").as("type_b"),
          col("n_with").as("n_b"))), Seq("type_b"))
        .crossJoin(broadcast(nB))
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"),
          round(col("n_both").cast("double") * col("n_baskets").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 4)
            .as("lift"),
          round(log(col("n_both").cast("double") *
              col("n_baskets").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))), 4)
            .as("pmi"))
        .orderBy(col("type_a"), col("type_b")),
      ud, baskets)
  }

  /** B89: order-1 Markov transition matrix between consecutive event
    * types per user ((ts, id)-ordered lag, the global sibling of
    * b46's per-node sequenceNextNode): transition shares in exact
    * ppm of each source type's outgoing edges. One user-keyed sort
    * window, then a ≤|types|² rollup. */
  private def b89TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val out = Window.partitionBy(col("from_type"))
    trans
      .withColumn("n_out", sum(col("n")).over(out))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div n_out").as("share_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** B90: top session paths — the distribution of each (user, day)'s
    * FIRST three event types as a '>'-joined path (the "how do
    * sessions start" report CH builds from groupArray): one keyed
    * rank window prunes to 3 rows per session (WindowGroupLimit
    * territory) before any aggregation; top 20 paths with a full
    * (count desc, path) tie-break so the limit is deterministic. */
  private def b90TopPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd").as("d"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("d"))
      .agg(concat_ws(">", expr(
        "transform(sort_array(collect_list(struct(rn, event_type))), x -> x.event_type)"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** B91: revenue concentration — the share of purchase revenue held
    * by the top 1% / 10% of users (the whale-analysis dashboard, a
    * two-point Lorenz curve): per-user revenue in EXACT integer cents
    * (floor-quantized like b79), cohort cuts at ceil(n·p) users,
    * shares in exact ppm integer division — no float anywhere.
    *
    * DISTRIBUTED cut, not a global rank: the r10 form ranked every
    * user through `Window.orderBy(cents desc)` — a single-partition
    * sort of the whole user population (the WindowExec "No Partition
    * Defined" plan), billions of rows at 100×. The ranking is
    * unnecessary: ties in the top-m cohort all hold the SAME cents
    * value, so the cohort sum only needs the distinct-cents histogram
    * and a threshold. Shape: (1) per-user rollup (the one
    * events-sized exchange); (2) distinct-cents histogram; (3) a
    * distributed prefix sum over the histogram — range-repartition on
    * cents desc, per-PARTITION running totals under a keyed window,
    * plus per-partition offsets (≤ #partitions rows, collected — the
    * same partition-count-bounded driver hop AQE itself makes);
    * (4) per cut, the boundary row via one min-of-struct aggregate;
    * boundary users contribute `(m − users_above) · threshold_cents`
    * exactly. Result is row-identical to the rank form (same oracle). */
  /** The distributed prefix-sum kernel b91/b107 share: per-user
    * purchase cents → distinct-cents histogram → cumulative (count,
    * cents) along the given order, with NO global window. `cum`
    * carries (cents, cnt, sumc, cum_cnt, cum_sum); `cache` must be
    * released by the caller (pass it to materialized()). */
  private case class CentsCumHist(cum: DataFrame, nUsers: Long,
                                  totalCents: Long, cache: DataFrame)

  private def centsCumHist(s: SparkSession, dir: String,
                           ascending: Boolean): CentsCumHist = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val order = if (ascending) col("cents").asc else col("cents").desc
    val perUser = Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val hist = perUser.groupBy(col("cents"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sumc"))
    val parts = s.sparkContext.defaultParallelism
    val ranged = hist.repartitionByRange(parts, order)
      .withColumn("pid", spark_partition_id())
      .persist()
    // per-partition totals: ≤ `parts` rows — bounded by the partition
    // count, never the data (range partitions stay contiguous under
    // AQE coalescing, so pid order remains the cents order)
    val partTotals = ranged.groupBy(col("pid"))
      .agg(sum(col("cnt")).as("tc"), sum(col("sumc")).as("ts"))
      .collect().map(r => (r.getAs[Int]("pid"),
        r.getAs[Long]("tc"), r.getAs[Long]("ts"))).sortBy(_._1)
    val offsets = partTotals.scanLeft((0, 0L, 0L)) {
      case ((_, c, sm), (pid, tc, ts)) => (pid, c + tc, sm + ts)
    }.init.zip(partTotals).map { case ((_, offC, offS), (pid, _, _)) =>
      Row(pid, offC, offS) }
    val offDf = s.createDataFrame(s.sparkContext.parallelize(
      offsets.toIndexedSeq, 1), StructType(Seq(
        StructField("pid", IntegerType, nullable = false),
        StructField("off_cnt", LongType, nullable = false),
        StructField("off_sum", LongType, nullable = false))))
    val lw = Window.partitionBy(col("pid")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged
      .withColumn("lcnt", sum(col("cnt")).over(lw))
      .withColumn("lsum", sum(col("sumc")).over(lw))
      .join(broadcast(offDf), Seq("pid"))
      .select(col("cents"), col("cnt"), col("sumc"),
        (col("lcnt") + col("off_cnt")).as("cum_cnt"),
        (col("lsum") + col("off_sum")).as("cum_sum"))
    CentsCumHist(cum, partTotals.map(_._2).sum, partTotals.map(_._3).sum,
      ranged)
  }

  private def b91Concentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val h = centsCumHist(s, dir, ascending = false)
    val (cum, nUsers, totalCents) = (h.cum, h.nUsers, h.totalCents)
    // cohort sizes m = ceil(n·p/100); the boundary row is the first
    // histogram value (cents desc) whose cumulative count reaches m —
    // cum_cnt is strictly increasing, so min-of-struct finds it
    val cuts = Seq(1L, 10L).map(p => Row(p, (nUsers * p + 99L) / 100L))
    val cutsDf = s.createDataFrame(s.sparkContext.parallelize(
      cuts.toIndexedSeq, 1), StructType(Seq(
        StructField("top_pct", LongType, nullable = false),
        StructField("m", LongType, nullable = false))))
    val out = cum.join(broadcast(cutsDf), col("cum_cnt") >= col("m"))
      .groupBy(col("top_pct"), col("m"))
      .agg(min(struct(col("cum_cnt").as("cc"), col("cents").as("tv"),
        col("cnt").as("tn"), col("cum_sum").as("cs"),
        col("sumc").as("ts"))).as("b"))
      .select(col("top_pct"), col("m").as("n_top_users"),
        lit(nUsers).as("n_users"),
        // everything strictly above the boundary value, plus the
        // (m − users_above) boundary users at exactly `tv` cents each
        (col("b.cs") - col("b.ts") +
          (col("m") - (col("b.cc") - col("b.tn"))) * col("b.tv"))
          .as("top_cents"))
      .select(col("top_pct"), col("n_top_users"), col("n_users"),
        expr(s"top_cents * 1000000 div ${totalCents}L").as("share_ppm"))
      .orderBy(col("top_pct"))
    TrainingQueries.materialized(s, out, h.cache)
  }

  /** B107: Gini coefficient of per-user purchase revenue — the
    * full-curve completion of b91's two Lorenz points (CH dashboards
    * pair the top-1%/10% shares with the single-number inequality
    * index). Exact integer arithmetic end to end: with users ranked
    * ASCENDING by cents, G = (2·Σ rank·x − (n+1)·ΣX) / (n·ΣX); ties
    * make the rank sum permutation-invariant, so the histogram form
    * Σ_v v·(cnt·below + cnt(cnt+1)/2) — computable from b91's
    * distributed prefix-sum kernel with NO global rank window — is
    * value-identical to the oracle's row_number() form. The Σ runs in
    * decimal(38,0) (rank·cents products overflow int64 at ~1e9 users)
    * and the final three-term division happens driver-side in BigInt
    * on three already-aggregated scalars. */
  private def b107Gini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val h = centsCumHist(s, dir, ascending = true)
    val outSchema = StructType(Seq(
      StructField("n_users", LongType, nullable = false),
      StructField("total_cents", LongType, nullable = false),
      StructField("gini_ppm", LongType, nullable = false)))
    val rows: Seq[Row] =
      // t == 0 guard (every purchase quantizing to 0 cents): G's n·ΣX
      // denominator would divide by zero — yield no row, same as n == 0;
      // the oracle mirror gates on sum(cents) <> 0 identically.
      if (h.nUsers == 0 || h.totalCents == 0) Seq.empty
      else {
        // 2·Σ rank·x over a value's cnt tied users collapses to
        // v·(2·cnt·users_below + cnt·(cnt+1)) — doubling up front
        // keeps every term integral (no /2 anywhere)
        val s2Dec = h.cum.select(sum(expr(
            "CAST(cents AS DECIMAL(38,0)) * " +
              "(2 * CAST(cnt AS DECIMAL(38,0)) * (cum_cnt - cnt) + " +
              "CAST(cnt AS DECIMAL(38,0)) * (cnt + 1))")).as("s2"))
          .collect()(0).getDecimal(0)
        val s2 = BigInt(s2Dec.toBigInteger)
        val n = BigInt(h.nUsers); val t = BigInt(h.totalCents)
        val gini = (s2 - (n + 1) * t) * 1000000 / (n * t)
        Seq(Row(h.nUsers, h.totalCents, gini.toLong))
      }
    h.cache.unpersist()
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), outSchema)
  }

  /** B92: DAU / WAU / MAU + stickiness — exact 1/7/28-day rolling
    * distinct actives per day and the DAU/MAU ratio in ppm (the
    * engagement dashboard's header row; b80's family completed):
    * same collapse-then-fan-out — the distinct (user, day) table
    * fans out ×28 with per-window flags, never the raw corpus. */
  private def b92Stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(to_date(Fns.nanosToTimestamp(col("ts"))).as("d"), col("user_id"))
      .distinct()
    val activeDays = ud.select(col("d").as("td")).distinct()
    ud.select(col("d"), col("user_id"),
        explode(sequence(lit(0), lit(27))).as("i"))
      .select(date_add(col("d"), col("i")).as("td"), col("user_id"), col("i"))
      .join(broadcast(activeDays), Seq("td"), "left_semi")
      .groupBy(col("td"))
      .agg(countDistinct(when(col("i") === 0, col("user_id"))).as("dau"),
        countDistinct(when(col("i") <= 6, col("user_id"))).as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .select(date_format(col("td"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val registry: Seq[Q] = Seq(
    Q("b92_stickiness", b92Stickiness,
      """WITH ud AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         days AS (SELECT DISTINCT d FROM ud),
         c AS (
           SELECT ud.d + CAST(g.i AS INTEGER) AS td, ud.user_id, g.i
           FROM ud CROSS JOIN generate_series(0, 27) AS g(i)),
         a AS (
           SELECT td,
             count(DISTINCT CASE WHEN i = 0 THEN user_id END) AS dau,
             count(DISTINCT CASE WHEN i <= 6 THEN user_id END) AS wau,
             count(DISTINCT user_id) AS mau
           FROM c JOIN days ON c.td = days.d GROUP BY td)
         SELECT strftime(td, '%Y-%m-%d') AS day, dau, wau, mau,
           dau * 1000000 // mau AS stickiness_ppm
         FROM a ORDER BY day"""),
    Q("b107_gini", b107Gini,
      """WITH pu AS (
           SELECT user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         r AS (
           SELECT cents,
             row_number() OVER (ORDER BY cents, user_id) AS rn
           FROM pu),
         a AS (
           SELECT count(*) AS n, sum(cents) AS t,
             sum(CAST(rn AS HUGEINT) * cents) AS s
           FROM r HAVING count(*) > 0 AND sum(cents) <> 0)
         SELECT CAST(n AS BIGINT) AS n_users, CAST(t AS BIGINT) AS total_cents,
           CAST((2 * s - (CAST(n AS HUGEINT) + 1) * t) * 1000000
             // (CAST(n AS HUGEINT) * t) AS BIGINT) AS gini_ppm
         FROM a"""),
    Q("b91_concentration", b91Concentration,
      """WITH pu AS (
           SELECT user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         r AS (
           SELECT user_id, cents,
             row_number() OVER (ORDER BY cents DESC, user_id) AS rn,
             count(*) OVER () AS n_users,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
           FROM pu),
         x AS (
           SELECT p.top_pct, r.rn, r.n_users, r.cents, r.total_cents
           FROM r CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (10))
             AS p(top_pct)
           WHERE r.rn <= (r.n_users * p.top_pct + 99) // 100)
         SELECT top_pct, count(*) AS n_top_users, max(n_users) AS n_users,
           CAST(sum(cents) AS BIGINT) * 1000000 // max(total_cents)
             AS share_ppm
         FROM x GROUP BY top_pct ORDER BY top_pct"""),
    Q("b90_top_paths", b90TopPaths,
      """WITH e AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, event_type,
             row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
               ORDER BY epoch_ns(ts), event_id) AS rn
           FROM events),
         p AS (
           SELECT user_id, d,
             string_agg(event_type, '>' ORDER BY rn) AS path
           FROM e WHERE rn <= 3 GROUP BY user_id, d),
         c AS (
           SELECT path, count(*) AS n_sessions FROM p GROUP BY path)
         SELECT path, n_sessions FROM c
         ORDER BY n_sessions DESC, path LIMIT 20"""),
    Q("b88_type_affinity", b88TypeAffinity,
      """WITH ud AS (
           SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS d,
             event_type
           FROM events),
         bk AS (
           SELECT count(*) AS n_baskets
           FROM (SELECT DISTINCT user_id, d FROM ud)),
         marg AS (
           SELECT event_type, count(*) AS n_with FROM ud GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS ta, b2.event_type AS tb,
             count(*) AS n_both
           FROM ud a JOIN ud b2
             ON a.user_id = b2.user_id AND a.d = b2.d
               AND a.event_type < b2.event_type
           GROUP BY 1, 2)
         SELECT ta AS type_a, tb AS type_b, n_both,
           ma.n_with AS n_a, mb.n_with AS n_b,
           round(CAST(n_both AS DOUBLE)
             * CAST((SELECT n_baskets FROM bk) AS DOUBLE)
             / (CAST(ma.n_with AS DOUBLE) * CAST(mb.n_with AS DOUBLE)), 4)
             AS lift,
           round(ln(CAST(n_both AS DOUBLE)
             * CAST((SELECT n_baskets FROM bk) AS DOUBLE)
             / (CAST(ma.n_with AS DOUBLE) * CAST(mb.n_with AS DOUBLE))), 4)
             AS pmi
         FROM pairs
         JOIN marg ma ON ta = ma.event_type
         JOIN marg mb ON tb = mb.event_type
         ORDER BY type_a, type_b"""),
    Q("b89_transition_matrix", b89TransitionMatrix,
      """WITH t AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts), event_id) AS to_type
           FROM events),
         c AS (
           SELECT from_type, to_type, count(*) AS n
           FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         o AS (
           SELECT from_type, to_type, n,
             CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_out
           FROM c)
         SELECT from_type, to_type, n, n * 1000000 // n_out AS share_ppm
         FROM o ORDER BY from_type, to_type"""),
    Q("b87_funnel_rates", b87FunnelRates,
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
           FROM hits GROUP BY user_id),
         tot AS (SELECT count(*) AS n_total FROM lvl),
         reached AS (
           SELECT g.step,
             CAST(count(l.user_id) AS BIGINT) AS n_reached
           FROM generate_series(1, 3) AS g(step)
           LEFT JOIN lvl l ON l.funnel_level >= g.step
           GROUP BY g.step),
         r AS (
           SELECT CAST(step AS BIGINT) AS step, n_reached,
             coalesce(lag(n_reached) OVER (ORDER BY step),
               (SELECT n_total FROM tot)) AS base
           FROM reached)
         SELECT step, n_reached,
           CASE WHEN base > 0 THEN n_reached * 1000000 // base END
             AS conv_ppm
         FROM r ORDER BY step"""),
    Q("b86_linreg_multi", b86LinregMulti,
      """WITH a AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(hour(ts)) AS BIGINT) AS sx1,
             CAST(sum(isodow(ts) - 1) AS BIGINT) AS sx2,
             CAST(sum(hour(ts) * hour(ts)) AS BIGINT) AS s11,
             CAST(sum(hour(ts) * (isodow(ts) - 1)) AS BIGINT) AS s12,
             CAST(sum((isodow(ts) - 1) * (isodow(ts) - 1)) AS BIGINT)
               AS s22,
             sum(value) AS sy,
             sum(CAST(hour(ts) AS DOUBLE) * value) AS s1y,
             sum(CAST(isodow(ts) - 1 AS DOUBLE) * value) AS s2y
           FROM events GROUP BY event_type),
         d AS (
           SELECT event_type, n,
             CAST(n AS DOUBLE) AS dn, CAST(sx1 AS DOUBLE) AS dx1,
             CAST(sx2 AS DOUBLE) AS dx2, CAST(s11 AS DOUBLE) AS d11,
             CAST(s12 AS DOUBLE) AS d12, CAST(s22 AS DOUBLE) AS d22,
             sy, s1y, s2y
           FROM a),
         f AS (
           SELECT event_type, n,
             dn * (d11 * d22 - d12 * d12) - dx1 * (dx1 * d22 - d12 * dx2)
               + dx2 * (dx1 * d12 - d11 * dx2) AS det,
             sy * (d11 * d22 - d12 * d12) - dx1 * (s1y * d22 - d12 * s2y)
               + dx2 * (s1y * d12 - d11 * s2y) AS det0,
             dn * (s1y * d22 - d12 * s2y) - sy * (dx1 * d22 - d12 * dx2)
               + dx2 * (dx1 * s2y - s1y * dx2) AS det1,
             dn * (d11 * s2y - s1y * d12) - dx1 * (dx1 * s2y - s1y * dx2)
               + sy * (dx1 * d12 - d11 * dx2) AS det2
           FROM d)
         SELECT event_type, n,
           CASE WHEN abs(det) > 1e-9 THEN round(det0 / det, 4) END
             AS beta0,
           CASE WHEN abs(det) > 1e-9 THEN round(det1 / det, 4) END
             AS beta1,
           CASE WHEN abs(det) > 1e-9 THEN round(det2 / det, 4) END
             AS beta2
         FROM f ORDER BY event_type"""),
    Q("b85_gap_histogram", b85GapHistogram,
      """WITH g AS (
           SELECT event_type,
             (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts), event_id)) // 1000000000 AS gap_s
           FROM events),
         f AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL)
         SELECT event_type,
           CAST(len(CAST(gap_s AS VARCHAR)) AS BIGINT) AS gap_digits,
           count(*) AS n,
           min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
         FROM f GROUP BY 1, 2 ORDER BY event_type, gap_digits"""),
    Q("b83_wow_growth", b83WowGrowth,
      """WITH weekly AS (
           SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         l AS (
           SELECT week, n, revenue,
             lag(revenue) OVER (ORDER BY week) AS prev
           FROM weekly)
         SELECT week, n, revenue,
           CASE WHEN prev > 0
             THEN round((revenue - prev) * 100.0 / prev, 4) END AS wow_pct
         FROM l ORDER BY week"""),
    Q("b84_cohort_ltv", b84CohortLtv,
      """WITH f AS (
           SELECT user_id, min(epoch_ns(ts)) AS fts
           FROM events GROUP BY user_id),
         p AS (
           SELECT strftime(date_trunc('week',
               make_timestamp(f.fts // 1000)), '%Y-%m-%d') AS cohort_week,
             date_diff('day',
               CAST(make_timestamp(f.fts // 1000) AS DATE),
               CAST(e.ts AS DATE)) // 7 AS age_weeks,
             e.value
           FROM events e JOIN f USING (user_id)
           WHERE e.event_type = 'purchase'),
         c AS (
           SELECT cohort_week, CAST(age_weeks AS BIGINT) AS age_weeks,
             count(*) AS n_purchases,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM p GROUP BY 1, 2)
         SELECT cohort_week, age_weeks, n_purchases, revenue,
           round(sum(revenue) OVER (PARTITION BY cohort_week
             ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS cum_revenue
         FROM c ORDER BY cohort_week, age_weeks"""),
    Q("b81_wilson_ci", b81WilsonCi,
      """WITH a AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS hits
           FROM events GROUP BY event_type),
         f AS (
           SELECT event_type, n, hits,
             CAST(hits AS DOUBLE) / n AS p, CAST(n AS DOUBLE) AS nd
           FROM a)
         SELECT event_type, n, hits, round(p, 6) AS rate,
           round((p + 1.96 * 1.96 / (2.0 * nd)) / (1.0 + 1.96 * 1.96 / nd)
             - 1.96 * sqrt(p * (1.0 - p) / nd
                 + 1.96 * 1.96 / (4.0 * nd * nd))
               / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_lo,
           round((p + 1.96 * 1.96 / (2.0 * nd)) / (1.0 + 1.96 * 1.96 / nd)
             + 1.96 * sqrt(p * (1.0 - p) / nd
                 + 1.96 * 1.96 / (4.0 * nd * nd))
               / (1.0 + 1.96 * 1.96 / nd), 6) AS wilson_hi
         FROM f ORDER BY event_type"""),
    Q("b82_anomaly", b82Anomaly,
      """WITH daily AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, event_date, n,
             count(*) OVER w AS k,
             CAST(sum(n) OVER w AS BIGINT) AS s,
             CAST(sum(n * n) OVER w AS BIGINT) AS q
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY event_date
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         f AS (
           SELECT event_type, event_date, n, k,
             CAST(s AS DOUBLE) / k AS mu,
             (CAST(q AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k)
               / (k - 1.0) AS v
           FROM t)
         SELECT event_type, event_date, n,
           CASE WHEN k >= 3 THEN round(mu, 4) END AS trail_mean,
           CASE WHEN k >= 3 AND v > 0
             THEN round((n - mu) / sqrt(v), 4) END AS z,
           CASE WHEN k >= 3 AND v > 0
               AND abs((n - mu) / sqrt(v)) > 2.0
             THEN 1 ELSE 0 END AS is_anomaly
         FROM f ORDER BY event_type, event_date"""),
    Q("b80_rolling_uniq", b80RollingUniq,
      """WITH ud AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         days AS (SELECT DISTINCT d FROM ud),
         c AS (
           SELECT ud.d + CAST(g.i AS INTEGER) AS td, ud.user_id, g.i
           FROM ud CROSS JOIN generate_series(0, 6) AS g(i)),
         a AS (
           SELECT td,
             count(DISTINCT CASE WHEN i = 0 THEN user_id END)
               AS n_active_1d,
             count(DISTINCT user_id) AS n_active_7d
           FROM c JOIN days ON c.td = days.d GROUP BY td)
         SELECT strftime(td, '%Y-%m-%d') AS day, n_active_1d, n_active_7d
         FROM a ORDER BY day"""),
    Q("b74_rank_corr", b74RankCorr,
      """WITH r AS (
           SELECT event_type,
             2 * rank() OVER (PARTITION BY event_type ORDER BY value)
               + count(*) OVER (PARTITION BY event_type, value) - 1 AS rx,
             2 * rank() OVER (PARTITION BY event_type ORDER BY epoch_ns(ts))
               + count(*) OVER (PARTITION BY event_type, epoch_ns(ts)) - 1
               AS ry
           FROM events),
         a AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
             CAST(sum(rx * ry) AS DOUBLE) AS sxy,
             CAST(sum(rx * rx) AS DOUBLE) AS sxx,
             CAST(sum(ry * ry) AS DOUBLE) AS syy
           FROM r GROUP BY event_type)
         SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN round((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
             END AS rho
         FROM a ORDER BY event_type"""),
    Q("b75_mad", b75Mad,
      """WITH v AS (
           SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
           FROM events),
         med AS (
           SELECT event_type, cnt AS n, value AS median FROM v
           WHERE rn = (cnt - 1) * 50 // 100 + 1),
         d AS (
           SELECT e.event_type, abs(e.value - med.median) AS dv,
             row_number() OVER (PARTITION BY e.event_type
               ORDER BY abs(e.value - med.median), e.event_id) AS rn,
             count(*) OVER (PARTITION BY e.event_type) AS cnt
           FROM events e JOIN med ON e.event_type = med.event_type)
         SELECT d.event_type, med.n, med.median, d.dv AS mad
         FROM d JOIN med ON d.event_type = med.event_type
         WHERE d.rn = (d.cnt - 1) * 50 // 100 + 1
         ORDER BY d.event_type"""),
    Q("b77_info_value", b77InfoValue,
      """WITH e AS (
           SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(isodow(ts) - 1 AS BIGINT) AS dow
           FROM events),
         f AS (
           SELECT 'dow' AS feature, dow AS cat, y FROM e
           UNION ALL
           SELECT 'user_cohort', user_id % 10, y FROM e),
         cells AS (
           SELECT feature, cat, CAST(sum(y) AS BIGINT) AS g,
             CAST(sum(1 - y) AS BIGINT) AS b
           FROM f GROUP BY 1, 2),
         m AS (
           SELECT feature, g, b,
             CAST(sum(g) OVER (PARTITION BY feature) AS DOUBLE) AS gt,
             CAST(sum(b) OVER (PARTITION BY feature) AS DOUBLE) AS bt
           FROM cells)
         SELECT feature, count(*) AS n_cats,
           CAST(sum(CASE WHEN g > 0 AND b > 0 THEN 0 ELSE 1 END)
             AS BIGINT) AS n_skipped,
           round(sum(CASE WHEN g > 0 AND b > 0
             THEN (CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt)
               * ln((CAST(g AS DOUBLE) / gt) / (CAST(b AS DOUBLE) / bt))
             ELSE 0 END), 4) AS iv
         FROM m GROUP BY feature ORDER BY feature"""),
    Q("b78_theils_u", b78TheilsU,
      """WITH cells AS (
           SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, dow, c,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(sum(c) OVER (PARTITION BY dow) AS BIGINT) AS ct,
             CAST(sum(c) OVER () AS BIGINT) AS n,
             row_number() OVER (PARTITION BY event_type ORDER BY dow)
               AS fr,
             row_number() OVER (PARTITION BY dow ORDER BY event_type)
               AS fc
           FROM cells),
         a AS (
           SELECT max(n) AS n,
             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS hj,
             sum(CASE WHEN fr = 1 THEN CAST(rt AS DOUBLE)
               * ln(CAST(rt AS DOUBLE)) ELSE 0 END) AS hr,
             sum(CASE WHEN fc = 1 THEN CAST(ct AS DOUBLE)
               * ln(CAST(ct AS DOUBLE)) ELSE 0 END) AS hc,
             sum((CAST(c AS DOUBLE) - rt * ct / CAST(n AS DOUBLE))
               * (CAST(c AS DOUBLE) - rt * ct / CAST(n AS DOUBLE))
               / (rt * ct / CAST(n AS DOUBLE))) AS chi2
           FROM m)
         SELECT n,
           round((ln(CAST(n AS DOUBLE)) - hr / n - (hc - hj) / n)
             / (ln(CAST(n AS DOUBLE)) - hr / n), 4) AS u_type_given_dow,
           round((ln(CAST(n AS DOUBLE)) - hc / n - (hr - hj) / n)
             / (ln(CAST(n AS DOUBLE)) - hc / n), 4) AS u_dow_given_type,
           round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (chi2 + n)), 4) AS contingency_c
         FROM a"""),
    Q("b79_array_funs", b79ArrayFuns,
      """WITH p AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         o AS (
           SELECT user_id, cents,
             row_number() OVER wt AS rn,
             CAST(sum(cents) OVER (wt ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS cum,
             row_number() OVER ws AS srn,
             lag(cents) OVER ws AS prev
           FROM p
           WINDOW wt AS (PARTITION BY user_id ORDER BY tn, event_id),
             ws AS (PARTITION BY user_id ORDER BY cents, tn, event_id))
         SELECT user_id, count(*) AS n_purchases,
           string_agg(cents, ',' ORDER BY srn) AS sorted_str,
           coalesce(string_agg(cents - prev, ',' ORDER BY srn)
             FILTER (WHERE srn > 1), '') AS diff_str,
           string_agg(cum, ',' ORDER BY rn) AS cumsum_str,
           string_agg(cents, ',' ORDER BY srn)
             FILTER (WHERE prev IS NULL OR cents <> prev) AS compact_str
         FROM o GROUP BY user_id ORDER BY user_id"""),
    Q("b76_anova", b76Anova,
      """WITH cells AS (
           SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
             count(*) AS n, sum(value) AS s, sum(value * value) AS q
           FROM events GROUP BY 1, 2),
         a AS (
           SELECT event_date, CAST(sum(n) AS BIGINT) AS n,
             count(*) AS k, sum(s) AS st, sum(q) AS qt,
             sum(s * s / n) AS sg
           FROM cells GROUP BY event_date),
         f AS (
           SELECT event_date, n, k,
             sg - st * st / n AS ssb, qt - sg AS ssw
           FROM a)
         SELECT event_date, n, k, round(ssb, 2) AS ssb,
           round(ssw, 2) AS ssw,
           CASE WHEN k >= 2 AND n > k AND ssw > 0
             THEN round((ssb / (k - 1)) / (ssw / (n - k)), 4) END AS f_stat
         FROM f ORDER BY event_date""")
  )
}
