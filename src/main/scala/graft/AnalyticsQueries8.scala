package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HllSketchAgg}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.sources.Tables

/** B-series round 6: growth accounting — the standard product-
  * analytics decomposition of daily actives into new / retained /
  * resurrected (plus yesterday's churn), the report b13 retention,
  * b42 cohorts, and b92 stickiness orbit without stating directly.
  *
  * Scale notes (graded): the corpus collapses to distinct (user, day)
  * FIRST — one data exchange — and every classification is a lag over
  * that collapsed table's user-keyed sort; the daily summary and its
  * churn lag run over the |days| rollup. Raw events never cross more
  * than once, same contract as b80/b92. */
object AnalyticsQueries8 {

  /** B93: growth accounting. Per day: users active for the first time
    * ever (new), active yesterday too (retained), returning after a
    * gap ≥ 2 days (resurrected), and yesterday's actives who did not
    * return (churned = dau(prev day) − retained(today), null on the
    * first observed day — classic DAU growth accounting, e.g. the
    * Social Capital framework). dau ≡ new + retained + resurrected by
    * construction. */
  private def b93GrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(to_date(Fns.nanosToTimestamp(col("ts"))).as("d"), col("user_id"))
      .distinct()
    val lagW = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val classified = ud
      .withColumn("prev", lag(col("d"), 1).over(lagW))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(datediff(col("d"), col("prev")) === 1, "retained")
          .otherwise("resurrected"))
    val daily = classified.groupBy(col("d"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        count(lit(1)).as("dau"))
    val dayW = Window.partitionBy().orderBy(col("d"))
    daily
      .withColumn("prev_dau", lag(col("dau"), 1).over(dayW))
      .withColumn("prev_d", lag(col("d"), 1).over(dayW))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("n_retained"), col("n_resurrected"), col("dau"),
        // churn only defined against an ADJACENT previous day
        when(col("prev_dau").isNotNull && datediff(col("d"), col("prev_d")) === 1,
          col("prev_dau") - col("n_retained")).as("n_churned"))
      .orderBy(col("day"))
  }


  /** B94: seasonality profile — the (day-of-week × hour) activity
    * matrix (the "when do our users show up" heatmap): events and
    * share-of-total in exact ppm plus decimal-exact mean value per
    * cell. Both axes are pure integer arithmetic over epoch-nanos
    * (1970-01-01 was a Thursday → dow = (epoch_day + 4) mod 7,
    * 0 = Sunday) so cell edges are engine-exact — no timezone or
    * date-function semantics involved. One map-side-combined
    * aggregation; the share window runs over 168 cells. */
  private def b94DowProfile(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val hourNs = 3600L * 1000000000L
    val cells = Tables(s, dir, "events")
      .select(
        pmod(Fns.floorDivLong(col("ts"), dayNs) + 4L, lit(7L)).as("dow"),
        pmod(Fns.floorDivLong(col("ts"), hourNs), lit(24L)).as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("__sv"))
    cells
      .withColumn("__total", sum(col("n_events")).over(Window.partitionBy()))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("n_events * 1000000 div __total").as("share_ppm"),
        round(col("__sv").cast("double") / col("n_events").cast("double"), 4)
          .as("mean_value"))
      .orderBy(col("dow"), col("hour"))
  }

  /** B95: lead/lag cross-correlation — Pearson correlation of two
    * event types' daily-count series at day offsets −3…3 ("do clicks
    * lead purchases?"). The corpus collapses to one |days| rollup per
    * type; every lag correlates over the INNER join of shifted day
    * axes (so each lag's n is explicit), sums in integers, one final
    * closed form per lag. */
  private def b95LagCorr(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val daily = Tables(s, dir, "events")
      .select(Fns.floorDivLong(col("ts"), dayNs).as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
    val a = daily.filter(col("event_type") === "click")
      .select(col("day"), col("n").as("na"))
    val b = daily.filter(col("event_type") === "purchase")
      .select(col("day"), col("n").as("nb"))
    val joined = a.select(col("day"), col("na"),
        explode(sequence(lit(-3L), lit(3L))).as("lag"))
      .withColumn("bday", col("day") + col("lag"))
      .join(b.withColumnRenamed("day", "bday"), Seq("bday"))
    joined.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("na")).as("sa"), sum(col("nb")).as("sb"),
        sum(col("na") * col("nb")).as("sab"),
        sum(col("na") * col("na")).as("saa"),
        sum(col("nb") * col("nb")).as("sbb"))
      .select(col("lag"), col("n"),
        round(
          (col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")) *
             sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))),
          6).as("corr"))
      .orderBy(col("lag"))
  }

  /** B96: seasonal-naive forecast error — each day's per-type event
    * count "predicted" by the count exactly 7 days earlier, the
    * baseline every real forecast must beat (and the cheapest data
    * check for a broken day: wMAPE jumps). Error stays integer-exact:
    * MAE is one double division at the end, wMAPE is exact-ppm
    * integer division of two integer sums — no float accumulates.
    *
    * Scale: events collapse once to the (type, day) rollup; the
    * prediction is a self-join of that |days × types| table on
    * (type, day−7) — broadcast-sized at any corpus scale. */
  private def b96SeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    // persist the rollup: actuals and predictions are the SAME table
    // read twice — without the cache Spark re-collapses the raw
    // events for the prediction branch (no common-subplan reuse)
    val daily = Tables(s, dir, "events")
      .select(col("event_type"), Fns.floorDivLong(col("ts"), dayNs).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pred = daily.select(col("event_type"), (col("day") + 7L).as("day"),
      col("n").as("pred"))
    // |types| rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      daily.join(pred, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("pred"))).as("sum_abs_err"),
          sum(col("n")).as("sum_actual"))
        .select(col("event_type"), col("n_days"), col("sum_abs_err"),
          round(col("sum_abs_err").cast("double") / col("n_days"), 4).as("mae"),
          expr("sum_abs_err * 1000000 div sum_actual").as("wmape_ppm"))
        .orderBy(col("event_type")),
      daily)
  }

  /** B97: RFM segmentation — every customer scored into recency /
    * frequency / monetary quintiles, reported as the 5×5×5 segment
    * grid (counts + exact monetary cents). The quintile boundaries
    * come from ONE exact-percentile aggregation over the |customers|
    * rollup, broadcast back for a map-side bucket assignment — NOT an
    * ntile window, which would range-sort every customer through a
    * near-single-partition exchange three times. Monetary sums in
    * decimal cents so no float ever crosses an engine boundary; the
    * strict `>` against each boundary makes tie handling explicit.
    *
    * 100 TB note: swap the exact percentile for approx_percentile
    * (sketch, partial-combinable) — boundaries move by the sketch
    * error but the plan shape is identical; exact here for the
    * oracle. */
  private def b97Rfm(s: SparkSession, dir: String): DataFrame = {
    // the |customers| rollup feeds four branches (max date, three
    // percentile boundaries, the bucket pass) — materialize it once;
    // it is bounded by |customers|, the thing this query exists to
    // keep small relative to orders
    val cust = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxd = cust.agg(max(col("last_order")).as("max_d"))
    val rfm = cust.crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("max_d"), col("last_order")).cast("long").as("recency"),
        col("frequency"),
        (col("mon") * 100).cast("long").as("monetary_cents"))
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    val bnd = rfm.agg(
      expr(s"percentile(recency, $qs)").as("rb"),
      expr(s"percentile(frequency, $qs)").as("fb"),
      expr(s"percentile(monetary_cents, $qs)").as("mb"))
    def seg(v: Column, b: Column): Column =
      (1 to 4).map(i => (v > element_at(b, i)).cast("long"))
        .reduce(_ + _) + lit(1L)
    // ≤5³ rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      rfm.crossJoin(broadcast(bnd))
        .select(seg(col("recency"), col("rb")).as("r_seg"),
          seg(col("frequency"), col("fb")).as("f_seg"),
          seg(col("monetary_cents"), col("mb")).as("m_seg"),
          col("monetary_cents"))
        .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_cents")).as("sum_monetary_cents"))
        .orderBy(col("r_seg"), col("f_seg"), col("m_seg")),
      cust)
  }

  /** B98: daily percentile bands — p50/p90/p99 of event value per
    * (type, day), the latency-dashboard staple. Values quantize to
    * integer cents BEFORE the percentile (one deterministic rounding;
    * interpolation over integers is then bit-identical on any
    * engine), and each percentile divides back to currency at the
    * end. One (type, day) exchange, map-side combined.
    *
    * 100 TB note: exact percentile holds a per-group value→count
    * map — bounded by a day's distinct cents here; swap in
    * approx_percentile (t-digest sketch, partial-combinable) when a
    * group's value cardinality is unbounded. Same plan shape. */
  private def b98PercentileBands(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    Tables(s, dir, "events")
      .select(col("event_type"),
        Fns.floorDivLong(col("ts"), dayNs).as("__day"),
        round(col("value") * 100).cast("long").as("__cents"))
      .groupBy(col("event_type"), col("__day"))
      .agg(count(lit(1)).as("n_events"),
        expr("percentile(__cents, array(0.5D, 0.9D, 0.99D))").as("__p"))
      .select(col("event_type"),
        date_format(timestamp_seconds(col("__day") * 86400L), "yyyy-MM-dd")
          .as("event_date"),
        col("n_events"),
        round(element_at(col("__p"), 1) / 100, 4).as("p50"),
        round(element_at(col("__p"), 2) / 100, 4).as("p90"),
        round(element_at(col("__p"), 3) / 100, 4).as("p99"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** B99: CUSUM change-point flags over each type's daily count
    * series — the sequential-drift detector b82's trailing z-score
    * can't be (CUSUM accumulates small persistent shifts). The
    * recursion S_t = max(0, S_{t−1} + y_t) is re-expressed closed
    * form as cum_t − min(0, min_{j≤t} cum_j): two windows over the
    * \|days\| rollup, no iteration. The drift-adjusted deviation
    * quantizes ONCE to integer micro-units (k = mean + σ/2, h = 4σ,
    * both deterministic closed forms of integer sufficient stats), so
    * the running sums are BIGINT — engines can't drift apart on
    * window-fold association order, the classic segment-tree-vs-
    * sequential float trap. */
  private def b99Cusum(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    // the |days × types| rollup feeds both the stats pass and the
    // window pass — materialize it once so events cross ONE exchange
    // (without this the stats branch re-collapses the raw corpus)
    val daily = Tables(s, dir, "events")
      .select(col("event_type"), Fns.floorDivLong(col("ts"), dayNs).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("sn"),
        sum(col("n") * col("n")).as("snn"))
      .select(col("event_type"),
        // population σ from integer sufficient stats (closed form)
        round((col("sn").cast("double") / col("nd") +
          sqrt((col("snn").cast("double") -
            col("sn").cast("double") * col("sn") / col("nd")) / col("nd")) / 2)
          * 1e6).cast("long").as("k_mu"),
        round(sqrt((col("snn").cast("double") -
          col("sn").cast("double") * col("sn") / col("nd")) / col("nd"))
          * 4e6).cast("long").as("h_mu"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // |days × types| rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      daily.join(broadcast(stats), "event_type")
        .withColumn("__y_mu", col("n") * 1000000L - col("k_mu"))
        .withColumn("__cum", sum(col("__y_mu")).over(w))
        .withColumn("__cusum_mu",
          col("__cum") - least(lit(0L), min(col("__cum")).over(w)))
        .select(col("event_type"),
          date_format(timestamp_seconds(col("day") * 86400L), "yyyy-MM-dd")
            .as("day"),
          col("n"),
          round(col("__cusum_mu") / 1e6, 4).as("cusum"),
          (col("__cusum_mu") > col("h_mu")).cast("long").as("is_changepoint"))
        .orderBy(col("event_type"), col("day")),
      daily)
  }

  /** B100: last-touch revenue attribution — every purchase credited
    * to the user's most recent NON-purchase event type strictly
    * before it (the marketing-analytics staple; purchases with no
    * prior touch credit "(none)"). One user-keyed window (last-value
    * ignore-nulls over an unbounded-preceding frame shares the b12
    * funnel family's single sort), then a \|types\|-row rollup with
    * revenue in exact integer cents and share in exact ppm. */
  private def b100Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("attr",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("attr"), lit("(none)")).as("attributed_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("attributed_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .withColumn("__tot", sum(col("revenue_cents")).over(Window.partitionBy()))
      .select(col("attributed_type"), col("n_purchases"), col("revenue_cents"),
        expr("revenue_cents * 1000000 div __tot").as("share_ppm"))
      .orderBy(col("attributed_type"))
  }

  /** B101: order-to-ship lag bands — per order month, p50/p90 and
    * mean of days-from-order-to-ship across line items, plus late
    * share (>30 days) in exact ppm. The suite's one deliberate
    * FACT×FACT join: lineitem⋈orders on orderkey is genuinely
    * shuffle-sized on both sides, so the correct plan IS the
    * co-partitioned sort-merge join (AQE-sized); at warehouse scale
    * both tables bucket by orderkey and the exchange disappears —
    * the note every star-schema broadcast query here doesn't need.
    * Lag is integer days (date difference), percentiles interpolate
    * over integers. */
  private def b101ShipLag(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile(lag, array(0.5D, 0.9D))").as("__p"),
        sum(col("lag")).as("__sl"),
        sum((col("lag") > 30).cast("long")).as("__late"))
      .select(col("order_month"), col("n_lines"),
        round(element_at(col("__p"), 1), 1).as("p50_days"),
        round(element_at(col("__p"), 2), 1).as("p90_days"),
        round(col("__sl").cast("double") / col("n_lines"), 4).as("mean_days"),
        expr("__late * 1000000 div n_lines").as("late_ppm"))
      .orderBy(col("order_month"))

  /** B102: market-basket lift — part pairs co-ordered within an order,
    * lift vs independence in exact ppm, top-100 by lift (the retail
    * affinity report; b88 is the behavioral sibling on events). Pair
    * emission is b88's in-basket generator — sorted part set per
    * order, pairs via indexed slice/transform, fan-out bounded by
    * basket size² (TPC-H baskets ≤ 7 lines) — never a corpus-scale
    * (order,part) self-join. Margins broadcast; every statistic is
    * integer (lift_ppm = n_ab·N·10⁶ div n_a·n_b). */
  private def b102BasketLift(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOrders = op.select(countDistinct(col("o")).as("n_orders"))
    val marg = op.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pairs = op.groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("parts"))
      // codegen'd single-pass pair enumeration (r13): same pairs, same
      // order as the composed flatten/transform/slice HOF form, without
      // its interpreted lambda frames (PropertySpec pins equality)
      .select(explode(Fns.upperTrianglePairs(col("parts"))).as("pp"))
      .select(col("pp.a").as("pa"), col("pp.b").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    // 100 rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      pairs
        .join(broadcast(marg.withColumnRenamed("p", "pa")
          .withColumnRenamed("n_p", "n_a")), "pa")
        .join(broadcast(marg.withColumnRenamed("p", "pb")
          .withColumnRenamed("n_p", "n_b")), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("n_ab"),
          expr("n_ab * n_orders * 1000000 div (n_a * n_b)").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
        .limit(100),
      op)
  }

  /** B103: new-vs-returning revenue split — each day's purchases and
    * revenue attributed to users on their FIRST active day (any event
    * counts as activity) vs returning users: b93's growth
    * decomposition applied to money, the "is growth buying or
    * retention buying" report. The event projection persists and
    * feeds both branches (first-day per user, purchase rollup); one
    * user-keyed join classifies, the final rollup is \|days × 2\|
    * rows. Revenue in exact integer cents. */
  private def b103NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val e = Tables(s, dir, "events")
      .select(col("user_id"), Fns.floorDivLong(col("ts"), dayNs).as("day"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstDay = e.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val purch = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("pc"))
    // |days × 2| rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      purch.join(firstDay, "user_id")
        .withColumn("seg",
          when(col("day") === col("first_day"), "new").otherwise("returning"))
        .groupBy(col("day"), col("seg"))
        .agg(sum(col("n")).as("n_purchases"), sum(col("pc")).as("revenue_cents"),
          count(lit(1)).as("n_users"))
        .select(
          date_format(timestamp_seconds(col("day") * 86400L), "yyyy-MM-dd")
            .as("day"),
          col("seg"), col("n_purchases"), col("revenue_cents"), col("n_users"))
        .orderBy(col("day"), col("seg")),
      e)
  }

  /** B104: tie-corrected ROC AUC (the ClickHouse `arrayAUC` analog) of
    * a score column against a binary label, per customer segment —
    * does order price discriminate urgent orders, segment by segment.
    * Exact rational form via the rank-sum identity: with ascending
    * score ranks and average ranks on ties,
    * AUC = (Σ_pos rank_avg − P(P+1)/2) / (P·N); doubling clears the
    * halves, so auc_ppm = (S2 − P(P+1))·1e6 div (2·P·N) with
    * S2 = Σ_groups pos·(2·cum_before + n + 1) — every term int64.
    *
    * Scale shape: the per-(segment, score) pre-rollup collapses the
    * fact table BEFORE the sort (distinct scores, not rows, cross the
    * range exchange), the customer dim's broadcast is size-gated
    * (customer scales with SF), and the rank
    * cumulative is a running sum per segment — the same
    * sort-once-then-scan contract as b98. Int64 holds to ~3·10^12
    * rows·1e6; past that lift S2 to decimal(38,0). */
  private def b104Auc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("score_cents"),
      when(col("o_orderpriority") < "3", 1L).otherwise(0L).as("is_pos"))
    val seg = Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    graft.operators.Stats.aucBySegment(
        o.join(Tables.broadcastIfSmall(s, dir, "customer", seg),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", col("score_cents"), col("is_pos"))
      .orderBy(col("c_mktsegment"))
  }

  /** B105: the approx-distinct SESSION MODE (ClickHouse `uniq()`
    * semantics, [[graft.plans.ApproxDistinctRewrite]]), driver-checked:
    * with `spark.graft.approxDistinct=true` an UNCHANGED countDistinct
    * rollup must (a) actually plan as an HLL sketch — `rewrite_fired`
    * inspects the optimized plan for HllSketchAgg, so a silently-inert
    * rule fails the hash — and (b) estimate within ε of exact
    * (lgK=12 → 5% is ≥3σ). The conf flips only around the approx run
    * (restored in a finally) so the rest of the suite keeps exact
    * semantics; the collect is driver-bounded by \|event types\|. */
  private def b105ApproxMode(s: SparkSession, dir: String): DataFrame = {
    def rollup() = Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val prev = s.conf.getOption("spark.graft.approxDistinct")
    s.conf.set("spark.graft.approxDistinct", "true")
    val (fired, approx) =
      try {
        val df = rollup()
        val f = df.queryExecution.optimizedPlan.exists(_.expressions.exists(
          _.exists {
            case ae: AggregateExpression =>
              ae.aggregateFunction.isInstanceOf[HllSketchAgg]
            case _ => false
          }))
        (f, df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      } finally prev match {
        case Some(v) => s.conf.set("spark.graft.approxDistinct", v)
        case None => s.conf.unset("spark.graft.approxDistinct")
      }
    val exact = rollup().collect().map(r => r.getString(0) -> r.getLong(1))
    import s.implicits._
    exact.toSeq.sortBy(_._1).map { case (t, ex) =>
      val est = approx.getOrElse(t, -1L)
      (t, ex, if (fired) 1L else 0L,
        if (math.abs(est - ex) <= math.max(5.0, 0.05 * ex)) 1L else 0L)
    }.toDF("event_type", "n_users_exact", "rewrite_fired", "within_eps")
      .orderBy(col("event_type"))
  }

  /** B106: theta-sketch audience algebra (CH `uniqTheta`) — per
    * ordered event-type pair, the estimated \|A∖B\| and \|A∩B\| user
    * audiences next to exact per-type counts: "clicked but never
    * purchased" at sketch cost instead of an exact anti-join. HLL
    * (b34) cannot answer difference/intersection; theta's retained
    * k-min-hash set can, and its union is merge-order independent so
    * the estimates are deterministic. DuckDB ships no theta
    * implementation, so the driver-checked output is the CONTRACT:
    * exact \|A\| / \|A∖B\| / \|A∩B\| (a distinct-pair self-join —
    * the audit the sketch exists to avoid) plus `within_eps`
    * asserting every theta estimate lands within max(10, 5%·(\|A\|+
    * \|B\|)) of exact (k=4096 → ~4.7%·3σ; exact below k). One sketch
    * aggregation over events (partial-combined, ~2^12·8 B state per
    * group per partition), then a \|types\|² self-pair of the 5-row
    * sketch table. */
  private def b106ThetaDiff(s: SparkSession, dir: String): DataFrame = {
    val du = Tables(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct().persist()
    val sk = du.groupBy(col("event_type"))
      .agg(Fns.thetaSketch(col("user_id")).as("sk"),
        count(lit(1)).as("n_users"))
      .persist()
    val inter = du.toDF("ta", "ua")
      .join(du.toDF("tb", "ub"), col("ua") === col("ub"))
      .filter(col("ta") =!= col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_inter"))
    val tol = greatest(lit(10.0),
      lit(0.05) * (col("a.n_users") + col("b.n_users")))
    sk.as("a").crossJoin(sk.as("b"))
      .filter(col("a.event_type") =!= col("b.event_type"))
      .join(inter,
        col("a.event_type") === col("ta") && col("b.event_type") === col("tb"),
        "left")
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.n_users").as("n_a"),
        (col("a.n_users") - coalesce(col("n_inter"), lit(0L)))
          .as("a_not_b_exact"),
        coalesce(col("n_inter"), lit(0L)).as("a_and_b_exact"),
        (abs(Fns.thetaEstimate(col("a.sk")) - col("a.n_users")) <= tol &&
          abs(Fns.thetaAnotB(col("a.sk"), col("b.sk")) -
            (col("a.n_users") - coalesce(col("n_inter"), lit(0L)))) <= tol &&
          abs(Fns.thetaIntersect(col("a.sk"), col("b.sk")) -
            coalesce(col("n_inter"), lit(0L))) <= tol)
          .cast("long").as("within_eps"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val registry: Seq[Q] = Seq(
    Q("b104_auc", b104Auc,
      """WITH o AS (
           SELECT o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS score_cents,
             CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS is_pos
           FROM orders),
         j AS (
           SELECT c_mktsegment, score_cents, is_pos
           FROM o JOIN customer ON o_custkey = c_custkey),
         g AS (
           SELECT c_mktsegment, score_cents, count(*) AS n,
             CAST(sum(is_pos) AS BIGINT) AS n_pos
           FROM j GROUP BY 1, 2),
         r AS (
           SELECT *, sum(n) OVER (PARTITION BY c_mktsegment
             ORDER BY score_cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM g),
         a AS (
           SELECT c_mktsegment,
             CAST(sum(n_pos) AS BIGINT) AS p,
             CAST(sum(n - n_pos) AS BIGINT) AS nn,
             CAST(sum(n_pos * (2 * (cum - n) + n + 1)) AS BIGINT) AS s2
           FROM r GROUP BY 1)
         SELECT c_mktsegment, p AS n_pos, nn AS n_neg,
           (s2 - p * (p + 1)) * 1000000 // (2 * p * nn) AS auc_ppm
         FROM a ORDER BY c_mktsegment"""),
    Q("b103_new_vs_returning", b103NewVsReturning,
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             event_type, CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         fd AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1),
         p AS (
           SELECT user_id, day, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS pc
           FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (
           SELECT p.day,
             CASE WHEN p.day = fd.first_day THEN 'new'
               ELSE 'returning' END AS seg,
             n, pc
           FROM p JOIN fd USING (user_id))
         SELECT strftime(make_timestamp(day * 86400 * 1000000),
             '%Y-%m-%d') AS day,
           seg, CAST(sum(n) AS BIGINT) AS n_purchases,
           CAST(sum(pc) AS BIGINT) AS revenue_cents,
           count(*) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY day, seg"""),
    Q("b102_basket_lift", b102BasketLift,
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         n AS (SELECT count(DISTINCT o) AS n_orders FROM op),
         m AS (SELECT p, count(*) AS n_p FROM op GROUP BY p),
         pr AS (
           SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2),
         l AS (
           SELECT pa, pb, n_ab,
             n_ab * n_orders * 1000000 // (ma.n_p * mb.n_p) AS lift_ppm
           FROM pr
           CROSS JOIN n
           JOIN m ma ON ma.p = pr.pa
           JOIN m mb ON mb.p = pr.pb
           WHERE n_ab >= 2)
         SELECT pa, pb, n_ab, lift_ppm FROM l
         ORDER BY lift_ppm DESC, pa, pb LIMIT 100"""),
    Q("b101_ship_lag", b101ShipLag,
      """WITH j AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE)) AS BIGINT) AS lag
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         g AS (
           SELECT order_month, count(*) AS n_lines,
             quantile_cont(lag, [0.5, 0.9]) AS p,
             CAST(sum(lag) AS BIGINT) AS sl,
             CAST(sum(CASE WHEN lag > 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS late
           FROM j GROUP BY 1)
         SELECT order_month, n_lines,
           round(p[1], 1) AS p50_days, round(p[2], 1) AS p90_days,
           round(CAST(sl AS DOUBLE) / n_lines, 4) AS mean_days,
           late * 1000000 // n_lines AS late_ppm
         FROM g ORDER BY order_month"""),
    Q("b100_attribution", b100Attribution,
      """WITH a AS (
           SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                 THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
           FROM events),
         p AS (
           SELECT coalesce(attr, '(none)') AS attributed_type,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM a WHERE event_type = 'purchase'),
         g AS (
           SELECT attributed_type, count(*) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
           FROM p GROUP BY 1)
         SELECT attributed_type, n_purchases, revenue_cents,
           revenue_cents * 1000000 //
             CAST((SELECT sum(revenue_cents) FROM g) AS BIGINT) AS share_ppm
         FROM g ORDER BY attributed_type"""),
    Q("b98_percentile_bands", b98PercentileBands,
      """WITH e AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         g AS (
           SELECT event_type, event_date, count(*) AS n_events,
             quantile_cont(cents, [0.5, 0.9, 0.99]) AS p
           FROM e GROUP BY 1, 2)
         SELECT event_type, event_date, n_events,
           round(p[1] / 100, 4) AS p50,
           round(p[2] / 100, 4) AS p90,
           round(p[3] / 100, 4) AS p99
         FROM g ORDER BY event_type, event_date"""),
    Q("b99_cusum", b99Cusum,
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type, count(*) AS nd,
             CAST(sum(n) AS BIGINT) AS sn, CAST(sum(n * n) AS BIGINT) AS snn
           FROM daily GROUP BY 1),
         kh AS (
           SELECT event_type,
             CAST(round((CAST(sn AS DOUBLE) / nd
               + sqrt((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nd) / nd) / 2)
               * 1e6) AS BIGINT) AS k_mu,
             CAST(round(sqrt((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nd) / nd)
               * 4e6) AS BIGINT) AS h_mu
           FROM st),
         c AS (
           SELECT d.event_type, d.day, d.n, kh.h_mu,
             sum(d.n * 1000000 - kh.k_mu) OVER (PARTITION BY d.event_type
               ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS cum
           FROM daily d JOIN kh USING (event_type)),
         m AS (
           SELECT event_type, day, n, h_mu,
             cum - least(0, min(cum) OVER (PARTITION BY event_type
               ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum_mu
           FROM c)
         SELECT event_type,
           strftime(make_timestamp(day * 86400 * 1000000), '%Y-%m-%d') AS day,
           n, round(cusum_mu / 1e6, 4) AS cusum,
           CAST(cusum_mu > h_mu AS BIGINT) AS is_changepoint
         FROM m ORDER BY event_type, day"""),
    Q("b96_seasonal_naive", b96SeasonalNaive,
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         j AS (
           SELECT d.event_type, d.n, p.n AS pred
           FROM daily d JOIN daily p
             ON p.event_type = d.event_type AND p.day = d.day - 7),
         g AS (
           SELECT event_type, count(*) AS n_days,
             CAST(sum(abs(n - pred)) AS BIGINT) AS sum_abs_err,
             CAST(sum(n) AS BIGINT) AS sum_actual
           FROM j GROUP BY 1)
         SELECT event_type, n_days, sum_abs_err,
           round(CAST(sum_abs_err AS DOUBLE) / n_days, 4) AS mae,
           sum_abs_err * 1000000 // sum_actual AS wmape_ppm
         FROM g ORDER BY event_type"""),
    Q("b97_rfm", b97Rfm,
      """WITH cust AS (
           SELECT o_custkey, max(o_orderdate) AS last_order,
             count(*) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
           FROM orders GROUP BY 1),
         mx AS (SELECT max(last_order) AS max_d FROM cust),
         rfm AS (
           SELECT o_custkey,
             CAST(date_diff('day', CAST(last_order AS DATE),
               CAST(max_d AS DATE)) AS BIGINT) AS recency,
             frequency,
             CAST(mon * 100 AS BIGINT) AS monetary_cents
           FROM cust, mx),
         b AS (
           SELECT quantile_cont(recency, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mb
           FROM rfm),
         seg AS (
           SELECT
             1 + CAST(recency > rb[1] AS BIGINT) + CAST(recency > rb[2] AS BIGINT)
               + CAST(recency > rb[3] AS BIGINT) + CAST(recency > rb[4] AS BIGINT) AS r_seg,
             1 + CAST(frequency > fb[1] AS BIGINT) + CAST(frequency > fb[2] AS BIGINT)
               + CAST(frequency > fb[3] AS BIGINT) + CAST(frequency > fb[4] AS BIGINT) AS f_seg,
             1 + CAST(monetary_cents > mb[1] AS BIGINT) + CAST(monetary_cents > mb[2] AS BIGINT)
               + CAST(monetary_cents > mb[3] AS BIGINT) + CAST(monetary_cents > mb[4] AS BIGINT) AS m_seg,
             monetary_cents
           FROM rfm, b)
         SELECT r_seg, f_seg, m_seg, count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS sum_monetary_cents
         FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    Q("b94_dow_profile", b94DowProfile,
      """WITH cells AS (
           SELECT (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
             (epoch_ns(ts) // 3600000000000) % 24 AS hour,
             count(*) AS n_events,
             sum(CAST(value AS DECIMAL(18,2))) AS sv
           FROM events GROUP BY 1, 2)
         SELECT dow, hour, n_events,
           CAST(n_events * 1000000 // CAST((SELECT sum(n_events) FROM cells) AS BIGINT) AS BIGINT) AS share_ppm,
           round(CAST(sv AS DOUBLE) / n_events, 4) AS mean_value
         FROM cells ORDER BY dow, hour"""),
    Q("b95_lag_corr", b95LagCorr,
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         a AS (SELECT day, n AS na FROM daily WHERE event_type = 'click'),
         b AS (SELECT day, n AS nb FROM daily WHERE event_type = 'purchase'),
         j AS (
           SELECT l.lag AS lag, a.na, b.nb
           FROM a CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS lag) l
           JOIN b ON b.day = a.day + l.lag),
         g AS (
           SELECT lag, count(*) AS n,
             CAST(sum(na) AS BIGINT) AS sa, CAST(sum(nb) AS BIGINT) AS sb,
             CAST(sum(na * nb) AS BIGINT) AS sab,
             CAST(sum(na * na) AS BIGINT) AS saa,
             CAST(sum(nb * nb) AS BIGINT) AS sbb
           FROM j GROUP BY lag)
         SELECT lag, n,
           round(CAST(n * sab - sa * sb AS DOUBLE) /
             (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
              sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS corr
         FROM g ORDER BY lag"""),
    Q("b93_growth_accounting", b93GrowthAccounting,
      """WITH ud AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         cl AS (
           SELECT d, user_id,
             lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev
           FROM ud),
         st AS (
           SELECT d,
             CASE WHEN prev IS NULL THEN 'new'
                  WHEN date_diff('day', prev, d) = 1 THEN 'retained'
                  ELSE 'resurrected' END AS status
           FROM cl),
         daily AS (
           SELECT d,
             CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             count(*) AS dau
           FROM st GROUP BY d),
         lagged AS (
           SELECT *, lag(dau) OVER (ORDER BY d) AS prev_dau,
             lag(d) OVER (ORDER BY d) AS prev_d
           FROM daily)
         SELECT strftime(d, '%Y-%m-%d') AS day,
           n_new, n_retained, n_resurrected, dau,
           CASE WHEN prev_dau IS NOT NULL AND date_diff('day', prev_d, d) = 1
             THEN prev_dau - n_retained END AS n_churned
         FROM lagged ORDER BY day"""),
    // b105: the estimate is engine-specific; the driver checks the exact
    // counts plus the in-query rule-fired and ε flags (literal-true here).
    Q("b105_approx_mode", b105ApproxMode,
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
           CAST(1 AS BIGINT) AS rewrite_fired,
           CAST(1 AS BIGINT) AS within_eps
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // b106: DuckDB ships no theta sketch; the driver checks the exact
    // audience algebra plus the in-query ε flag (literal-true here).
    Q("b106_theta_diff", b106ThetaDiff,
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         n AS (SELECT event_type, count(*) AS n FROM du GROUP BY event_type),
         i AS (SELECT x.event_type AS ta, y.event_type AS tb,
                 count(*) AS n_inter
               FROM du x JOIN du y
                 ON x.user_id = y.user_id AND x.event_type <> y.event_type
               GROUP BY 1, 2)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a,
           a.n - COALESCE(i.n_inter, 0) AS a_not_b_exact,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS a_and_b_exact,
           CAST(1 AS BIGINT) AS within_eps
         FROM n a JOIN n b ON a.event_type <> b.event_type
         LEFT JOIN i ON i.ta = a.event_type AND i.tb = b.event_type
         ORDER BY type_a, type_b""")
  )
}
