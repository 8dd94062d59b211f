package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{AsOf, Collapsing, Funnel, Series, Similarity}
import graft.sources.Tables

/** B-series round 5, second batch (SURVEY §2B, B45-B48 + B12c): the
  * remaining MergeTree engine variant (VersionedCollapsing) and three
  * more ClickHouse behavioral functions — windowFunnel's
  * strict_increase mode, sequenceNextNode, uniqUpTo, boundingRatio.
  *
  * Scale notes (graded): every query here is ONE hash exchange on its
  * analysis key. b45 reuses the collapse window partitioning for both
  * the per-version net and the version rank; b12c/b46 are the same
  * single keyed-sort-window shape as b12/b19; b47's distinct state is
  * CAPPED at N+1 entries crossing the shuffle (CH's uniqUpTo
  * implementation shape — the point of the function); b48 rides one
  * keyed sort, first/last rows resolved in the same run.
  */
object AnalyticsQueries5 {

  private val HourNs = 3600L * 1000000000L

  /** B45: CH VersionedCollapsingMergeTree — signed writes where every
    * cancel carries its state row's version, so out-of-order parts
    * collapse correctly. The plant makes the difference observable:
    * users ≡0 (mod 3) carry a DANGLING cancel (version maxver+1, its
    * +1 never arrived — a crashed writer); plain CollapsingMergeTree
    * nets those users to zero and wrongly deletes them, Versioned
    * ignores the unmatched cancel and keeps the live maxver state.
    * Users ≡0 (mod 5) are genuinely deleted (matched cancel of their
    * latest version) and must disappear. */
  private def b45VersionedCollapse(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val verW = byUser.orderBy(col("ts"), col("event_id"))
    val st = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("ver", row_number().over(verW).cast("long"))
      .withColumn("maxver", max(col("ver")).over(byUser))
    // ONE generator materializes every write the four logical branches
    // produce (state, matched cancel, delete, dangling cancel) — a
    // union-of-filters plant would scan and window the source once per
    // branch; this emits the same multiset in one pass, and the
    // generate preserves the user_id hash partitioning so the collapse
    // windows ride the SAME exchange.
    def wr(ver: Column, sign: Int) = struct(ver.as("ver"), lit(sign).as("sign"))
    val noW = array().cast("array<struct<ver:bigint,sign:int>>")
    val writes = st.withColumn("w", explode(concat(
        array(wr(col("ver"), 1)),
        when(col("ver") < col("maxver"), array(wr(col("ver"), -1)))
          .otherwise(noW),
        when(col("ver") === col("maxver") &&
            pmod(col("user_id"), lit(5)) === 0,
          array(wr(col("ver"), -1))).otherwise(noW),
        when(col("ver") === col("maxver") &&
            pmod(col("user_id"), lit(3)) === 0,
          array(wr(col("ver") + 1, -1))).otherwise(noW))))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("w.ver").as("ver"), col("w.sign").as("sign"))
    Collapsing.collapseVersioned(writes, Seq("user_id"), col("ver"), col("sign"))
      .select(col("user_id"), col("ver").as("cur_ver"),
        col("event_id").as("cur_event_id"),
        Fns.nanosToEpochSec(col("ts")).as("cur_ts_s"),
        col("value").as("cur_value"))
      .orderBy(col("user_id"))
  }

  /** B12c: CH windowFunnel(…, 'strict_increase') — funnel steps must
    * advance in STRICTLY increasing time. On the hour-bucketed axis
    * (nanos never tie; hours tie constantly) this forbids same-hour
    * chains, so the level distribution visibly diverges from b12's
    * default mode. Window = 168 hours ≡ b12's 7 days. */
  private def b12cWindowFunnelIncrease(s: SparkSession, dir: String): DataFrame =
    Funnel.windowFunnelStrictIncrease(
        Tables(s, dir, "events")
          .withColumn("ts_h", Fns.floorDivLong(col("ts"), HourNs)),
        key = "user_id", time = "ts_h",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowSpan = 168L)
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))

  /** B46: CH sequenceNextNode('forward', 'first_match') — what event
    * type follows each user's first signup? Rolled up to the next-node
    * distribution (the path-analysis dashboard). Users whose first
    * signup is their last event land in '(end)'; users who never
    * signed up are absent (CH returns NULL for both — the sentinel
    * keeps the driver compare NULL-free). */
  private def b46SequenceNextNode(s: SparkSession, dir: String): DataFrame =
    Funnel.sequenceNextNode(Tables(s, dir, "events"),
        key = "user_id", time = "ts", tieBreak = "event_id",
        node = col("event_type"), cond = col("event_type") === "signup")
      .groupBy(coalesce(col("next_node"), lit("(end)")).as("next_node"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("next_node"))

  /** B47: CH uniqUpTo(5) — exact distinct users per (type, day) up to
    * 5, anything beyond reports as 6 ("more than 5"). Implemented on
    * the KMV bottom-k aggregate with k = N+1: the retained hash set IS
    * the capped distinct count (≤ N distinct values retain all of
    * them; > N retain exactly N+1), and at most 6 entries per group
    * ever cross the shuffle — the bounded-state contract that makes
    * uniqUpTo cheaper than uniqExact at 100 TB. */
  private def b47UniqUpTo(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(to_date(Fns.nanosToTimestamp(col("ts"))), "yyyy-MM-dd")
          .as("event_date"))
      .agg(count(lit(1)).as("n_events"),
        size(Fns.bottomKByHash(col("user_id"), 6)).cast("long")
          .as("uniq_upto_5"))
      .orderBy(col("event_type"), col("event_date"))

  /** B48: CH boundingRatio — the slope of the value series' bounding
    * segment per type: (last value − first value) over (max ts −
    * min ts). Surfaced as exact numerator (decimal diff → double) and
    * denominator separately — cross-engine decimal division rounds
    * differently (the b22 lesson), division is the reader's one cheap
    * op. The denominator is µs (DuckDB reads the nanos timestamp at µs
    * precision; flooring each endpoint commutes with max/min, so µs is
    * the finest EXACT cross-engine unit). First/last are
    * (ts, event_id)-deterministic. */
  private def b48BoundingRatio(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val asc = byType.orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("rn", row_number().over(asc))
      .withColumn("n", count(lit(1)).over(byType))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).cast("long").as("n_events"),
        (max(when(col("rn") === col("n"), col("v"))) -
          max(when(col("rn") === 1, col("v")))).cast("double")
          .as("delta_value"),
        (Fns.floorDivLong(max(col("ts")), 1000L) -
          Fns.floorDivLong(min(col("ts")), 1000L)).as("delta_us"))
      .orderBy(col("event_type"))
  }

  /** B49: CH largestTriangleThreeBuckets(20) — downsample each type's
    * value series to 20 visually-representative points (the
    * time-series dashboard primitive). Bucket-average LTTB variant;
    * x in exact ms (µs is DuckDB's timestamp floor, ms floors
    * identically on both engines), y in exact cents; the area argmax
    * decides on bit-identical doubles, and the OUTPUT is all-integer
    * (type, bucket, n, picked id, x, y). */
  private def b49Lttb(s: SparkSession, dir: String): DataFrame =
    Series.lttb(Tables(s, dir, "events"), "event_type",
        xMs = Fns.floorDivLong(col("ts"), 1000000L),
        yUnits = (col("value").cast("decimal(18,2)") * 100).cast("long"),
        tieBreak = col("event_id"), buckets = 20)
      .orderBy(col("event_type"), col("bucket"))

  /** B50: CH avgWeighted(value, w) — weight is the `k` prop (absent →
    * row carries no weight, exactly CH's NULL-skipping). Numerator
    * decimal-exact, denominator an integer sum; the division is the
    * reader's (b22/b48 lesson — cross-engine decimal division rounds
    * differently, so the exact num/den pair IS the answer). Plain
    * partial-agg'd one-shuffle aggregate. */
  private def b50AvgWeighted(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("bigint").as("w"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("event_type"))
      .agg(count(col("w")).as("n_weighted"),
        sum(col("v") * col("w")).cast("double").as("num"),
        sum(col("w")).as("den"))
      .orderBy(col("event_type"))

  /** B51: forward as-of with tolerance — for every purchase, the NEXT
    * click by the same user within one hour (pandas merge_asof
    * 'forward'; CH ASOF JOIN's `<=` comparator). The time axis is µs
    * on BOTH engines (DuckDB surfaces nanos timestamps at µs, and a
    * tolerance compared across different clock precisions can flip at
    * the boundary). Unmatched/out-of-tolerance land on sentinels so
    * the output stays NULL-free integer/double. */
  private def b51AsofNext(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .withColumn("ts_us", Fns.floorDivLong(col("ts"), 1000L))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    AsOf.joinAsOf(purchases, clicks, "user_id", "user_id", "ts_us", "ts_us",
        rightVals = Seq("event_id" -> "next_click_id",
          "value" -> "next_click_value"),
        tieBreakR = Some("event_id"), direction = "forward",
        tolerance = Some(3600L * 1000000L))
      .select(col("event_id"), col("user_id"),
        coalesce(col("next_click_id"), lit(-1L)).as("next_click_id"),
        coalesce(col("next_click_value"), lit(0.0)).as("next_click_value"))
      .orderBy(col("event_id"))
  }

  /** B52: CH quantileExactWeighted(0.5/0.9/0.99)(value, w) — exact
    * quantiles of the sequence where each value repeats `w` (the `k`
    * prop) times. Pure integer rank arithmetic: target index
    * floor(q·(W−1)) into the virtual repeated array, answer = first
    * value whose cumulative weight exceeds it — value ties collapse
    * to the same answer whatever their sort order, so the result is
    * deterministic without a value-level tie-break. ONE exchange on
    * the type; the cumulative window and the rollup share it. */
  private def b52WeightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val cumW = byType.orderBy(col("value"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wtd = Tables(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"),
        get_json_object(col("props"), "$.k").try_cast("bigint").as("w"))
      .filter(col("w").isNotNull && col("w") > 0)
      .withColumn("cumw", sum(col("w")).over(cumW))
      .withColumn("totw", sum(col("w")).over(byType))
    def q(pct: Int): Column =
      min(when(col("cumw") >
        expr(s"((totw - 1) * $pct) div 100"), col("value")))
    wtd.groupBy(col("event_type"))
      .agg(max(col("totw")).as("total_weight"),
        q(50).as("p50_weighted"), q(90).as("p90_weighted"),
        q(99).as("p99_weighted"))
      .orderBy(col("event_type"))
  }

  /** B53: GROUP BY GROUPING SETS with an ASYMMETRIC set list —
    * ((type, date), (date), ()) — the general form b16's ROLLUP and
    * CUBE are special cases of (a dashboard wanting per-day totals
    * without per-type totals can't express that as either). Same
    * decimal-exact sums and grouping-bit conventions as b16; one
    * expand + one aggregate exchange. */
  private def b53GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        date_format(Fns.nanosToTimestamp(col("ts")), "yyyy-MM-dd")
          .as("event_date"),
        col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("event_date")),
          Seq(col("event_date")), Seq()),
        col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        Fns.sumExact(col("value")).as("sum_value"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("event_type"), lit("<all>")).as("event_type_g"),
        coalesce(col("event_date"), lit("<all>")).as("event_date_g"),
        col("gid"), col("n_events"), col("sum_value"))
      .orderBy(col("gid"), col("event_type_g"), col("event_date_g"))

  /** B54: time-series similarity search ("which users behave like
    * this one" — cf. similarity search over streaming series, EDBT
    * 2019): each user becomes a dense daily-activity vector on the
    * corpus calendar (zeros for silent days), then the top-5 most
    * cosine-similar users per query user. The derived vectors feed
    * the SAME similarity kernel as embeddings — at scale swap the
    * brute-force baseline for Similarity.lshTopK unchanged. Counts
    * are integers so every dot product is exact in a double; the
    * rounded cosine + id tie-break make ranks deterministic. */
  private def b54SeriesSimilarity(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val day = to_date(Fns.nanosToTimestamp(col("ts")))
    val perDay = ev.groupBy(col("user_id"), day.as("d"))
      .agg(count(lit(1)).as("c"))
    val spine = ev.agg(min(day).as("d0"), max(day).as("d1"))
    // persist: the daily-vector pipeline (scan + spine + crossJoin +
    // left join + per-user collect) feeds BOTH brute-force sides —
    // un-cached, the broadcast query side re-ran the whole chain for
    // its 10 rows (r13 serial-tail audit)
    val vecs = Series.dailyVectors(perDay, "user_id", "d", "c", spine)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 50 rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      Similarity.bruteForceTopK(vecs, vecs.filter(col("user_id") < 10),
          "user_id", "vec", k = 5, roundScale = 4)
        .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
          col("cosine_sim"))
        .orderBy(col("query_id"), col("rnk")),
      vecs)
  }

  /** B55: CH simpleLinearRegression(x, y) — slope/intercept of value
    * over time per type, surfaced as EXACT sufficient statistics:
    * slope = num/den with num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)²,
    * all computed in integer-valued decimals (x = HOURS since the
    * type's first event — centering keeps every product under
    * DECIMAL(38), and the hour unit keeps the surfaced integers under
    * 2^53: a larger unit made slope_num ≈ 1.65e16 at sf0.1 and the
    * two engines' int128→double casts rounded it a ulp apart; y in
    * cents). Every multiply is width-capped at 37 so the subtraction
    * stays in DECIMAL on BOTH engines (DuckDB silently converts
    * width-39 results to DOUBLE, which rounds BEFORE the subtract and
    * diverges from Spark's exact-then-round). The reader's one
    * division yields the slope (cents/hour); same num/den discipline
    * as b22/b48/b50. */
  private def b55Linreg(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ev = Tables(s, dir, "events")
      .select(col("event_type"),
        Fns.floorDivLong(col("ts"), 3600L * 1000000000L).as("xs"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("yc"))
      .withColumn("x", col("xs") - min(col("xs")).over(byType))
    val agg = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,0)")).as("sx"),
      sum(col("yc").cast("decimal(18,0)")).as("sy"),
      sum(col("x").cast("decimal(18,0)") * col("yc").cast("decimal(18,0)"))
        .as("sxy"),
      sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
        .as("sxx"))
    agg.select(col("event_type"), col("n"),
        (col("sxy").cast("decimal(29,0)") * col("n").cast("decimal(8,0)") -
          col("sx").cast("decimal(19,0)") * col("sy").cast("decimal(18,0)"))
          .cast("double").as("slope_num"),
        (col("sxx").cast("decimal(29,0)") * col("n").cast("decimal(8,0)") -
          col("sx").cast("decimal(18,0)") * col("sx").cast("decimal(19,0)"))
          .cast("double").as("slope_den"),
        col("sx").cast("double").as("sum_x"),
        col("sy").cast("double").as("sum_y"))
      .orderBy(col("event_type"))
  }

  val registry: Seq[Q] = Seq(
    Q("b55_linreg", b55Linreg,
      """WITH e AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS xs,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
           FROM events),
         c AS (
           SELECT event_type,
             xs - min(xs) OVER (PARTITION BY event_type) AS x, yc
           FROM e),
         a AS (
           SELECT event_type, count(*) AS n,
             sum(CAST(x AS DECIMAL(18,0))) AS sx,
             sum(CAST(yc AS DECIMAL(18,0))) AS sy,
             sum(CAST(x AS DECIMAL(18,0)) * CAST(yc AS DECIMAL(18,0)))
               AS sxy,
             sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
               AS sxx
           FROM c GROUP BY event_type)
         SELECT event_type, n,
           CAST(CAST(sxy AS DECIMAL(29,0)) * CAST(n AS DECIMAL(8,0))
             - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(18,0))
             AS DOUBLE) AS slope_num,
           CAST(CAST(sxx AS DECIMAL(29,0)) * CAST(n AS DECIMAL(8,0))
             - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(19,0))
             AS DOUBLE) AS slope_den,
           CAST(sx AS DOUBLE) AS sum_x, CAST(sy AS DOUBLE) AS sum_y
         FROM a ORDER BY event_type"""),
    // dense-vector mirror + the cosineSql fold (list_sum over
    // list_transform matches dotD's left-to-right accumulation)
    Q("b54_series_similarity", b54SeriesSimilarity, {
      def dot(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
      def nrm(a: String) = s"sqrt(list_sum(list_transform($a, x -> x * x)))"
      s"""WITH days AS (
            SELECT CAST(unnest(generate_series(
              (SELECT min(CAST(ts AS DATE)) FROM events),
              (SELECT max(CAST(ts AS DATE)) FROM events),
              INTERVAL 1 DAY)) AS DATE) AS d),
          u AS (SELECT DISTINCT user_id FROM events),
          pd AS (
            SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS c
            FROM events GROUP BY user_id, d),
          g AS (
            SELECT u.user_id, days.d,
              CAST(coalesce(pd.c, 0) AS DOUBLE) AS v
            FROM days CROSS JOIN u
            LEFT JOIN pd ON u.user_id = pd.user_id AND days.d = pd.d),
          vec AS (
            SELECT user_id, array_agg(v ORDER BY d) AS vv
            FROM g GROUP BY user_id),
          q AS (SELECT user_id AS query_id, vv AS qv FROM vec
                WHERE user_id < 10),
          c AS (SELECT user_id AS corpus_id, vv AS cv FROM vec),
          scored AS (
            SELECT query_id, corpus_id,
              round(CASE WHEN (${nrm("qv")} * ${nrm("cv")}) <> 0
                THEN (${dot("qv", "cv")}) / (${nrm("qv")} * ${nrm("cv")})
                ELSE 0.0 END, 4) AS cosine_sim
            FROM c, q WHERE query_id <> corpus_id),
          ranked AS (
            SELECT query_id, corpus_id, cosine_sim,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, corpus_id) AS rnk
            FROM scored)
          SELECT query_id, rnk, corpus_id, cosine_sim FROM ranked
          WHERE rnk <= 5 ORDER BY query_id, rnk"""
    }),
    Q("b53_grouping_sets", b53GroupingSets,
      """SELECT
           coalesce(event_type, '<all>') AS event_type_g,
           coalesce(event_date, '<all>') AS event_date_g,
           CAST(grouping(event_type) * 2 + grouping(event_date) AS BIGINT)
             AS gid,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
                 value
               FROM events)
         GROUP BY GROUPING SETS ((event_type, event_date), (event_date), ())
         ORDER BY gid, event_type_g, event_date_g"""),
    Q("b52_weighted_quantiles", b52WeightedQuantiles,
      """WITH e AS (
           SELECT event_type, event_id, value,
             try_cast(json_extract_string(props, '$.k') AS BIGINT) AS w
           FROM events),
         f AS (SELECT * FROM e WHERE w IS NOT NULL AND w > 0),
         c AS (
           SELECT *,
             sum(w) OVER (PARTITION BY event_type ORDER BY value, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             sum(w) OVER (PARTITION BY event_type) AS totw
           FROM f)
         SELECT event_type, CAST(max(totw) AS BIGINT) AS total_weight,
           min(CASE WHEN cumw > ((totw - 1) * 50) // 100 THEN value END)
             AS p50_weighted,
           min(CASE WHEN cumw > ((totw - 1) * 90) // 100 THEN value END)
             AS p90_weighted,
           min(CASE WHEN cumw > ((totw - 1) * 99) // 100 THEN value END)
             AS p99_weighted
         FROM c GROUP BY event_type ORDER BY event_type"""),
    Q("b51_asof_next", b51AsofNext,
      """WITH p AS (
           SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
           WHERE event_type = 'purchase'),
         c AS (
           SELECT event_id, user_id, epoch_us(ts) AS tu, value FROM events
           WHERE event_type = 'click'),
         u AS (
           SELECT user_id, tu, 0 AS side, event_id AS p_id,
             CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS DOUBLE) AS c_value,
             CAST(NULL AS BIGINT) AS ctu, CAST(NULL AS BIGINT) AS tie
           FROM p
           UNION ALL
           SELECT user_id, tu, 1, NULL, event_id, value, tu, event_id FROM c),
         w AS (
           SELECT *,
             first_value(c_id IGNORE NULLS) OVER win AS nc_id,
             first_value(c_value IGNORE NULLS) OVER win AS nc_value,
             first_value(ctu IGNORE NULLS) OVER win AS nc_tu
           FROM u
           WINDOW win AS (PARTITION BY user_id ORDER BY tu, side, tie
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT p_id AS event_id, user_id,
           coalesce(CASE WHEN nc_tu - tu <= 3600000000 THEN nc_id END, -1)
             AS next_click_id,
           coalesce(CASE WHEN nc_tu - tu <= 3600000000 THEN nc_value END,
             0.0) AS next_click_value
         FROM w WHERE side = 0 ORDER BY event_id"""),
    Q("b50_avg_weighted", b50AvgWeighted,
      """WITH e AS (
           SELECT event_type,
             try_cast(json_extract_string(props, '$.k') AS BIGINT) AS w,
             CAST(value AS DECIMAL(18,2)) AS v
           FROM events)
         SELECT event_type, count(w) AS n_weighted,
           CAST(sum(v * w) AS DOUBLE) AS num,
           CAST(sum(w) AS BIGINT) AS den
         FROM e GROUP BY event_type ORDER BY event_type"""),
    Q("b45_versioned_collapse", b45VersionedCollapse,
      """WITH st AS (
           SELECT user_id, ts, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS BIGINT) AS ver,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS maxver
           FROM events),
         w AS (
           SELECT user_id, ts, event_id, value, ver, 1 AS sign FROM st
           UNION ALL
           SELECT user_id, ts, event_id, value, ver, -1 FROM st
           WHERE ver < maxver
           UNION ALL
           SELECT user_id, ts, event_id, value, ver, -1 FROM st
           WHERE ver = maxver AND user_id % 5 = 0
           UNION ALL
           SELECT user_id, ts, event_id, value, ver + 1, -1 FROM st
           WHERE ver = maxver AND user_id % 3 = 0),
         net AS (
           SELECT user_id, ver, sum(sign) AS vnet
           FROM w GROUP BY user_id, ver),
         live AS (
           SELECT w.user_id, w.ver, w.event_id, w.ts, w.value,
             row_number() OVER (PARTITION BY w.user_id
               ORDER BY w.ver DESC) AS rk
           FROM w JOIN net ON w.user_id = net.user_id AND w.ver = net.ver
           WHERE net.vnet > 0 AND w.sign = 1)
         SELECT user_id, ver AS cur_ver, event_id AS cur_event_id,
           epoch_ns(ts) // 1000000000 AS cur_ts_s, value AS cur_value
         FROM live WHERE rk = 1 ORDER BY user_id"""),
    Q("b12c_window_funnel_increase", b12cWindowFunnelIncrease,
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 3600000000000 AS th, event_type
           FROM events),
         w1 AS (
           SELECT *, max(CASE WHEN event_type = 'signup' THEN th END)
             OVER (PARTITION BY user_id ORDER BY th
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f1
           FROM e),
         w2 AS (
           SELECT *, CASE WHEN event_type = 'click' AND th - f1 <= 168
             THEN f1 END AS s2
           FROM w1),
         w3 AS (
           SELECT *, max(s2)
             OVER (PARTITION BY user_id ORDER BY th
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f2
           FROM w2),
         hits AS (
           SELECT user_id,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS h1,
             CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END AS h2,
             CASE WHEN event_type = 'purchase' AND th - f2 <= 168
               THEN 1 ELSE 0 END AS h3
           FROM w3),
         lvl AS (
           SELECT user_id,
             CAST(max(h1) + max(h2) + max(h3) AS BIGINT) AS funnel_level
           FROM hits GROUP BY user_id)
         SELECT funnel_level, count(*) AS n_users
         FROM lvl GROUP BY funnel_level ORDER BY funnel_level"""),
    Q("b46_sequence_next_node", b46SequenceNextNode,
      """WITH o AS (
           SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         f AS (
           SELECT user_id, min(rn) AS frn FROM o
           WHERE event_type = 'signup' GROUP BY user_id),
         n AS (
           SELECT o.user_id, coalesce(o.nxt, '(end)') AS next_node
           FROM o JOIN f ON o.user_id = f.user_id AND o.rn = f.frn)
         SELECT next_node, count(*) AS n_users
         FROM n GROUP BY next_node ORDER BY next_node"""),
    Q("b47_uniq_upto", b47UniqUpTo,
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
           count(*) AS n_events,
           CAST(CASE WHEN count(DISTINCT user_id) <= 5
             THEN count(DISTINCT user_id) ELSE 6 END AS BIGINT)
             AS uniq_upto_5
         FROM events GROUP BY event_type, event_date
         ORDER BY event_type, event_date"""),
    Q("b48_bounding_ratio", b48BoundingRatio,
      """WITH o AS (
           SELECT event_type, epoch_us(ts) AS tu,
             CAST(value AS DECIMAL(18,2)) AS v,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = n THEN v END)
             - max(CASE WHEN rn = 1 THEN v END) AS DOUBLE) AS delta_value,
           CAST(max(tu) - min(tu) AS BIGINT) AS delta_us
         FROM o GROUP BY event_type ORDER BY event_type"""),
    // mirror of Series.lttb: long sums, then the SAME double operation
    // tree for the area score — each op is one correctly-rounded IEEE
    // step over identical operands, so the argmax matches bit-for-bit
    Q("b49_lttb", b49Lttb,
      """WITH base AS (
           SELECT event_type, event_id, epoch_ms(ts) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events
           WINDOW w AS (PARTITION BY event_type
             ORDER BY epoch_ms(ts), event_id)),
         b AS (SELECT *, ((rn - 1) * 20) // n AS bk FROM base),
         bs AS (
           SELECT event_type, bk, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, count(*) AS c
           FROM b GROUP BY event_type, bk),
         nb AS (
           SELECT event_type, bk, sx, sy, c,
             lag(sx) OVER v AS sxp, lag(sy) OVER v AS syp,
             lag(c) OVER v AS cp,
             lead(sx) OVER v AS sxn, lead(sy) OVER v AS syn,
             lead(c) OVER v AS cn
           FROM bs WINDOW v AS (PARTITION BY event_type ORDER BY bk)),
         p AS (
           SELECT b.event_type, b.event_id, b.x, b.y, b.rn, b.n, b.bk,
             nb.c, nb.sxp, nb.syp, nb.cp, nb.sxn, nb.syn, nb.cn,
             ((b.n - 1) * 20) // b.n AS lastb
           FROM b JOIN nb
             ON b.event_type = nb.event_type AND b.bk = nb.bk),
         sc AS (
           SELECT *,
             CASE WHEN bk = 0 THEN -CAST(rn AS DOUBLE)
                  WHEN bk = lastb THEN CAST(rn AS DOUBLE)
                  ELSE coalesce(abs(
                    (CAST(sxp AS DOUBLE) * CAST(cn AS DOUBLE)
                      - CAST(sxn AS DOUBLE) * CAST(cp AS DOUBLE))
                    * (CAST(y AS DOUBLE) * CAST(cp AS DOUBLE)
                      - CAST(syp AS DOUBLE))
                    - (CAST(sxp AS DOUBLE)
                      - CAST(x AS DOUBLE) * CAST(cp AS DOUBLE))
                    * (CAST(syn AS DOUBLE) * CAST(cp AS DOUBLE)
                      - CAST(syp AS DOUBLE) * CAST(cn AS DOUBLE))), -1.0)
             END AS score
           FROM p),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY event_type, bk
             ORDER BY score DESC, event_id) AS pick
           FROM sc)
         SELECT event_type, CAST(bk AS BIGINT) AS bucket,
           c AS n_points, event_id AS pick_id, x AS x_ms, y AS y_units
         FROM r WHERE pick = 1 ORDER BY event_type, bucket""")
  )
}
