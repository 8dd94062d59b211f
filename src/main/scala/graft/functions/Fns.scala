package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks shared by graft operators.
  *
  * Everything composes Spark's codegen'd built-ins — no Scala UDFs — so
  * whole-stage codegen spans stay wide and Catalyst can push/prune
  * around them. Cross-engine determinism (the DuckDB oracle) dictates
  * two rules: md5 is the only hash (identical hex in both engines), and
  * float reductions either happen in decimal or get rounded at the end.
  */
object Fns {

  /** Lower-cased whitespace tokens; empty array for blank text.
    * Byte-exact with `regexp_extract_all(lower(trim(text)), '\\S+', 0)`
    * on valid UTF-8 — the DuckDB oracle keeps the regex form — via one
    * native byte scan instead of a UTF-16 transcode + regex walk per
    * row. On malformed UTF-8 the native scan preserves original bytes
    * where the regex path would substitute U+FFFD; see
    * [[graft.plans.WhitespaceTokens]] for the declared divergence. */
  def tokens(text: Column): Column =
    graft.plans.Cols.column(graft.plans.WhitespaceTokens(
      graft.plans.Cols.expression(lower(trim(text)))))

  /** Whitespace-normalized lower-cased text (dedup canonical form). */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Word n-grams ("shingles") of a token array, space-joined.
    * Order-preserving; empty array when fewer than n tokens (or null
    * input). Native codegen'd expression — the composed HOF form costs
    * ~1 ms/row interpreted (see [[graft.plans.WordNGrams]]). */
  def wordNGrams(toks: Column, n: Int): Column =
    coalesce(
      graft.plans.Cols.column(
        graft.plans.WordNGrams(graft.plans.Cols.expression(toks), n)),
      array().cast("array<string>"))

  /** MinHash component j (0..7) over a shingle array: min over shingles
    * of an 8-hex-char window of the shingle's md5 (components 0-3 window
    * md5(s), 4-7 window md5(s || "#")). Two md5s per shingle yield all
    * eight components — 4× less hashing than salting md5 per component.
    * String-min over lowercase hex is a total order both Spark and
    * DuckDB agree on. */
  def minHash(shingles: Column, j: Int): Column = {
    require(j >= 0 && j < 8, "minHash component must be in 0..7")
    val hashed =
      if (j < 4) transform(shingles, s => md5(s))
      else transform(shingles, s => md5(concat(s, lit("#"))))
    val off = (j % 4) * 8
    array_min(transform(hashed, m => substring(m, off + 1, 8)))
  }

  /** LSH band key: one md5 over the band's signature components. */
  def bandKey(sig: Seq[Column]): Column = md5(concat_ws("|", sig: _*))

  /** Dot product of two double arrays — native codegen'd expression,
    * same sequential accumulation order as the fold form (see
    * [[graft.plans.DotProductD]]; LSH sign decisions are bit-exact). */
  def dotD(a: Column, b: Column): Column =
    graft.plans.Cols.column(graft.plans.DotProductD(
      graft.plans.Cols.expression(a), graft.plans.Cols.expression(b)))

  /** Cosine similarity of two double arrays, rounded for cross-engine
    * float stability (last-ulp differences between engines). One native
    * pass for all three reductions ([[graft.plans.CosineSimD]]). */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    round(graft.plans.Cols.column(graft.plans.CosineSimD(
      graft.plans.Cols.expression(a), graft.plans.Cols.expression(b))), scale)

  /** Deterministic bounded sample aggregate: the k values with the
    * smallest md5 per group (KMV bottom-k sketch —
    * [[graft.plans.BottomKByHash]]). */
  def bottomKByHash(c: Column, k: Int): Column =
    graft.plans.Cols.column(
      graft.plans.BottomKByHash(graft.plans.Cols.expression(c), k)
        .toAggregateExpression())

  /** SpaceSaving heavy hitters (CH topK): fixed `capacity` counters
    * per group, one pass, mergeable — map value → count upper bound
    * ([[graft.plans.HeavyHitters]]). Sketch counts are merge-order
    * bounds: rows-only w.r.t. the oracle. */
  def heavyHitters(c: Column, capacity: Int): Column =
    graft.plans.Cols.column(
      graft.plans.HeavyHitters(graft.plans.Cols.expression(c), capacity)
        .toAggregateExpression())

  /** CH quantileState: mergeable Greenwald-Khanna quantile summary of
    * a DOUBLE column, serialized to BINARY ([[graft.plans.QuantileState]]).
    * `accuracy` is percentile_approx's 1/ε knob (10000 → ε=1e-4). */
  def quantileState(c: Column, accuracy: Int = 10000): Column =
    graft.plans.Cols.column(
      graft.plans.QuantileState(graft.plans.Cols.expression(c), accuracy)
        .toAggregateExpression())

  /** CH quantileMerge: union serialized quantile states and read the
    * given percentiles — array<double> aligned with `percentages`
    * ([[graft.plans.QuantileMerge]]). Estimates are merge-order
    * dependent within the ε rank guarantee: rows-only w.r.t. the
    * oracle. */
  def quantileMerge(state: Column, percentages: Seq[Double],
                    accuracy: Int = 10000): Column =
    graft.plans.Cols.column(
      graft.plans.QuantileMerge(graft.plans.Cols.expression(state),
        percentages, accuracy).toAggregateExpression())

  /** Row-major upper-triangle self-products of a BIGINT array
    * (diagonal included) — codegen'd
    * ([[graft.plans.UpperTriangleProducts]]); the per-row moment
    * vector c96 aggregates. */
  def upperTriangleProducts(c: Column): Column =
    graft.plans.Cols.column(
      graft.plans.UpperTriangleProducts(graft.plans.Cols.expression(c)))

  /** Strict upper-triangle ordered pairs struct(a, b) of an array
    * (diagonal excluded), row-major — codegen'd
    * ([[graft.plans.UpperTrianglePairs]]); the in-basket pair
    * generator b102/b88/c51/c58 explode. Order and values are
    * bit-identical to the composed
    * `flatten(transform(xs,(a,i) -> transform(slice(xs,i+2,…),
    * b -> struct(a,b))))` form (PropertySpec pins it), minus the
    * interpreted lambda frames and per-element slice/flatten copies. */
  def upperTrianglePairs(c: Column): Column =
    graft.plans.Cols.column(
      graft.plans.UpperTrianglePairs(graft.plans.Cols.expression(c)))

  /** Winnowing fingerprint selection (hash every k-gram to its
    * 8-hex-char md5 window, keep each w-window's minimum) in one
    * codegen'd pass — ([[graft.plans.WinnowingFps]]); value-identical
    * to the composed transform/slice/array_min form c87's operator
    * previously ran through interpreted HOFs (DedupSpec pins it). */
  def winnowingFps(c: Column, w: Int): Column =
    graft.plans.Cols.column(
      graft.plans.WinnowingFps(graft.plans.Cols.expression(c), w))

  /** CH `uniqTheta`: mergeable theta sketch (BINARY state; Spark's
    * built-in `theta_sketch_agg`, k = 2^12). Unlike HLL the theta
    * state supports set DIFFERENCE and INTERSECTION estimates. */
  def thetaSketch(c: Column): Column = theta_sketch_agg(c)

  /** Rounded distinct estimate of a theta sketch state. */
  def thetaEstimate(c: Column): Column = theta_sketch_estimate(c)

  /** Estimated \|A ∖ B\| from two theta states. */
  def thetaAnotB(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_difference(a, b))

  /** Estimated \|A ∩ B\| from two theta states. */
  def thetaIntersect(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_intersection(a, b))

  /** Bounded top-n (score, key) pairs per group, best-first (score
    * desc, key asc) — the multi-probe assignment kernel
    * ([[graft.plans.TopNByScore]]): O(n) state, map-side combined,
    * mirrors as `rn <= n` over a rank window. */
  def topNByScore(score: Column, key: Column, n: Int): Column =
    graft.plans.Cols.column(
      graft.plans.TopNByScore(graft.plans.Cols.expression(score),
        graft.plans.Cols.expression(key), n).toAggregateExpression())

  /** Single best (score, key) per group with an array<double> payload,
    * tie to the smallest key ([[graft.plans.ArgMaxByScore]]) — the IVF
    * assignment kernel. Hash-aggregates where the max-of-struct form
    * (array field → no mutable buffer → SortAggregate) SORTED the full
    * N·K·dim candidate expansion map-side. Bit-identical results. */
  def argMaxByScore(score: Column, key: Column, payload: Column): Column =
    graft.plans.Cols.column(
      graft.plans.ArgMaxByScore(graft.plans.Cols.expression(score),
        graft.plans.Cols.expression(key),
        graft.plans.Cols.expression(payload)).toAggregateExpression())

  /** Element-wise sum of ARRAY<BIGINT> — the distributed moment-matrix
    * accumulator ([[graft.plans.VectorSumLong]]): one vector per
    * partition crosses the shuffle instead of N·len exploded rows.
    * Exact int64, order-independent. */
  def vecSumLong(c: Column): Column =
    graft.plans.Cols.column(
      graft.plans.VectorSumLong(graft.plans.Cols.expression(c))
        .toAggregateExpression())

  /** Element-wise EXACT decimal sum of ARRAY<DOUBLE>
    * ([[graft.plans.VectorSumDecimal]]): each element converted like
    * CAST(x AS DECIMAL(28,12)), summed in arbitrary precision — the
    * Lloyd mean-step kernel that replaces a posexplode of N·dim rows
    * through two shuffles with N rows through one. */
  def vecSumDec(c: Column): Column =
    graft.plans.Cols.column(
      graft.plans.VectorSumDecimal(graft.plans.Cols.expression(c))
        .toAggregateExpression())

  /** Exact decimal sum surfaced as DOUBLE (order-insensitive, so the
    * shuffle-order-dependent float sum never breaks the oracle). */
  def sumExact(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Exact floor(a / d) over LONG columns (d > 0): subtract the pmod
    * remainder first so the decimal divide lands on an exact multiple.
    * Plain decimal floor-division is NOT safe for day-sized divisors:
    * the result precision overflows 38, Spark reduces the scale to
    * ~13 and rounds HALF_UP there, so a value within ~5 µs under a
    * day boundary rounds UP across it before floor() runs. Double
    * division is worse still (a exceeds 2^53 past ~104 days). */
  def floorDivLong(a: Column, d: Long): Column =
    ((a - pmod(a, lit(d))).cast("decimal(25,0)") / d).cast("long")

  /** Epoch seconds from a nanosecond-epoch long column. Decimal floor
    * division — nanos exceed double-precision exactness, and Spark's
    * decimal division at this precision is exact (scale 11 > 9 needed,
    * no precision overflow for a 10-digit divisor — unlike the
    * day-sized divisors floorDivLong exists for). */
  def nanosToEpochSec(tsNanos: Column): Column =
    floor(tsNanos.cast("decimal(25,0)") / 1000000000L).cast("bigint")

  /** Micros timestamp from a nanosecond-epoch long column. */
  def nanosToTimestamp(tsNanos: Column): Column =
    timestamp_micros(floor(tsNanos.cast("decimal(25,0)") / 1000L).cast("bigint"))
}
