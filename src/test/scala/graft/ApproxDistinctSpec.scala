package graft

/** The ClickHouse-`uniq()` optimizer rule
  * ([[graft.plans.ApproxDistinctRewrite]]): default off (plans and
  * results byte-identical to stock Spark), and with ONE conf flip
  * every exact COUNT(DISTINCT) in unchanged query text plans as an
  * HLL sketch. */
class ApproxDistinctSpec extends SparkSpec {

  test("spark.graft.approxDistinct flips countDistinct to an HLL sketch plan") {
    import spark.implicits._
    val df = (0 until 3000).map(i => (i % 3, (i % 700).toLong))
      .toDF("g", "v")
    df.createOrReplaceTempView("t")
    val q = "SELECT g, count(DISTINCT v) AS u FROM t GROUP BY g ORDER BY g"

    // default: exact, no sketch in the plan
    val exactPlan = spark.sql(q).queryExecution.executedPlan.toString
    assert(!exactPlan.contains("hll_sketch"),
      s"rule must be inert by default:\n$exactPlan")
    val exact = spark.sql(q).collect().map(r => r.getInt(0) -> r.getLong(1))

    withConf("spark.graft.approxDistinct" -> "true") {
      val plan = spark.sql(q).queryExecution.executedPlan.toString
      assert(plan.contains("hll_sketch_agg"),
        s"flag set but the distinct stayed exact:\n$plan")
      assert(!plan.contains("count(distinct"),
        s"exact distinct survived alongside the sketch:\n$plan")
      val approx = spark.sql(q).collect().map(r => r.getInt(0) -> r.getLong(1))
      // 700-ish distinct per group: HLL lgK=12 is within a few percent
      exact.zip(approx).foreach { case ((g, e), (g2, a)) =>
        assert(g == g2)
        assert(math.abs(a - e).toDouble / e < 0.05,
          s"group $g: estimate $a too far from exact $e")
      }

      // unsupported shapes keep exact semantics under the flag
      val multi = spark.sql(
        "SELECT count(DISTINCT g, v) AS u FROM t").collect()(0).getLong(0)
      assert(multi == 2100, "multi-column distinct must stay exact")
      val dbl = spark.sql(
        "SELECT count(DISTINCT cast(v AS DOUBLE)) AS u FROM t")
      assert(!dbl.queryExecution.executedPlan.toString.contains("hll_sketch"),
        "unsupported input type must stay exact")

      // empty input: exact COUNT(DISTINCT) yields non-null 0 — the
      // rewritten form must too (coalesce over the NULL estimate),
      // and keep Count's non-nullable contract
      val empty = spark.sql(
        "SELECT count(DISTINCT v) AS u FROM t WHERE g = 99")
      assert(!empty.schema.head.nullable,
        "rewritten aggregate must stay non-nullable like Count")
      val emptyRow = empty.collect()(0)
      assert(!emptyRow.isNullAt(0) && emptyRow.getLong(0) == 0L,
        "empty-input estimate must be 0, matching exact COUNT(DISTINCT)")
    }
  }
}
