package graft

import org.apache.spark.sql.functions._

/** Evidence for SURVEY §5's "co-locate joins via bucketing" claim: two
  * tables bucketed on the join key with the same bucket count join
  * with NO shuffle exchange — the layout the fact-to-fact joins (e.g.
  * lineitem ⋈ orders at 100 TB) would be written in, where a per-query
  * shuffle of either side is the dominant cost. */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a previous JVM's managed-table dirs are orphans to this session's
    // in-memory catalog — DROP can't see them, so clear the locations
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("b_orders", "b_lineitem").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    val orders = graft.sources.Tables(spark, dir, "orders")
    val lineitem = graft.sources.Tables(spark, dir, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    // sf0.001 tables fit the broadcast threshold, which would bypass
    // bucketing entirely — pin the non-broadcast path the layout is
    // FOR (at 100 TB neither fact side broadcasts)
    val (plan, got) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.table("b_lineitem")
          .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        (j.queryExecution.executedPlan.toString,
          j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }

    // the join itself must not shuffle either side; the only allowed
    // exchange is the one introduced by the final groupBy (above the
    // join in the plan string, so split AT the join and look below)
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1)
    assert(joinSection.nonEmpty, s"expected a non-broadcast join in:\n$plan")
    assert(!joinSection.mkString.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffled:\n$plan")

    // and it computes the same result as the plain parquet join
    val expect = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }
}
