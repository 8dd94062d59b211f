package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** SURVEY §5 claims AQE covers skewed JOINS at runtime (the half of
  * the skew story the router's explicit salt does not own). This spec
  * makes the claim checkable: a 95%-one-key join, broadcast disabled
  * so it must sort-merge, thresholds scaled to toy data — AQE must
  * mark the hot partition `skew=true` in the FINAL adaptive plan and
  * split it across multiple tasks, with results unchanged. If a Spark
  * upgrade or conf default ever silently drops the rewrite, this
  * fails before a 100 TB join serializes behind one straggler. */
class AqeSkewSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    val pad = "x" * 100
    // left: one hot key (~2.2 MB shuffled) + 20 cold keys (~5 KB each)
    val left = ((0 until 20000).map(i => (0L, s"l$i$pad")) ++
        (1 to 20).flatMap(k => (0 until 50).map(i => (k.toLong, s"l$k-$i$pad"))))
      .toDF("k", "lv")
    val right = (0 to 20).map(k => (k.toLong, s"r$k")).toDF("k", "rv")

    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = left.join(right, Seq("k"))
      // collect() executes THIS DataFrame's own QueryExecution, so the
      // adaptive plan below is the one that actually ran (a count()
      // would plan and execute a separate query)
      assert(joined.collect().length == 21000) // rewrite is lossless
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      assert(finalPlan.contains("SortMergeJoin"),
        s"expected a sort-merge join:\n$finalPlan")
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark/split the skewed partition:\n$finalPlan")
    }
  }
}
