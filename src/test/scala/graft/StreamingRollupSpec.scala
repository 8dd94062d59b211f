package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventPipeline, StreamingRollup}

/** Streaming materialized-view maintenance (SummingMergeTree): each
  * micro-batch appends one partial-state part; the merged read equals
  * the direct rollup over everything ingested, and replayed parts
  * dedup away. */
class StreamingRollupSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, t: String) =
    ids.map(i => (i.toLong, 1700000000000000000L + i * 1000000000L,
      i.toLong % 5, t, i * 0.25, "{}"))

  test("merged streaming states == direct rollup; replayed parts dedup") {
    val base = tmpDir("sroll")
    val in = s"$base/in"; val states = s"$base/states"; val ck = s"$base/ck"
    val all = (rows(0 until 40, "click") ++ rows(40 until 60, "purchase") ++
        rows(60 until 70, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // three files → three micro-batches at maxFilesPerTrigger=1
    Seq(0 until 30, 30 until 55, 55 until 70).foreach { r =>
      all.filter(col("event_id").isin(r.map(_.toLong): _*))
        .coalesce(1).write.mode("append").parquet(in)
    }

    val src = EventPipeline.FileEventSource(all.schema, in)
    StreamingRollup.start(spark, src, states, ck,
      keys = Seq("event_type"), value = col("value")).awaitTermination()

    // one state part per micro-batch, not per event
    val parts = spark.read.parquet(states)
    assert(parts.select("batch_id").distinct().count() == 3)
    assert(parts.count() <= 3 * 3) // ≤ batches × live key space

    def view = StreamingRollup.readFinal(spark, states, Seq("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val direct = all.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).doubleValue()))).toMap
    assert(view === direct)

    // at-least-once replay: a fresh checkpoint re-ingests everything,
    // appending byte-identical duplicate parts — the read dedups them
    StreamingRollup.start(spark,
      src, states, s"$base/ck2",
      keys = Seq("event_type"), value = col("value")).awaitTermination()
    assert(spark.read.parquet(states).count() ==
      parts.count() * 2) // duplicates really landed
    assert(view === direct) // ...and the view is unchanged
  }

  test("streaming HLL states: merged view == direct sketch over all ingested") {
    val base = tmpDir("suniq")
    val in = s"$base/in"; val states = s"$base/states"
    // overlapping user ranges across batches: the union has real work
    val all = (rows(0 until 50, "click") ++ rows(25 until 75, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Seq(0 until 40, 40 until 100).foreach { r =>
      all.filter(col("event_id").isin(r.map(_.toLong): _*))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val src = EventPipeline.FileEventSource(all.schema, in)
    StreamingRollup.startUniq(spark, src, states, s"$base/ck",
      keys = Seq("event_type"), idCol = col("user_id")).awaitTermination()

    val view = StreamingRollup.readUniqFinal(spark, states, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = all.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(view === direct)
    // tiny cardinalities estimate exactly
    assert(view === Map("click" -> 5L, "purchase" -> 5L))
  }
}
