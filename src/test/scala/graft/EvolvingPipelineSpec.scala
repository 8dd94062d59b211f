package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventPipeline

/** The reference's end-to-end story: stream of free-form JSON events →
  * flatten → per-type tables whose schemas evolve batch over batch
  * (new column added mid-stream surfaces as null on old rows). */
class EvolvingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("per-type tables evolve schemas independently across micro-batches") {
    val base = tmpDir("evostream")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")

    // batch 1: click has {k}, purchase has {k, amount}
    val b1 = Seq(
      (1L, 1700000000000000000L, 1L, "click", 1.0, """{"k": 1}"""),
      (2L, 1700000001000000000L, 2L, "purchase", 9.0, """{"k": 2, "amount": 19.5}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    b1.coalesce(1).write.mode("append").parquet(cfg.inputDir)
    EventPipeline.startEvolving(spark, b1.schema, cfg).awaitTermination()

    // batch 2: click gains a new key; purchase's amount turns string
    val b2 = Seq(
      (3L, 1700000002000000000L, 3L, "click", 2.0, """{"k": 3, "newFlag": true}"""),
      (4L, 1700000003000000000L, 1L, "purchase", 8.0, """{"k": 4, "amount": "usd_12"}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    b2.coalesce(1).write.mode("append").parquet(cfg.inputDir)
    EventPipeline.startEvolving(spark, b1.schema, cfg).awaitTermination()

    val clicks = EventPipeline.readEvolvingTable(spark, cfg, "click")
      .orderBy("event_id").collect()
    assert(clicks.length == 2)
    val clickCols = EventPipeline.readEvolvingTable(spark, cfg, "click").columns.toSet
    assert(clickCols.contains("new_flag") && clickCols.contains("k"))
    assert(clicks(0).getAs[Any]("new_flag") == null)   // old row null-pads
    assert(clicks(1).getAs[Boolean]("new_flag") == true)

    val purchases = EventPipeline.readEvolvingTable(spark, cfg, "purchase")
      .orderBy("event_id").collect()
    // amount widened long/double -> string; old value re-read as string
    assert(purchases.map(_.getAs[String]("amount")).toSeq == Seq("19.5", "usd_12"))

    // enrichment flowed through: content-hash message_id + timestamp
    assert(clicks(0).getAs[String]("message_id").length == 32)
  }

  test("the always-on worker (availableNow = false) evolves tables as files arrive") {
    val base = tmpDir("evoworker")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    val b1 = Seq(
      (1L, 1700000000000000000L, 1L, "click", 1.0, """{"k": 1}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    b1.coalesce(1).write.mode("append").parquet(cfg.inputDir)
    val q = EventPipeline.startEvolving(spark, b1.schema, cfg, availableNow = false)
    try {
      q.processAllAvailable()
      assert(q.isActive)
      assert(EventPipeline.readEvolvingTable(spark, cfg, "click").count() == 1)

      // a second file lands while the worker runs: a new key for click,
      // and a type the worker has not seen yet
      Seq(
        (2L, 1700000001000000000L, 2L, "click", 2.0, """{"k": 2, "newFlag": true}"""),
        (3L, 1700000002000000000L, 3L, "purchase", 9.0, """{"amount": 19.5}""")
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(cfg.inputDir)
      q.processAllAvailable()
      assert(q.isActive)

      val clicks = EventPipeline.readEvolvingTable(spark, cfg, "click")
        .orderBy("event_id").collect()
      assert(clicks.map(_.getAs[Long]("event_id")).toSeq == Seq(1L, 2L))
      assert(clicks(0).getAs[Any]("new_flag") == null)
      assert(clicks(1).getAs[Boolean]("new_flag"))
      val purchases = EventPipeline.readEvolvingTable(spark, cfg, "purchase").collect()
      assert(purchases.map(_.getAs[Double]("amount")).toSeq == Seq(19.5))
    } finally q.stop()
    assert(!q.isActive)
  }
}
