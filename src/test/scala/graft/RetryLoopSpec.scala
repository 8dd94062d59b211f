package graft

import org.apache.spark.sql.functions._
import graft.sources.{QueueBroker, QueuePublisher}
import graft.streaming.EventPipeline

/** The reference's full RETRY LOOP over a real socket (main.ts:388-409
  * + 463-514): poison rows dead-letter, the DLQ re-enqueues repaired
  * single-row retry jobs BACK ONTO THE BROKER (QueuePublisher,
  * executor-side producer sockets), and the next pipeline run — same
  * checkpoint, so only new offsets — routes the recovered rows. The
  * parquet-DLQ half (a10/a12) proved the bookkeeping; this proves the
  * wire: re-enqueued bytes really cross the network and really come
  * back through the DSv2 consumer. */
class RetryLoopSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, tpe: String): String = {
    val t = if (tpe == null) "null" else s""""$tpe""""
    s"""{"event_id":$id,"ts":${1700000000000000000L + id},"user_id":${id % 3},""" +
      s""""event_type":$t,"value":${id * 1.0},"props":"{}"}"""
  }

  test("poison rows dead-letter, re-enqueue over the wire, recover exactly once") {
    val broker = new QueueBroker(numPartitions = 2)
    val base = tmpDir("retryloop")
    val cfg = EventPipeline.Config(
      inputDir = "", outputDir = s"$base/out",
      checkpointDir = s"$base/ck", dlqDir = Some(s"$base/dlq"))
    try {
      // 4 valid rows + 2 poison (no event_type -> missing_event_type)
      broker.publishAll(Seq(
        ev(1, "click"), ev(2, "purchase"), ev(3, null),
        ev(4, "click"), ev(5, null), ev(6, "purchase")))
      def run(): Unit = EventPipeline.start(spark, EventPipeline.FrameEventSource(
        EventPipeline.brokerEvents(spark, broker.host, broker.port)),
        cfg, availableNow = true).awaitTermination()
      run()

      val dlq = spark.read.parquet(cfg.dlqDir.get)
      assert(dlq.count() == 2)
      assert(dlq.select("dlq_reason").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("missing_event_type"))

      // repair (the operator's transform seat: here, default the type)
      // and RE-ENQUEUE as single-row retry jobs over the socket
      val repaired = dlq.select(to_json(struct(
        col("event_id"), col("ts"), col("user_id"),
        lit("recovered").as("event_type"), col("value"), col("props")))
        .as("payload"), col("event_id"))
      val published = QueuePublisher.publish(repaired,
        broker.host, broker.port, col("payload"), col("event_id"))
      assert(published == 2L)

      // same checkpoint: the rerun drains ONLY the re-enqueued offsets
      run()
      val recovered = spark.read.parquet(s"${cfg.outputDir}/event_type=recovered")
      assert(recovered.count() == 2)
      assert(recovered.select("event_id").collect().map(_.getLong(0)).toSet
        == Set(3L, 5L))
      // and the original valid rows were not re-delivered
      val clicks = spark.read.parquet(s"${cfg.outputDir}/event_type=click")
      assert(clicks.count() == 2, "clean restart must not re-route old rows")
    } finally broker.close()
  }

  test("publish caps its broker fan-out: a wide frame coalesces to maxPublishPartitions tasks") {
    // one PUBBATCH ledger entry per task, so on a fresh broker the
    // ledger size IS the connection/task count — a 100-partition retry
    // frame must not open 100 sockets against one broker
    val broker = new QueueBroker(numPartitions = 2)
    try {
      val df = spark.range(500).toDF("event_id").repartition(100)
        .select(to_json(struct(col("event_id"))).as("payload"), col("event_id"))
      val published = QueuePublisher.publish(df,
        broker.host, broker.port, col("payload"), col("event_id"))
      assert(published == 500L)
      assert(broker.endOffsets.sum == 500L, "all rows must arrive exactly once")
      assert(broker.ledgerSize <= 8,
        s"fan-out leak: ${broker.ledgerSize} publish tasks for one call (cap is 8)")
    } finally broker.close()
  }
}
