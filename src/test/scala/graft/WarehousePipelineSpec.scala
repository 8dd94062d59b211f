package graft

import graft.sources.{JdbcEventSink, QueueBroker}
import graft.streaming.EventPipeline

/** The reference's WHOLE pipeline on real seams, end to end: a network
  * broker (TCP, the BullMQ consumer's seat — main.ts:540) feeds the
  * `graft-queue` DSv2 connector, the evolving pipeline flattens +
  * enriches each micro-batch, and the sink is a REAL SQL catalog
  * (embedded Derby) evolved with genuine ALTER TABLE — the
  * clickhouse-batch-client.class.ts:492-568 path. Every byte crosses a
  * socket on the way in and a JDBC connection on the way out; nothing
  * in the chain is a file-source stand-in.
  *
  * Pins, in one flow: per-type table creation at batch schema, a new
  * JSON key arriving mid-stream becoming a catalog ADD COLUMN (old
  * rows NULL from the database), int→string widening surviving the
  * catalog swap, and a checkpointed restart consuming ONLY new broker
  * offsets (exactly-once across clean restarts). */
class WarehousePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftwh;create=true"

  test("broker -> DSv2 stream -> flatten/enrich -> JDBC warehouse with real evolution") {
    val broker = new QueueBroker(numPartitions = 2)
    val base = tmpDir("whpipe")
    val cfg = EventPipeline.Config(
      inputDir = "", outputDir = s"$base/out", checkpointDir = s"$base/ck")
    try {
      def ev(id: Long, tpe: String, props: String): String =
        s"""{"event_id":$id,"ts":${1700000000000000000L + id * 1000000000L},""" +
          s""""user_id":${id % 3},"event_type":"$tpe","value":${id * 1.5},""" +
          s""""props":"${props.replace("\"", "\\\"")}"}"""

      // batch 1: click {k}, purchase {k, amount:int}
      broker.publishAll(Seq(
        ev(1, "click", """{"k": 1}"""),
        ev(2, "purchase", """{"k": 2, "amount": 19}"""),
        ev(3, "click", """{"k": 3}""")))
      EventPipeline.startEvolvingJdbc(spark, EventPipeline.FrameEventSource(
        EventPipeline.brokerEvents(spark, broker.host, broker.port)), cfg, url)
        .awaitTermination()

      val click1 = JdbcEventSink.readTable(spark, url, "ev_click")
      assert(click1.count() == 2)
      assert(click1.columns.contains("k") &&
        click1.columns.contains("message_id"))

      // batch 2, published AFTER the first drain: click gains a key
      // (catalog ADD COLUMN), purchase's amount turns string (widen)
      broker.publishAll(Seq(
        ev(4, "click", """{"k": 4, "newFlag": true}"""),
        ev(5, "purchase", """{"k": 5, "amount": "usd_12"}""")))
      EventPipeline.startEvolvingJdbc(spark, EventPipeline.FrameEventSource(
        EventPipeline.brokerEvents(spark, broker.host, broker.port)), cfg, url)
        .awaitTermination()

      // the restart consumed ONLY the new offsets: no duplicates
      val click2 = JdbcEventSink.readTable(spark, url, "ev_click")
        .orderBy("event_id").collect()
      assert(click2.length == 3, "clean restart must be exactly-once")
      assert(click2.map(_.getAs[Long]("event_id")).toSeq == Seq(1L, 3L, 4L))

      // ADD COLUMN was the catalog's: pre-ALTER rows NULL from Derby
      assert(click2.take(2).forall(_.getAs[Any]("new_flag") == null))
      assert(click2(2).getAs[Boolean]("new_flag") == true)
      val meta = java.sql.DriverManager.getConnection(url)
      try {
        val rs = meta.getMetaData.getColumns(null, null, "EV_CLICK", null)
        val cols = Iterator.continually(rs).takeWhile(_.next())
          .map(_.getString("COLUMN_NAME")).toSet
        assert(cols.contains("new_flag"), s"catalog columns: $cols")
      } finally meta.close()

      // widen-to-String survived the staged catalog swap, data intact
      val purch = JdbcEventSink.readTable(spark, url, "ev_purchase")
        .orderBy("event_id").collect()
      assert(purch.map(_.getAs[String]("amount")).toSeq == Seq("19", "usd_12"))
      // enrichment flowed through the whole chain
      assert(purch.forall(_.getAs[String]("message_id").length == 32))
    } finally broker.close()
  }
}
