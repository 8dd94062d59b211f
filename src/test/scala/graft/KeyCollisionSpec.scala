package graft

import org.apache.spark.sql.DataFrame
import graft.operators.EventFlattener
import graft.operators.EventFlattener.Options
import graft.sources.JdbcEventSink
import graft.streaming.EventPipeline

/** Two keys that snake-case to one name (`a_b` beside `a.b`, `fooBar`
  * beside `foo_bar`) flatten to ONE column: the first non-null value in
  * schema order, at the keys' shared type or STRING when they differ.
  * Two columns of one name would make the sink's aligned write fail
  * with an ambiguous reference, so every row of the batch would be
  * dead-lettered, or the stream would die and replay the same batch on
  * every restart. */
class KeyCollisionSpec extends SparkSpec {
  import spark.implicits._

  private def batch(base: String): DataFrame = {
    val rows = Seq(
      (1L, 1700000000000000000L, 1L, "click", 1.0, """{"k":1}"""),
      (2L, 1700000001000000000L, 2L, "purchase", 2.0, """{"sku":"x"}"""),
      (3L, 1700000002000000000L, 3L, "click", 3.0, """{"a_b":1,"a":{"b":2}}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(s"$base/in")
    rows
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.orderBy("event_id").collect().map(_.getAs[Long]("event_id")).toSeq

  test("colliding keys merge: first non-null in schema order, STRING when types differ") {
    val df = Seq(
      (1L, """{"a_b":1,"a":{"b":2}}"""),
      (2L, """{"a_b":3}"""),
      (3L, """{"fooBar":"x","foo_bar":4}"""),
      (4L, """{"foo_bar":5}""")).toDF("row_id", "body")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(detectDates = false))
    assert(flat.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq ==
      Seq("row_id:bigint", "a_b:bigint", "foo_bar:string"))
    val rows = flat.orderBy("row_id").collect()
      .map(r => (Option(r.get(1)).orNull, r.getString(2))).toSeq
    // `a` sorts before `a_b` and `fooBar` before `foo_bar` in the schema
    assert(rows == Seq((2L, null), (3L, null), (null, "x"), (null, "5")))
  }

  test("startEvolving lands every row of a batch with colliding keys, with and without a DLQ") {
    val base = tmpDir("collide")
    val input = batch(base)
    val withDlq = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck",
      dlqDir = Some(s"$base/dlq"))
    val noDlq = EventPipeline.Config(s"$base/in", s"$base/out2", s"$base/ck2")
    Seq(withDlq, noDlq).foreach { cfg =>
      EventPipeline.startEvolving(spark, input.schema, cfg).awaitTermination()
      val click = EventPipeline.readEvolvingTable(spark, cfg, "click")
      assert(click.columns.count(_ == "a_b") == 1, click.columns.mkString(", "))
      assert(ids(click) == Seq(1L, 3L))
      assert(click.filter("event_id = 3").select("a_b").head().getLong(0) == 2L)
      assert(ids(EventPipeline.readEvolvingTable(spark, cfg, "purchase")) == Seq(2L))
    }
    assert(!new java.io.File(s"$base/dlq").exists(), "nothing is dead-lettered")
  }

  test("startEvolvingJdbc lands every row of a batch with colliding keys") {
    val base = tmpDir("collidejdbc")
    val input = batch(base)
    val url = "jdbc:derby:memory:graftcollide;create=true"
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    EventPipeline.startEvolvingJdbc(spark, EventPipeline.FrameEventSource(
      spark.readStream.schema(input.schema).parquet(cfg.inputDir)), cfg, url)
      .awaitTermination()
    val click = JdbcEventSink.readTable(spark, url, "ev_click")
    assert(click.columns.count(_ == "a_b") == 1, click.columns.mkString(", "))
    assert(ids(click) == Seq(1L, 3L))
    assert(ids(JdbcEventSink.readTable(spark, url, "ev_purchase")) == Seq(2L))
  }
}
