package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.EventFlattener
import graft.operators.EventFlattener.Options
import graft.streaming.EventPipeline

/** The evolving sink flattens by the facts its inference pre-pass
  * gathers; a batch flatten by those of its own walk. Both must land the
  * same column names, dtypes and values. Each case is one event type
  * with keys of its own, so the cases share one micro-batch and one
  * batch flatten without reading each other's paths. */
class FlattenParitySpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(String, Seq[String])] = Seq(
    "num_str" -> Seq("""{"ns":1}""", """{"ns":"a"}"""),
    "obj_str" -> Seq("""{"os":{"a":1}}""", """{"os":"2024-01-01"}"""),
    "bad_date" -> Seq("""{"bd":"2024-01-01"}""", """{"bd":"2024-02-30"}""", """{"bd":"2024-03-01"}"""),
    "array_dates" -> Seq("""{"recs":[{"at":"2024-01-01","n":1},{"at":"2024-01-02"}]}""",
      """{"recs":[{"at":"03/04/2024"}]}"""),
    "long_array" -> Seq(s"""{"long":[${(0 until 20).mkString(",")}]}""", """{"long":[7]}"""),
    "some_slots" -> Seq("""{"few":[1,2,3]}""", """{"few":[4]}"""),
    // `c.d` sorts before `c_d`, so the first row's `c_d` reads the date
    "collided" -> Seq("""{"c":{"d":"2024-01-01"},"c_d":"notadate"}""", """{"c_d":"2024-01-02"}"""))

  private val rows: DataFrame = cases.flatMap { case (t, bodies) => bodies.map(t -> _) }
    .zipWithIndex.map { case ((t, body), i) =>
      (i.toLong, 1700000000000000000L + i, i.toLong, t, 1.0, body)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private val keep = Seq("event_id", "event_type")

  /** Each row's values of `cols`, as strings, by event_id. */
  private def values(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
    df.orderBy("event_id").select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(r => cols.indices.map(i => Option(r.getString(i)).orNull)).toSeq

  private def typed(df: DataFrame, cols: Seq[String]): Seq[String] =
    cols.map(c => s"$c:${df.schema(c).dataType.simpleString}")

  test("startEvolving lands each case as EventFlattener.flatten does") {
    val base = tmpDir("parity")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    rows.coalesce(1).write.parquet(cfg.inputDir)
    EventPipeline.startEvolving(spark, rows.schema, cfg).awaitTermination()
    val flat = EventFlattener.flatten(rows, "props", keep = keep)
    val cols = flat.columns.filterNot(keep.contains).toSeq
    // `bd` holds a date-shaped non-date, `os` a record's JSON text
    assert(typed(flat, cols).filter(_.endsWith(":timestamp")).toSet ==
      Set("recs_0_at:timestamp", "recs_1_at:timestamp", "c_d:timestamp"))
    assert(cols.count(_.startsWith("long_")) == 16 && cols.count(_.startsWith("few_")) == 3)
    cases.map(_._1).foreach { t =>
      val table = EventPipeline.readEvolvingTable(spark, cfg, t)
      val stored = table.columns.toSet -- rows.columns -- Seq("received_at", "sent_at",
        "message_id", "timestamp", "stream_batch_id")
      assert(stored == cols.toSet, t)
      assert(typed(table, cols) == typed(flat, cols), t)
      assert(values(table, cols) == values(flat.filter(col("event_type") === t), cols), t)
    }
  }

  test("the pre-pass facts and the flatten's own walk plan alike, with and without dates") {
    Seq(Options(), Options(detectDates = false)).foreach { opts =>
      val byPrePass = EventFlattener.flatten(rows, "props", keep, opts)
      val byWalk = EventFlattener.flattenWithSchema(rows, "props",
        EventFlattener.inferStructure(rows, "props", opts), keep, opts)
      assert(typed(byPrePass, byPrePass.columns) == typed(byWalk, byWalk.columns), opts)
      assert(values(byPrePass, byPrePass.columns) == values(byWalk, byWalk.columns), opts)
      if (!opts.detectDates) assert(!byPrePass.schema.exists(_.dataType.simpleString == "timestamp"))
    }
  }
}
