package graft

import org.apache.spark.sql.functions._
import graft.operators.EventFlattener
import graft.operators.EventFlattener.Options

/** Edge shapes the testdata's flat `props` never exercises: nested
  * records, arrays, camelCase keys, reserved keys, date strings.
  * (reference: src/clickhouse-batch-client.class.ts:190-273) */
class EventFlattenerSpec extends SparkSpec {
  import spark.implicits._

  test("snakeCase matches the reference's lodash.snakeCase shapes") {
    assert(EventFlattener.snakeCase("userInfo") == "user_info")
    assert(EventFlattener.snakeCase("HTMLParser") == "html_parser")
    assert(EventFlattener.snakeCase("a-b c.d") == "a_b_c_d")
    assert(EventFlattener.snakeCase("already_snake") == "already_snake")
    assert(EventFlattener.snakeCase("v2Value") == "v2_value")
  }

  test("nested records flatten to parent_child columns") {
    val df = Seq(
      ("""{"userInfo":{"id":7,"displayName":"ann"},"plain":1}""", 1L),
      ("""{"userInfo":{"id":9,"displayName":"bo"},"plain":2}""", 2L)
    ).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(detectDates = false))
    assert(flat.columns.toSet == Set("row_id", "user_info_id", "user_info_display_name", "plain"))
    val r = flat.orderBy("row_id").collect()
    assert(r(0).getAs[Long]("user_info_id") == 7L)
    assert(r(1).getAs[String]("user_info_display_name") == "bo")
  }

  test("arrays split to indexed columns up to observed max length") {
    val df = Seq(
      ("""{"tags":["a","b","c"],"n":1}""", 1L),
      ("""{"tags":["x"],"n":2}""", 2L)
    ).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(detectDates = false))
    assert(flat.columns.toSet == Set("row_id", "tags_0", "tags_1", "tags_2", "n"))
    val r = flat.orderBy("row_id").collect()
    assert(r(0).getAs[String]("tags_2") == "c")
    assert(r(1).getAs[String]("tags_1") == null) // short array null-pads
  }

  test("splitArrays=false stringifies arrays (reference env toggle)") {
    val df = Seq(("""{"tags":["a","b"]}""", 1L)).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(splitArrays = false, detectDates = false))
    assert(flat.columns.toSet == Set("row_id", "tags"))
    assert(flat.collect()(0).getAs[String]("tags") == """["a","b"]""")
  }

  test("splitRecords=false stringifies nested records") {
    val df = Seq(("""{"meta":{"a":1,"b":"x"}}""", 1L)).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(splitRecords = false, detectDates = false))
    assert(flat.columns.toSet == Set("row_id", "meta"))
    assert(flat.collect()(0).getAs[String]("meta").contains("\"a\":1"))
  }

  test("reserved bookkeeping keys are dropped") {
    val df = Seq(
      ("""{"event_type":"x","__is_single_retry":true,"keepMe":5}""", 1L)
    ).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(detectDates = false))
    assert(flat.columns.toSet == Set("row_id", "keep_me"))
  }

  test("all-date string columns promote to timestamp; mixed stay string") {
    // a date-shaped string that is no real date mixes its column too
    val df = Seq(
      ("""{"when":"2024-03-01 10:00:00","mixed":"2024-03-01","day":"2024-01-05",""" +
        """"us":"03/15/2024","at":"2024-01-01T10:00"}""", 1L),
      ("""{"when":"2024-03-02","mixed":"notadate","day":"2024-02-30","us":"13/45/2024",""" +
        """"at":"2024-01-01T25:00","leap":"02/29/2023"}""", 2L)
    ).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"))
    val types = flat.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types == Map("row_id" -> "long", "when" -> "timestamp", "mixed" -> "string",
      "day" -> "string", "us" -> "string", "at" -> "string", "leap" -> "string"))
    val rows = flat.orderBy("row_id").collect()
    assert(Seq("day", "us", "at").map(c => rows.map(_.getAs[String](c)).toSeq) == Seq(
      Seq("2024-01-05", "2024-02-30"), Seq("03/15/2024", "13/45/2024"),
      Seq("2024-01-01T10:00", "2024-01-01T25:00")))
    assert(rows(1).getAs[String]("leap") == "02/29/2023")
  }

  test("US slash dates parse via the MM/dd/yyyy fallback") {
    val df = Seq(("""{"d":"03/15/2024"}""", 1L)).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"))
    val v = flat.collect()(0).getAs[java.sql.Timestamp]("d")
    assert(v != null && v.toString.startsWith("2024-03-15"))
  }

  test("struct-in-array of flat records splits per index and field") {
    val df = Seq(
      ("""{"items":[{"sku":"a","qty":2},{"sku":"b","qty":3}]}""", 1L)
    ).toDF("body", "row_id")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"),
      opts = Options(detectDates = false))
    assert(flat.columns.toSet ==
      Set("row_id", "items_0_sku", "items_0_qty", "items_1_sku", "items_1_qty"))
    assert(flat.collect()(0).getAs[Long]("items_1_qty") == 3L)
  }

  test("metadata enrichment + default transform (timestamp := received_at)") {
    val df = Seq(("click", 1L)).toDF("event_type", "event_id")
    val out = EventFlattener.defaultTransform(
      EventFlattener.withMetadata(df,
        receivedAt = lit("2026-01-01 00:00:00").cast("timestamp"),
        sentAt = current_timestamp(),
        idCols = Seq(col("event_type"), col("event_id"))))
    val r = out.collect()(0)
    assert(r.getAs[String]("message_id").length == 32) // md5 hex
    assert(r.getAs[java.sql.Timestamp]("timestamp") ==
      r.getAs[java.sql.Timestamp]("received_at"))
  }

  test("malformed JSON bodies flatten to nulls; rows are not lost") {
    // the reference DLQs rows whose body fails to parse — here the row
    // survives with null flattened columns (splitDlq tags it downstream).
    // Each body is typed as `from_json` reads it: a repeated key at its
    // last value, and a root array, like a body that does not parse, as
    // its text in `corrupt_record`, not as its items' keys
    val df = Seq(
      (1L, """{"k": 5, "name": "ok"}"""),
      (2L, """{not json at all"""),
      (3L, null.asInstanceOf[String]),
      (4L, """{"k": 6, "k": 7}"""),
      (5L, """[{"name":"arr"}]""")).toDF("event_id", "body")
    val out = EventFlattener.flatten(df, "body", keep = Seq("event_id"),
      opts = Options(detectDates = false, sampleFraction = 1.0))
    assert(out.columns.toSeq == Seq("event_id", "corrupt_record", "k", "name"))
    assert(out.count() == 5)
    val rows = out.orderBy("event_id").collect()
    assert(rows(0).getAs[Long]("k") == 5L && rows(0).getAs[String]("name") == "ok")
    assert(rows(1).isNullAt(rows(1).fieldIndex("k")))
    assert(rows(1).getAs[String]("corrupt_record") == "{not json at all")
    assert(rows(2).isNullAt(rows(2).fieldIndex("name")))
    assert(rows(3).getAs[Long]("k") == 7L && rows(3).isNullAt(rows(3).fieldIndex("corrupt_record")))
    assert(rows(4).isNullAt(rows(4).fieldIndex("name")))
    assert(rows(4).getAs[String]("corrupt_record") == """[{"name":"arr"}]""")
  }
}
