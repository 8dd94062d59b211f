package graft

import org.apache.spark.sql.functions._
import graft.operators.EventFlattener
import graft.operators.EventFlattener.Options

/** The flattener's whole column plan, pinned literally: names, order,
  * dtypes and values, over shapes the other flatten specs leave out
  * (records 3 deep, an empty array, an array over the 16-item cap,
  * arrays of arrays, a record holding an array, dates inside arrays),
  * under the default options and with each switch turned off. */
class FlattenPlanSpec extends SparkSpec {
  import spark.implicits._

  private val bodies = Seq(
    1L -> ("""{"userInfo":{"address":{"geo":{"lat":1.5}},"id":7},"empty":[],""" +
      s""""big":[${(0 until 20).mkString(",")}],""" +
      """"items":[{"sku":"a","qty":2},{"sku":"b"}],"grid":[[1,2],[3]],""" +
      """"rec":{"tags":["x","y"]},"event_type":"click","__received_at":"2024-01-01",""" +
      """"camelCaseKey":1,"HTMLParser":"h","dates":["2024-01-02","03/04/2024"],""" +
      """"mixedWhen":"2024-03-01T10:00:00Z"}"""),
    2L -> ("""{"userInfo":{"id":9},"items":[{"sku":"c","qty":5}],"rec":{"tags":[]},""" +
      """"camelCaseKey":2,"dates":["2024-02-03T04:05:06Z"],"mixedWhen":"notadate",""" +
      """"mixedArr":["2024-01-01","x"]}"""),
    3L -> """{"dates":[],"plain":"03/15/2024"}""")

  /** `name:dtype` -> the column's values for rows 1..3, cast to string
    * (the session time zone is UTC). */
  private def pin(title: String, opts: Options)(expected: (String, Seq[String])*): Unit =
    test(s"column plan under $title") {
      val df = bodies.toDF("row_id", "body")
      val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"), opts = opts)
      assert(flat.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq ==
        expected.map(_._1))
      val rows = flat.orderBy("row_id")
        .select(flat.columns.map(c => col(c).cast("string")): _*).collect()
      expected.zipWithIndex.foreach { case ((c, want), i) =>
        assert(rows.map(r => Option(r.getString(i)).orNull).toSeq == want, c)
      }
    }

  pin("the default options", Options())(
    "row_id:bigint" -> Seq("1", "2", "3"),
    "html_parser:string" -> Seq("h", null, null),
    "big_0:bigint" -> Seq("0", null, null),
    "big_1:bigint" -> Seq("1", null, null),
    "big_2:bigint" -> Seq("2", null, null),
    "big_3:bigint" -> Seq("3", null, null),
    "big_4:bigint" -> Seq("4", null, null),
    "big_5:bigint" -> Seq("5", null, null),
    "big_6:bigint" -> Seq("6", null, null),
    "big_7:bigint" -> Seq("7", null, null),
    "big_8:bigint" -> Seq("8", null, null),
    "big_9:bigint" -> Seq("9", null, null),
    "big_10:bigint" -> Seq("10", null, null),
    "big_11:bigint" -> Seq("11", null, null),
    "big_12:bigint" -> Seq("12", null, null),
    "big_13:bigint" -> Seq("13", null, null),
    "big_14:bigint" -> Seq("14", null, null),
    "big_15:bigint" -> Seq("15", null, null),
    "camel_case_key:bigint" -> Seq("1", "2", null),
    "dates_0:timestamp" -> Seq("2024-01-02 00:00:00", "2024-02-03 04:05:06", null),
    "dates_1:timestamp" -> Seq("2024-03-04 00:00:00", null, null),
    "grid:string" -> Seq("[[1,2],[3]]", null, null),
    "items_0_qty:bigint" -> Seq("2", "5", null),
    "items_0_sku:string" -> Seq("a", "c", null),
    "items_1_qty:bigint" -> Seq(null, null, null),
    "items_1_sku:string" -> Seq("b", null, null),
    "mixed_arr_0:timestamp" -> Seq(null, "2024-01-01 00:00:00", null),
    "mixed_arr_1:string" -> Seq(null, "x", null),
    "mixed_when:string" -> Seq("2024-03-01T10:00:00Z", "notadate", null),
    "plain:timestamp" -> Seq(null, null, "2024-03-15 00:00:00"),
    "rec_tags_0:string" -> Seq("x", null, null),
    "rec_tags_1:string" -> Seq("y", null, null),
    "user_info_address_geo_lat:double" -> Seq("1.5", null, null),
    "user_info_id:bigint" -> Seq("7", "9", null)
  )

  pin("splitArrays = false", Options(splitArrays = false))(
    "row_id:bigint" -> Seq("1", "2", "3"),
    "html_parser:string" -> Seq("h", null, null),
    "big:string" -> Seq("[0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19]", null, null),
    "camel_case_key:bigint" -> Seq("1", "2", null),
    "dates:string" -> Seq("[\"2024-01-02\",\"03/04/2024\"]", "[\"2024-02-03T04:05:06Z\"]", "[]"),
    "empty:string" -> Seq("[]", null, null),
    "grid:string" -> Seq("[[1,2],[3]]", null, null),
    "items:string" -> Seq("[{\"qty\":2,\"sku\":\"a\"},{\"sku\":\"b\"}]", "[{\"qty\":5,\"sku\":\"c\"}]", null),
    "mixed_arr:string" -> Seq(null, "[\"2024-01-01\",\"x\"]", null),
    "mixed_when:string" -> Seq("2024-03-01T10:00:00Z", "notadate", null),
    "plain:timestamp" -> Seq(null, null, "2024-03-15 00:00:00"),
    "rec_tags:string" -> Seq("[\"x\",\"y\"]", "[]", null),
    "user_info_address_geo_lat:double" -> Seq("1.5", null, null),
    "user_info_id:bigint" -> Seq("7", "9", null)
  )

  pin("splitRecords = false", Options(splitRecords = false))(
    "row_id:bigint" -> Seq("1", "2", "3"),
    "html_parser:string" -> Seq("h", null, null),
    "big_0:bigint" -> Seq("0", null, null),
    "big_1:bigint" -> Seq("1", null, null),
    "big_2:bigint" -> Seq("2", null, null),
    "big_3:bigint" -> Seq("3", null, null),
    "big_4:bigint" -> Seq("4", null, null),
    "big_5:bigint" -> Seq("5", null, null),
    "big_6:bigint" -> Seq("6", null, null),
    "big_7:bigint" -> Seq("7", null, null),
    "big_8:bigint" -> Seq("8", null, null),
    "big_9:bigint" -> Seq("9", null, null),
    "big_10:bigint" -> Seq("10", null, null),
    "big_11:bigint" -> Seq("11", null, null),
    "big_12:bigint" -> Seq("12", null, null),
    "big_13:bigint" -> Seq("13", null, null),
    "big_14:bigint" -> Seq("14", null, null),
    "big_15:bigint" -> Seq("15", null, null),
    "camel_case_key:bigint" -> Seq("1", "2", null),
    "dates_0:timestamp" -> Seq("2024-01-02 00:00:00", "2024-02-03 04:05:06", null),
    "dates_1:timestamp" -> Seq("2024-03-04 00:00:00", null, null),
    "grid:string" -> Seq("[[1,2],[3]]", null, null),
    "items_0:string" -> Seq("{\"qty\":2,\"sku\":\"a\"}", "{\"qty\":5,\"sku\":\"c\"}", null),
    "items_1:string" -> Seq("{\"sku\":\"b\"}", null, null),
    "mixed_arr_0:timestamp" -> Seq(null, "2024-01-01 00:00:00", null),
    "mixed_arr_1:string" -> Seq(null, "x", null),
    "mixed_when:string" -> Seq("2024-03-01T10:00:00Z", "notadate", null),
    "plain:timestamp" -> Seq(null, null, "2024-03-15 00:00:00"),
    "rec:string" -> Seq("{\"tags\":[\"x\",\"y\"]}", "{\"tags\":[]}", null),
    "user_info:string" -> Seq("{\"address\":{\"geo\":{\"lat\":1.5}},\"id\":7}", "{\"id\":9}", null)
  )

  pin("detectDates = false", Options(detectDates = false))(
    "row_id:bigint" -> Seq("1", "2", "3"),
    "html_parser:string" -> Seq("h", null, null),
    "big_0:bigint" -> Seq("0", null, null),
    "big_1:bigint" -> Seq("1", null, null),
    "big_2:bigint" -> Seq("2", null, null),
    "big_3:bigint" -> Seq("3", null, null),
    "big_4:bigint" -> Seq("4", null, null),
    "big_5:bigint" -> Seq("5", null, null),
    "big_6:bigint" -> Seq("6", null, null),
    "big_7:bigint" -> Seq("7", null, null),
    "big_8:bigint" -> Seq("8", null, null),
    "big_9:bigint" -> Seq("9", null, null),
    "big_10:bigint" -> Seq("10", null, null),
    "big_11:bigint" -> Seq("11", null, null),
    "big_12:bigint" -> Seq("12", null, null),
    "big_13:bigint" -> Seq("13", null, null),
    "big_14:bigint" -> Seq("14", null, null),
    "big_15:bigint" -> Seq("15", null, null),
    "camel_case_key:bigint" -> Seq("1", "2", null),
    "dates_0:string" -> Seq("2024-01-02", "2024-02-03T04:05:06Z", null),
    "dates_1:string" -> Seq("03/04/2024", null, null),
    "grid:string" -> Seq("[[1,2],[3]]", null, null),
    "items_0_qty:bigint" -> Seq("2", "5", null),
    "items_0_sku:string" -> Seq("a", "c", null),
    "items_1_qty:bigint" -> Seq(null, null, null),
    "items_1_sku:string" -> Seq("b", null, null),
    "mixed_arr_0:string" -> Seq(null, "2024-01-01", null),
    "mixed_arr_1:string" -> Seq(null, "x", null),
    "mixed_when:string" -> Seq("2024-03-01T10:00:00Z", "notadate", null),
    "plain:string" -> Seq(null, null, "03/15/2024"),
    "rec_tags_0:string" -> Seq("x", null, null),
    "rec_tags_1:string" -> Seq("y", null, null),
    "user_info_address_geo_lat:double" -> Seq("1.5", null, null),
    "user_info_id:bigint" -> Seq("7", "9", null)
  )
}
