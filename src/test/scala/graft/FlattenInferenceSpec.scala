package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.operators.EventFlattener
import graft.operators.EventFlattener.Options
import graft.streaming.EventPipeline

/** The flattener's own inference pass against `spark.read.json`, which
  * it replaces, and the facts walk's reading of collided and non-ASCII
  * keys. */
class FlattenInferenceSpec extends SparkSpec {
  import spark.implicits._

  /** Every object shape inference merges: scalar conflicts, record
    * against array, null-only keys, empty documents, records 4 deep,
    * camelCase, non-ASCII and colliding keys. Each is one JSON object
    * with no repeated key, the one shape `spark.read.json` and
    * `from_json` read alike. */
  private val objects = Seq(
    """{"n":1,"x":1,"s":"a","r":{"a":1},"arr":[1,2],"onlyNull":null}""",
    """{"n":2.5,"x":"two","s":3,"r":[1],"arr":{"b":1},"onlyNull":null}""",
    """{"n":12345678901234567890,"deep":{"a":{"b":{"c":{"d":1}}}},"camelCase":true}""",
    """{"deep":{"a":{"b":{"c":{"d":"x","e":[1.5]}}}},"名前":1,"ÄB":2,"B":[]}""",
    """{"a_b":1,"a":{"b":"2024-01-01"},"fooBar":"x","foo_bar":4,"when":"2024-01-02"}""",
    "{}",
    """{"arr":[[1],[2,3]],"r":null,"empty":{}}""")

  /** Shapes the two readers read apart, each typed as `from_json` reads
    * it: root arrays, a body that does not parse, and NUL-led bodies
    * (`spark.read.json` reads raw bytes, so Jackson takes
    * `\u0000{\u0000}` for UTF-16 `{}` and cannot decode the other two;
    * `from_json` reads the UTF-8 text, which does not parse) land as
    * their text in the corrupt-record column, as `{bad` does; a
    * repeated key is typed at its last value. */
  private val others = Seq(
    "[]",
    """[{"inArray":1}]""",
    "{bad",
    "\u0000a\u0000\u0000",
    "\u0000{\u0000}",
    "\u0000\u0000\u0000{\u0000",
    """{"k":1,"k":2}""")

  /** `n` bodies cycling through `shapes`, over 3 partitions, with a
    * group key and an id per row. */
  private def corpus(n: Int, shapes: Seq[String] = objects): DataFrame =
    (0 until n).map(i => (i.toLong, s"g${i % 3}", shapes(i % shapes.size)))
      .toDF("event_id", "g", "body").repartition(3)

  private def readJson(df: DataFrame): StructType = spark.read.json(df.select("body").as[String]).schema

  test("the pre-pass schema equals spark.read.json, whole and per group") {
    val df = corpus(60)
    val groups = EventFlattener.typedGroups(df, "body", Seq("g"))(_.getUTF8String(1).toString)
    assert(groups.keySet == Set("g0", "g1", "g2"))
    assert(EventFlattener.schemaOf(spark, groups.values) == readJson(df))
    groups.foreach { case (g, typed) =>
      assert(EventFlattener.schemaOf(spark, Seq(typed)) == readJson(df.filter($"g" === g)), g)
    }
    assert(EventFlattener.inferStructure(df, "body") == readJson(df))
  }

  test("a sampled inferStructure equals spark.read.json over the same sample") {
    val df = corpus(400)
    val sampled = df.select("body").na.drop().sample(0.1, 42L)
    assert(EventFlattener.inferStructure(df, "body", Options(sampleFraction = 0.1)) ==
      readJson(sampled))
  }

  test("other shapes are typed as from_json reads them, and flatten by that reading") {
    val df = corpus(70, objects ++ others)
    // a non-object body types as `{bad` does, a repeated key as its last value
    val read = corpus(70, objects ++ Seq("{bad", """{"k":2}"""))
    val groups = EventFlattener.typedGroups(df, "body", Seq("g"))(_.getUTF8String(1).toString)
    assert(EventFlattener.schemaOf(spark, groups.values) == readJson(read))
    assert(EventFlattener.inferStructure(df, "body") == readJson(read))
    assert(!readJson(read).fieldNames.contains("inArray"))
    val flat = EventFlattener.flatten(df, "body", keep = Seq("event_id", "body"),
      opts = Options(detectDates = false)).orderBy("event_id").collect()
    flat.foreach { r =>
      val body = r.getAs[String]("body")
      val corrupt = Option(r.getAs[String]("corrupt_record"))
      if (objects.contains(body) || body.startsWith("{\"k\"")) assert(corrupt.isEmpty, body)
      else assert(corrupt.contains(body), body)
      if (body.startsWith("{\"k\"")) assert(r.getAs[Long]("k") == 2L)
    }
  }

  test("a collided string column is date-like by the values its coalesce reads") {
    // row 1's `a_b` reads `a.b` (`a` sorts first); its own `a_b` is
    // shadowed and is not a date
    val df = Seq(
      (1L, """{"a":{"b":"2024-01-01"},"a_b":"notadate"}"""),
      (2L, """{"a_b":"2024-01-02"}""")).toDF("row_id", "body")
    val flat = EventFlattener.flatten(df, "body", keep = Seq("row_id"))
    assert(flat.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq ==
      Seq("row_id:bigint", "a_b:timestamp"))
    assert(flat.orderBy("row_id").collect().map(_.get(1).toString).toSeq ==
      Seq("2024-01-01 00:00:00.0", "2024-01-02 00:00:00.0"))
  }

  private val unicode = Seq(
    (1L, """{"名前":1,"k":2}"""),
    (2L, """{"ключ":"x","значение":"y"}"""),
    (3L, """{"ÄB":1,"B":2}"""),
    (4L, """{"!!":1,"k":3}"""))

  private val unicodeCols = Seq("b:bigint", "k:bigint", "äb:bigint", "значение:string",
    "ключ:string", "名前:bigint")

  /** Each row's non-null (column, value) pairs. */
  private def cells(df: DataFrame, cols: Seq[String]): Seq[Set[(String, String)]] =
    df.orderBy("event_id").collect().toSeq.map(r =>
      cols.flatMap(c => Option(r.getAs[Any](c)).map(v => c -> v.toString)).toSet)

  private val unicodeCells = Seq(
    Set("名前" -> "1", "k" -> "2"), Set("ключ" -> "x", "значение" -> "y"),
    Set("äb" -> "1", "b" -> "2"), Set("k" -> "3"))

  test("keys of every script keep their own columns; a key with no letter or digit drops") {
    assert(EventFlattener.snakeCase("fooÄndern") == "foo_ändern")
    assert(EventFlattener.snakeCase("!!").isEmpty)
    val flat = EventFlattener.flatten(unicode.toDF("event_id", "body"), "body",
      keep = Seq("event_id"))
    assert(flat.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq ==
      "event_id:bigint" +: unicodeCols)
    assert(cells(flat, unicodeCols.map(_.split(":")(0))) == unicodeCells)
  }

  test("startEvolving lands non-ASCII keys in their own columns") {
    val base = tmpDir("unikeys")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    val rows = unicode.map { case (id, body) => (id, 1700000000000000000L + id, id, "click", 1.0, body) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(cfg.inputDir)
    EventPipeline.startEvolving(spark, rows.schema, cfg).awaitTermination()
    val click = EventPipeline.readEvolvingTable(spark, cfg, "click")
    val names = unicodeCols.map(_.split(":")(0))
    assert(names.forall(click.columns.contains) && !click.columns.contains(""),
      click.columns.mkString(", "))
    assert(cells(click, names) == unicodeCells)
  }
}
