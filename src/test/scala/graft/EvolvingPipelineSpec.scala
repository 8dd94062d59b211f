package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType, TimestampType}
import graft.operators.SchemaEvolution
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

  /** `bodies` as one `startEvolving` run of type `click` over `cfg`. */
  private def clicks(cfg: EventPipeline.Config, bodies: (Long, String)*): Unit = {
    val df = bodies.map { case (id, body) =>
      (id, 1700000000000000000L + id * 1000000000L, 1L, "click", 1.0, body)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("append").parquet(cfg.inputDir)
    EventPipeline.startEvolving(spark, df.schema, cfg).awaitTermination()
  }

  test("a timestamp column widens to STRING when a later batch sends a non-date string") {
    val base = tmpDir("evowhen")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    clicks(cfg, 1L -> """{"when":"2024-01-01"}""", 2L -> """{"when":"2024-01-02"}""")
    assert(EventPipeline.readEvolvingTable(spark, cfg, "click").schema("when").dataType ==
      TimestampType)
    clicks(cfg, 3L -> """{"when":"x"}""")
    val t = EventPipeline.readEvolvingTable(spark, cfg, "click")
    assert(t.schema("when").dataType == StringType)
    // old values read back as Spark's cast text, as a widened number does
    assert(t.orderBy("event_id").collect().map(_.getAs[String]("when")).toSeq ==
      Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00", "x"))
  }

  test("a date-shaped string that is no real date lands as STRING, not NULL") {
    val base = tmpDir("evobaddate")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    clicks(cfg, 1L -> """{"when":"2024-01-05"}""", 2L -> """{"when":"2024-02-30"}""")
    val t = EventPipeline.readEvolvingTable(spark, cfg, "click")
    assert(t.schema("when").dataType == StringType)
    assert(t.orderBy("event_id").collect().map(_.getAs[String]("when")).toSeq ==
      Seq("2024-01-05", "2024-02-30"))
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

  private def byName(s: StructType): Map[String, DataType] =
    s.fields.map(f => f.name -> f.dataType).toMap

  test("the schemas a query holds equal a fresh mergeSchema read after every batch") {
    val out = tmpDir("evoheld") + "/out"
    val held = mutable.Map.empty[String, StructType]
    val diverted = mutable.Buffer.empty[Seq[String]]
    def table(t: String) = new java.io.File(s"$out/event_type=$t")
    def poison(t: String): Unit = {
      org.apache.commons.io.FileUtils.deleteDirectory(table(t))
      assert(table(t).createNewFile())
    }
    def heal(t: String): Unit = assert(table(t).delete())
    // one micro-batch: every type gets one row with the given columns
    def batch(id: Long, cols: (String, Column)*): Unit = {
      val rows: DataFrame = cols.foldLeft(Seq("a", "q", "p").toDF("event_type")
        .withColumn("received_at", lit(id))) { case (df, (n, c)) => df.withColumn(n, c) }
      diverted.clear()
      EventPipeline.writeEvolvedBatch(spark, rows, Seq("a", "q", "p"), out, id,
        Some((failed: Seq[String], _: Throwable) => { diverted += failed; () }), held)
      held.foreach { case (t, schema) =>
        val read = spark.read.option("mergeSchema", "true").parquet(s"$out/event_type=$t").schema
        assert(byName(schema) == byName(read), s"batch $id: held schema of $t")
      }
    }
    new java.io.File(out).mkdirs()
    poison("p") // as in SinkWatchdogSpec: the table path is a plain file

    batch(1, "x" -> lit(1L)) // CREATE a and q; p's read fails
    assert(held.keySet == Set("a", "q") && diverted.flatten == Seq("p"))
    poison("q")
    batch(2, "x" -> lit(2L), "y" -> lit("v")) // ADD COLUMN y; q's move fails
    assert(held.keySet == Set("a") && diverted.flatten.sorted == Seq("p", "q"))
    assert(byName(held("a")).keySet.contains("y"))
    heal("q")
    batch(3, "x" -> lit(3.5)) // cast-only for a (x stays bigint); q re-CREATEs
    assert(held.keySet == Set("a", "q") && diverted.flatten == Seq("p"), "p is read again")
    assert(held("a")("x").dataType == LongType)
    assert(!byName(held("q")).contains("y"), "q was re-read, not remembered")
    heal("p")
    batch(4, "x" -> lit("s")) // widen a's and q's x to string; p CREATEs
    assert(held.keySet == Set("a", "q", "p") && diverted.isEmpty)
    assert(held.values.forall(_("x").dataType == StringType))
    val a = spark.read.parquet(s"$out/event_type=a").orderBy("received_at").collect()
    assert(a.map(_.getAs[String]("x")).toSeq == Seq("1", "2", "3", "s"))
    assert(a.map(r => Option(r.getAs[String]("y"))).toSeq == Seq(None, Some("v"), None, None))
  }

  /** `rows` as one micro-batch of the single type `t`, written under
    * `out` by the evolving sink's write. */
  private def landOne(out: String, batchId: Long, rows: DataFrame): Unit =
    EventPipeline.writeEvolvedBatch(spark,
      rows.withColumn("event_type", lit("t")).withColumn("received_at", lit(batchId)),
      Seq("t"), out, batchId)

  test("one-type batch: a later batch adds a column; earlier rows surface null") {
    val out = tmpDir("evolve") + "/out"
    landOne(out, 1, Seq((1L, 10.0)).toDF("id", "amount"))
    landOne(out, 2, Seq((2L, "usd_20", true)).toDF("id", "amount", "flag"))
    val tbl = SchemaEvolution.readEvolved(spark, s"$out/event_type=t")
    assert(tbl.schema("amount").dataType == StringType) // widened double->string
    val rows = tbl.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Any]("flag") == null) // old rows null-pad new col
    assert(rows(1).getAs[String]("amount") == "usd_20")
  }

  test("one-type batch: a widen keeps the columns only newer files carry") {
    // fresh tables each time: which footer a single-file schema read
    // picks varies from table to table
    (0 until 12).foreach { i =>
      val out = tmpDir("evolve_keep") + "/out"
      landOne(out, 1, Seq((1L, 10L)).toDF("id", "a"))
      landOne(out, 2, Seq((2L, 20L, "kept")).toDF("id", "a", "b"))
      landOne(out, 3, Seq((3L, "x")).toDF("id", "a"))
      val rows = SchemaEvolution.readEvolved(spark, s"$out/event_type=t").orderBy("id").collect()
      assert(rows.map(_.getAs[String]("a")).toSeq == Seq("10", "20", "x"), s"table $i")
      assert(rows.map(r => Option(r.getAs[String]("b"))).toSeq == Seq(None, Some("kept"), None),
        s"table $i lost the ADD COLUMN values in the widen rewrite")
      // the rewrite staged beside the table, under a name partition
      // discovery skips, and cleaned up after itself
      assert(new java.io.File(out).list().toSeq == Seq("event_type=t"))
    }
  }

  test("a body that does not parse is dead-lettered or dropped, never landed") {
    val base = tmpDir("evobadbody")
    val rows = Seq(
      (1L, 1700000000000000000L, 1L, "click", 1.0, """{"k": 1}"""),
      (2L, 1700000001000000000L, 2L, "click", 2.0, "{not json"),
      (3L, 1700000002000000000L, 3L, "click", 3.0, """{"k": 3}"""),
      // valid JSON, but not an object: `spark.read.json` infers only
      // `_corrupt_record` for these
      (4L, 1700000003000000000L, 4L, "click", 4.0, "42"),
      (5L, 1700000004000000000L, 5L, "click", 5.0, "\"s\""),
      (6L, 1700000005000000000L, 6L, "click", 6.0, "[1,2]"),
      // a repeated key would be inferred as two columns named `k`
      (7L, 1700000006000000000L, 7L, "click", 7.0, """{"k": 7, "k": 8}"""),
      // RFC 8259 JSON has no NaN literal, though `spark.read.json` reads one
      (8L, 1700000007000000000L, 8L, "click", 8.0, """{"a":NaN}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(s"$base/in")
    def ids(df: DataFrame): Seq[Long] =
      df.orderBy("event_id").collect().map(_.getAs[Long]("event_id")).toSeq
    val withDlq = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck",
      dlqDir = Some(s"$base/dlq"))
    val noDlq = EventPipeline.Config(s"$base/in", s"$base/out2", s"$base/ck2")
    Seq(withDlq, noDlq).foreach { cfg =>
      EventPipeline.startEvolving(spark, rows.schema, cfg).awaitTermination()
      val click = EventPipeline.readEvolvingTable(spark, cfg, "click")
      assert(!click.columns.exists(_.contains("corrupt")), click.columns.mkString(", "))
      assert(ids(click) == Seq(1L, 3L))
    }
    val dlq = spark.read.parquet(withDlq.dlqDir.get)
    assert(ids(dlq) == Seq(2L, 4L, 5L, 6L, 7L, 8L))
    assert(dlq.collect().map(_.getAs[String]("dlq_reason")).toSet == Set("malformed_body"))
    // `start` applies the same rule: with no dlqDir the bad body is dropped
    val routed = EventPipeline.Config(s"$base/in", s"$base/out3", s"$base/ck3")
    EventPipeline.start(spark, rows.schema, routed).awaitTermination()
    assert(ids(spark.read.parquet(routed.outputDir)) == Seq(1L, 3L))
  }

  test("content after the body's object or a leading NUL dead-letters it, in start and startEvolving") {
    val base = tmpDir("evotrailing")
    val rows = Seq(
      (1L, 1700000000000000000L, 1L, "click", 1.0, """{"k": 1}"""),
      // a second value, a bare word and a comment after the object: each
      // was read as `k = 2`, silently losing the rest
      (2L, 1700000001000000000L, 2L, "click", 2.0, """{"k": 2}{"b": 2}"""),
      (3L, 1700000002000000000L, 3L, "click", 3.0, """{"k": 2} x"""),
      (4L, 1700000003000000000L, 4L, "click", 4.0, """{"k": 2}//c"""),
      // on raw bytes Jackson guesses UTF-16 or UTF-32 for these and
      // fails to decode two of them; Spark's readers see UTF-8 text
      (5L, 1700000004000000000L, 5L, "click", 5.0, "\u0000a\u0000\u0000"),
      (6L, 1700000005000000000L, 6L, "click", 6.0, "\u0000{\u0000}"),
      (7L, 1700000006000000000L, 7L, "click", 7.0, "\u0000\u0000\u0000{\u0000")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(s"$base/in")
    def ids(df: DataFrame): Seq[Long] =
      df.orderBy("event_id").collect().map(_.getAs[Long]("event_id")).toSeq
    val evolving = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck",
      dlqDir = Some(s"$base/dlq"))
    EventPipeline.startEvolving(spark, rows.schema, evolving).awaitTermination()
    assert(ids(EventPipeline.readEvolvingTable(spark, evolving, "click")) == Seq(1L))
    assert(ids(spark.read.parquet(s"$base/dlq")) == (2L to 7L))
    val routed = EventPipeline.Config(s"$base/in", s"$base/out2", s"$base/ck2",
      dlqDir = Some(s"$base/dlq2"))
    EventPipeline.start(spark, rows.schema, routed).awaitTermination()
    assert(ids(spark.read.parquet(routed.outputDir)) == Seq(1L))
    assert(ids(spark.read.parquet(s"$base/dlq2")) == (2L to 7L))
  }

  test("the body rule is strict JSON: Jackson's leniencies stay off, valid edge shapes land") {
    val malformed = Seq("""{"a":'x'}""", "{a:1}", """{"a":01}""", """{"a":1,}""",
      """{"a":{"b":1,"b":2}}""", "{\"a\":\"\u0001\"}", "", " ",
      // NUL-led bodies are UTF-8 text with a stray NUL, as Spark reads
      // them, not UTF-16 or UTF-32
      "\u0000a\u0000\u0000", "\u0000{\u0000}", "\u0000\u0000\u0000{\u0000")
    val clean = Seq("{}", """ {"a":1} """, """{"a":1e400}""", """{"a":12345678901234567890}""",
      """{"a":[[1]]}""", """{"a":null}""", """{"ключ":"значение"}""")
    val verdicts = (malformed ++ clean).toDF("b")
      .select(col("b"), graft.operators.EventRouter.malformedBody("b")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts == (malformed.map(_ -> true) ++ clean.map(_ -> false)).toMap)
  }

  test("a restarted query widens with every column the previous run added") {
    val base = tmpDir("evorestart")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    val types = (0 until 6).map(i => s"t$i")
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.map { case (id, t, props) => (id, 1700000000000000000L + id, 1L, t, 1.0, props) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(cfg.inputDir)
    // query A, two triggers: CREATE all six, then ADD COLUMN on three
    write(types.zipWithIndex.map { case (t, i) => (i.toLong, t, s"""{"k": $i}""") })
    write(types.take(3).zipWithIndex.map { case (t, i) =>
      (10L + i, t, s"""{"k": $i, "extra": "e$i"}""") })
    val schema = spark.read.parquet(cfg.inputDir).schema
    EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()
    // query B, restarted on the same output and checkpoint: widen k
    write(types.zipWithIndex.map { case (t, i) => (20L + i, t, s"""{"k": "w$i"}""") })
    EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()

    types.zipWithIndex.foreach { case (t, i) =>
      val rows = EventPipeline.readEvolvingTable(spark, cfg, t).orderBy("event_id").collect()
      val added = i < 3
      assert(rows.map(_.getAs[String]("k")).toSeq ==
        (if (added) Seq(s"$i", s"$i", s"w$i") else Seq(s"$i", s"w$i")), t)
      assert(rows.head.schema.fieldNames.contains("extra") == added, t)
      if (added)
        assert(rows.map(r => Option(r.getAs[String]("extra"))).toSeq ==
          Seq(None, Some(s"e$i"), None), s"$t lost its ADD COLUMN values in the widen")
    }
  }
}
