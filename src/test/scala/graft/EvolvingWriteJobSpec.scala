package graft

import graft.streaming.EventPipeline

/** The streaming router's write must be ONE routed job per micro-batch
  * (the batch router's one-shuffle shape), not a per-present-type job
  * loop — at high type cardinality the loop serialized N sequential
  * filtered writes per trigger. Counted as the profiler's write jobs,
  * the jobs whose tasks wrote output rows; a steady trigger's whole job
  * count, schema reads included, must not follow the type count. */
class EvolvingWriteJobSpec extends SparkSpec {
  import spark.implicits._

  private def countInserts(body: => Unit): Long = profiled(body)._2.writeJobs

  test("evolving router: one insert job per micro-batch across many types") {
    val base = tmpDir("evojobs")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    val rows = (0 until 40).map { i =>
      (i.toLong, 1700000000000000000L + i * 1000000000L, i.toLong % 7,
        s"type_${i % 8}", i * 1.5, s"""{"k":$i}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(cfg.inputDir)

    val inserts = countInserts {
      EventPipeline.startEvolving(spark, spark.read.parquet(cfg.inputDir).schema, cfg)
        .awaitTermination()
    }
    // 8 event types, ONE routed staging write (the input-setup write
    // happened before the profiler counted)
    assert(inserts == 1, s"expected exactly 1 insert job for 8 types, saw $inserts")

    // every type's table materialized from the single write
    (0 until 8).foreach { t =>
      val tbl = EventPipeline.readEvolvingTable(spark, cfg, s"type_$t")
      assert(tbl.count() == 5, s"type_$t lost rows in the shared write")
      assert(tbl.columns.contains("message_id") && tbl.columns.contains("k"))
    }
  }

  test("cast-needing types fall back alone; cast-free types still share one write") {
    val base = tmpDir("evojobs2")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    def write(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(cfg.inputDir)
    val schema = {
      write(Seq((0L, 1700000000000000000L, 0L, "a", 1.0, """{"amount": 1.5}""")))
      spark.read.parquet(cfg.inputDir).schema
    }
    EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()

    // batch 2: type a's amount widens to string (rewrite path), b/c are new
    write(Seq(
      (1L, 1700000001000000000L, 1L, "a", 2.0, """{"amount": "usd_9"}"""),
      (2L, 1700000002000000000L, 2L, "b", 3.0, """{"amount": "x"}"""),
      (3L, 1700000003000000000L, 3L, "c", 4.0, """{"amount": "y"}""")))
    val inserts = countInserts {
      EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()
    }
    // one shared staging write (b, c) + one widen rewrite (a)
    assert(inserts == 2, s"expected shared write + one widen rewrite, saw $inserts")
    val a = EventPipeline.readEvolvingTable(spark, cfg, "a").orderBy("event_id").collect()
    assert(a.map(_.getAs[String]("amount")).toSeq == Seq("1.5", "usd_9"))
    assert(EventPipeline.readEvolvingTable(spark, cfg, "b").count() == 1)
  }

  private def widenTwice(base: String, types: Seq[String]): (EventPipeline.Config, Long) = {
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    def write(amount: Int => String, from: Int): Unit =
      types.zipWithIndex.map { case (t, i) =>
        ((from + i).toLong, 1700000000000000000L + (from + i) * 1000000000L, i.toLong, t,
          i * 1.0, s"""{"amount": ${amount(i)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(cfg.inputDir)
    write(i => s"$i.5", 0)
    val schema = spark.read.parquet(cfg.inputDir).schema
    EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()
    // batch 2: every type's amount widens double -> string
    write(i => s""""usd_$i"""", 100)
    val inserts = countInserts {
      EventPipeline.startEvolving(spark, schema, cfg).awaitTermination()
    }
    (cfg, inserts)
  }

  private def assertWidened(cfg: EventPipeline.Config, types: Seq[String]): Unit =
    types.zipWithIndex.foreach { case (t, i) =>
      val rows = EventPipeline.readEvolvingTable(spark, cfg, t).orderBy("event_id").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSeq == Seq(i.toLong, 100L + i), t)
      assert(rows.map(_.getAs[String]("amount")).toSeq == Seq(s"$i.5", s"usd_$i"), t)
    }

  test("types whose tables share one schema widen in ONE rewrite job") {
    val types = (0 until 8).map(i => s"type_$i")
    val (cfg, inserts) = widenTwice(tmpDir("evojobs3"), types)
    assert(inserts == 1, s"expected one grouped widen rewrite for 8 types, saw $inserts")
    assertWidened(cfg, types)
  }

  test("the grouped rewrite keeps type names that partition discovery would mangle") {
    val types = Seq("007", "page/view", "中")
    val (cfg, inserts) = widenTwice(tmpDir("evojobs4"), types)
    assert(inserts == 1, s"expected one grouped widen rewrite, saw $inserts")
    assertWidened(cfg, types)
    // only the three tables remain: no staged or retyped sibling dir
    val dirs = new java.io.File(cfg.outputDir).list().toSet
    assert(dirs == Set("event_type=007", "event_type=page%2Fview", "event_type=中"), dirs)
  }

  /** Spark jobs the second trigger of one always-on query starts, when
    * every one of `types` types gains a column (a cast-free append). */
  private def secondTriggerJobs(base: String, types: Int): Long = {
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    def write(dir: String, from: Int, props: Int => String): Unit =
      (0 until types).map { i =>
        ((from + i).toLong, 1700000000000000000L + (from + i) * 1000000000L, i.toLong,
          s"type_$i", i * 1.0, props(i))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    write(cfg.inputDir, 0, i => s"""{"k": $i}""")
    // staged outside the input dir, so the query cannot see it before
    // the profiler counts
    write(s"$base/next", 100, i => s"""{"k": $i, "extra": "e$i"}""")
    val next = new java.io.File(s"$base/next").listFiles().filter(_.getName.startsWith("part-")).head
    val q = EventPipeline.startEvolving(spark, spark.read.parquet(cfg.inputDir).schema, cfg,
      availableNow = false)
    val jobs = try {
      q.processAllAvailable()
      profiled {
        java.nio.file.Files.move(next.toPath,
          java.nio.file.Paths.get(cfg.inputDir, "part-next.parquet"))
        q.processAllAvailable()
      }._2.jobs
    } finally q.stop()
    (0 until types).foreach { i =>
      val rows = EventPipeline.readEvolvingTable(spark, cfg, s"type_$i").orderBy("event_id").collect()
      assert(rows.map(r => Option(r.getAs[String]("extra"))).toSeq == Seq(None, Some(s"e$i")))
    }
    jobs
  }

  test("a steady trigger runs no job per table: its job count does not follow the type count") {
    val (eight, sixteen) = (secondTriggerJobs(tmpDir("evojobs5"), 8),
      secondTriggerJobs(tmpDir("evojobs6"), 16))
    assert(eight == sixteen,
      s"trigger 2 started $eight jobs over 8 tables but $sixteen over 16")
  }
}
