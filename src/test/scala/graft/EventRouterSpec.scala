package graft

import org.apache.spark.sql.functions._
import graft.operators.EventRouter

/** Routing write path: one shuffle + partitionBy, salt fan-out for hot
  * keys, partition pruning on read-back (the scale claims of SURVEY §5,
  * checked against actual plans and files). */
class EventRouterSpec extends SparkSpec {
  import spark.implicits._

  private def events(n: Int) = (0 until n).map { i =>
    (i.toLong, 1700000000000000000L + i * 1000000000L,
      i.toLong % 5, if (i % 10 == 0) "hot" else s"t${i % 3}", i * 1.0)
  }.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("writeRouted produces one directory per event_type; rows intact") {
    val out = tmpDir("route") + "/tables"
    EventRouter.writeRouted(events(300), out, sortCol = "ts")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(dirs.toSeq == Seq("event_type=hot", "event_type=t0", "event_type=t1", "event_type=t2"))
    assert(spark.read.parquet(out).count() == 300)
  }

  test("salted write fans a hot route across multiple files, same data") {
    val out = tmpDir("route") + "/salted"
    // AQE rightly coalesces tiny salted partitions back together at toy
    // scale — disable it here to observe the fan-out shape itself.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      EventRouter.writeRouted(events(300), out, sortCol = "ts", saltBuckets = 4)
    }
    val hot = spark.read.parquet(out).filter(col("event_type") === "hot")
    assert(hot.count() == 30)
    // salt buckets → several part files under the hot partition
    val hotFiles = new java.io.File(s"$out/event_type=hot").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(hotFiles > 1, s"expected salt fan-out, got $hotFiles file(s)")
  }

  test("hot-type skew: the salt splits one dominant type across buckets, evenly") {
    // 90% of rows are ONE type -- the distribution where an unsalted
    // route write serializes the cluster behind a single partition
    val skewed = (0 until 2000).map { i =>
      (i.toLong, 1700000000000000000L + i * 1000000000L, i.toLong % 5,
        if (i % 10 != 0) "hot" else s"t${i % 3}", i * 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = tmpDir("route") + "/skewed"
    // size buckets ~ shuffle partitions (32): with only a handful of
    // salt values, hash collisions into the 32 partitions re-create
    // the very hot partition the salt exists to break
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "32") { // test default is 4
      EventRouter.writeRouted(skewed, out, sortCol = "ts", saltBuckets = 32)
    }

    val hotDir = new java.io.File(s"$out/event_type=hot")
    val hotFiles = hotDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(hotFiles.length >= 8,
      s"32 salt buckets should split the 90% type into several writers, got ${hotFiles.length}")
    // the split is EFFECTIVE: no single file holds the hot partition
    val counts = hotFiles.map(f =>
      spark.read.parquet(f.getPath).count().toDouble)
    assert(counts.max / counts.sum < 0.3,
      s"salting left ${counts.max}/${counts.sum} rows in one file")
    assert(counts.sum == 1800.0 && spark.read.parquet(out).count() == 2000)
  }

  test("plan guard: salted route is ONE exchange keyed by (event_type, crc32 salt)") {
    val p = EventRouter.routedFrame(events(300), "ts", saltBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"route should shuffle exactly once:\n$p")
    assert(p.contains("xxhash64") && p.contains("pmod"),
      s"salt missing from the partitioning expression:\n$p")
    assert(p.contains("Exchange hashpartitioning(event_type"),
      s"route key must lead the partitioning:\n$p")
    // unsalted: same single exchange, no salt term
    val u = EventRouter.routedFrame(events(300), "ts", saltBuckets = 1)
      .queryExecution.executedPlan.toString
    assert(u.split("\n").count(_.contains("Exchange hashpartitioning")) == 1 &&
      !u.contains("xxhash64"), s"unsalted shape regressed:\n$u")
  }

  test("readRoute prunes partitions (filter reaches PartitionFilters)") {
    val out = tmpDir("route") + "/pruned"
    EventRouter.writeRouted(events(300), out, sortCol = "ts")
    val plan = EventRouter.readRoute(spark, out, "t1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), s"no partition pruning in:\n$plan")
    // t1 = i%3==1 (100 rows) minus the i%10==0 overlap (i≡10 mod 30: 10 rows)
    assert(EventRouter.readRoute(spark, out, "t1").count() == 90)
  }

  test("retryDisposition drops exhausted non-critical rows, keeps critical") {
    val failed = Seq(
      (1L, "click", 1), (2L, "click", 2),   // non-critical: 2nd failure drops
      (3L, "purchase", 2), (4L, "purchase", 5) // critical: always retries
    ).toDF("event_id", "event_type", "attempts")
    val (retry, dropped) = EventRouter.retryDisposition(failed, "attempts", Seq("click"))
    assert(retry.select("event_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    assert(dropped.select("event_id").as[Long].collect().toSet == Set(2L))
  }

  test("replayDlq: transient rows retry with doubling backoff then recover") {
    val dlq = Seq((1L, "click", "malformed_body"))
      .toDF("event_id", "event_type", "dlq_reason")
    val out = EventRouter.replayDlq(dlq,
        recoverAttempt = lit(3), maxAttempts = 5, baseDelaySec = 1L,
        nonCritical = Nil)
      .orderBy("attempt")
      .select("attempt", "backoff_s", "disposition")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1, 1L, "retried"), (2, 2L, "retried"),
      (3, 4L, "recovered")))
  }

  test("replayDlq: exhausted rows drop when non-critical, park when critical") {
    val dlq = Seq((1L, "click", "malformed_body"),
        (2L, "purchase", "malformed_body"))
      .toDF("event_id", "event_type", "dlq_reason")
    val out = EventRouter.replayDlq(dlq,
        recoverAttempt = lit(null).cast("int"), maxAttempts = 5,
        baseDelaySec = 2L, nonCritical = Seq("click"))
    // full budget spent on both rows, exponential base*2^(n-1)
    assert(out.filter(col("event_id") === 1L).count() == 5)
    assert(out.filter(col("attempt") === 5).select("backoff_s")
      .as[Long].collect().toSeq == Seq(32L, 32L))
    val last = out.filter(col("attempt") === 5)
      .select("event_id", "disposition")
      .as[(Long, String)].collect().toMap
    assert(last == Map(1L -> "dropped_non_critical", 2L -> "parked"))
    // attempts before the last are all retries
    assert(out.filter(col("attempt") < 5)
      .select("disposition").distinct().as[String].collect().toSeq == Seq("retried"))
  }

  test("replayDlq: recovery attempt beyond the budget behaves as never-recovers") {
    val dlq = Seq((1L, "click", "malformed_body"))
      .toDF("event_id", "event_type", "dlq_reason")
    val out = EventRouter.replayDlq(dlq, recoverAttempt = lit(9),
        maxAttempts = 5, baseDelaySec = 1L, nonCritical = Nil)
      .orderBy("attempt").select("disposition").as[String].collect()
    assert(out.length == 5 && out.last == "parked")
  }

  test("normalizeLegacy upscales second-precision rows, tags, backfills") {
    val df = Seq(
      (1L, 1700000000L, null.asInstanceOf[java.lang.Long]), // legacy: seconds, no received_at
      (2L, 1700000000123456789L, java.lang.Long.valueOf(1700000000123456789L)), // modern
      (3L, 4102444800L, null.asInstanceOf[java.lang.Long]), // legacy, year 2100
      (4L, 10000000000L, java.lang.Long.valueOf(7L))        // 11 digits: NOT legacy
    ).toDF("event_id", "ts", "received_at")
    val out = EventRouter.normalizeLegacy(df, "ts", Some("received_at"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L) === ((1700000000000000000L, 1700000000000000000L, 1)))
    assert(out(2L) === ((1700000000123456789L, 1700000000123456789L, 0))) // untouched
    assert(out(3L) === ((4102444800000000000L, 4102444800000000000L, 1)))
    assert(out(4L) === ((10000000000L, 7L, 0))) // 11-digit value passes through
  }

  test("withBatchId chunks each route into perBatch-sized batches") {
    val batched = EventRouter.withBatchId(events(300), perBatch = 40,
      Seq(col("ts"), col("event_id")))
    val sizes = batched.groupBy("event_type", "batch_id").count()
      .filter(col("event_type") === "t0").orderBy("batch_id")
      .select("count").as[Long].collect()
    assert(sizes.init.forall(_ == 40L) && sizes.last <= 40L)
  }

  test("withBatchId matches the single-window rank and keeps null routes") {
    // every 7th event has a NULL route — a legal window group that the
    // two-pass shape's join must not drop
    val ev = events(300).withColumn("event_type",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")))
    val got = EventRouter.withBatchId(ev, perBatch = 40,
      Seq(col("ts"), col("event_id")))
    assert(got.count() == 300)
    // oracle: the straightforward one-window global rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("batch_id",
      ((row_number().over(w) - lit(1)) / lit(40)).cast("bigint"))
    assert(got.select("event_id", "batch_id").except(
      want.select("event_id", "batch_id")).count() == 0)
  }

  test("withBatchId is exact with exchange reuse disabled") {
    // regression: __pid must be a pure function of row data, not of
    // which physical exchange computed it — with reuse off, the offsets
    // aggregate and the local-rank branch run as separate subtrees, and
    // any per-exchange sampling seed would silently mis-assign batches
    val ev = events(300).withColumn("event_type",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")))
    withConf("spark.sql.exchange.reuse" -> "false") {
      val got = EventRouter.withBatchId(ev, perBatch = 40,
        Seq(col("ts"), col("event_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val want = ev.withColumn("batch_id",
        ((row_number().over(w) - lit(1)) / lit(40)).cast("bigint"))
      assert(got.count() == 300)
      assert(got.select("event_id", "batch_id").except(
        want.select("event_id", "batch_id")).count() == 0)
    }
  }
}
