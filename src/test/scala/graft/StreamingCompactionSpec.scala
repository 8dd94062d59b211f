package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import graft.streaming.EventPipeline

/** B24's streaming twin: the maintenance loop that compacts the routed
  * tables WHILE the A11 stream appends (reference
  * bulker.class.ts:66-117 — MergeTree's background merges, owned by
  * the engine that owns the parts). Pins three claims:
  *
  *  1. no lost appends: compaction runs inside foreachBatch, serialized
  *     with the stream's own writes, so the snapshot-then-swap window
  *     can never swallow a concurrent micro-batch — final contents are
  *     row-identical to an uncompacted twin run;
  *  2. it actually merges: the compacted run ends with far fewer files
  *     than the fragmented twin;
  *  3. staged-swap visibility: a concurrent reader hammering the table
  *     throughout sees, on every SUCCESSFUL read, a row count that
  *     never exceeds the true total and never goes backwards — the old
  *     layout or the new one, duplicates from a half-merged union
  *     would overshoot and a torn swap would undershoot a count the
  *     reader already proved. (Transient read failures during the swap
  *     window are legal — directory rename is visibility, not
  *     wait-free reads — and are retried.)
  */
class StreamingCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def eventRows(ids: Range, eventType: String): Seq[(Long, Long, Long, String, Double, String)] =
    ids.map(i => (i.toLong, 1700000000000000000L + i * 1000000000L, i.toLong % 7,
      eventType, i * 1.5, s"""{"k":$i}"""))

  test("in-stream compaction loses nothing, merges files, stays readable") {
    val base = tmpDir("streamcompact")
    val in = s"$base/in"
    // 6 arriving files = 6 micro-batches at maxFilesPerTrigger=1
    val batches = (0 until 6).map { b =>
      val t = if (b % 2 == 0) "click" else "purchase"
      eventRows(b * 50 until (b + 1) * 50, t)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    batches.foreach(_.coalesce(1).write.mode("append").parquet(in))
    val schema = batches.head.schema
    val total = 300L

    // fragmented twin: same input, no maintenance loop
    val plain = EventPipeline.Config(in, s"$base/out_plain", s"$base/ck_plain")
    EventPipeline.start(spark, schema, plain).awaitTermination()

    // compacted run, with a reader hammering the table concurrently
    val stats = new ConcurrentLinkedQueue[graft.operators.Compactor.Stats]()
    val cfg = EventPipeline.Config(in, s"$base/out", s"$base/ck",
      compactEvery = Some(2),
      onCompact = Some(st => { stats.add(st); () }))
    val stop = new AtomicBoolean(false)
    val observed = new ConcurrentLinkedQueue[Long]()
    val readErrors = new ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      var last = 0L
      while (!stop.get()) {
        try {
          val n = spark.read.parquet(s"$base/out").count()
          observed.add(n)
          if (n < last) readErrors.add(s"count went backwards: $last -> $n")
          if (n > total) readErrors.add(s"count overshot total: $n > $total")
          last = math.max(last, n)
        } catch { case _: Throwable => () } // swap window: retry
        Thread.sleep(5)
      }
    }, "compaction-reader")
    reader.setDaemon(true); reader.start()
    try EventPipeline.start(spark, schema, cfg).awaitTermination()
    finally { stop.set(true); reader.join(10000) }

    // 1. no lost appends, no duplicates: identical to the twin
    val a = spark.read.parquet(s"$base/out")
      .select("event_id", "event_type", "value")
    val b = spark.read.parquet(s"$base/out_plain")
      .select("event_id", "event_type", "value")
    assert(a.count() == total && b.count() == total)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)

    // 2. the maintenance loop ran and merged (3 compactions at n=2)
    assert(stats.size() == 3, s"expected 3 compactions, got ${stats.size()}")
    def files(dir: String): Int =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).count(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files(s"$base/out") < files(s"$base/out_plain"),
      s"compacted=${files(s"$base/out")} plain=${files(s"$base/out_plain")}")

    // 3. the concurrent reader never saw a torn or duplicated view
    assert(readErrors.isEmpty, readErrors.toArray.mkString("; "))
    assert(!observed.isEmpty, "reader never completed a single read")
  }
}
