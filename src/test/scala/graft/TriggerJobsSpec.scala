package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.obs.Profiler
import graft.sources.JdbcEventSink
import graft.streaming.EventPipeline

/** The Spark jobs one steady evolving trigger runs, pinned
  * literally: the inference pre-pass (which fills the batch cache and
  * yields the types, the body verdicts, the batch schema and the
  * flatten's facts) and the writes, which compute the projection from
  * that one cache: one routed write in the parquet sink
  * (`startEvolving`), one INSERT per type in the JDBC sink
  * (`startEvolvingJdbc`). The profiler counts a trigger's jobs by the
  * query and batch ids the stream sets on them, so no other job in the
  * JVM is counted. */
class TriggerJobsSpec extends SparkSpec {
  import spark.implicits._

  /** The jobs of the trigger that lands `second`'s bodies on the tables
    * `first`'s bodies created, 8 events over 4 types each, in the sink
    * `start` runs; and `type_1`'s table as `read` gives it. */
  private def secondTriggerJobs(name: String, first: Int => String, second: Int => String,
                                start: (EventPipeline.Config, StructType) => StreamingQuery =
                                  (cfg, schema) => EventPipeline.startEvolving(spark, schema, cfg,
                                    availableNow = false),
                                read: EventPipeline.Config => DataFrame =
                                  EventPipeline.readEvolvingTable(spark, _, "type_1")) = {
    val base = tmpDir(name)
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    def write(dir: String, from: Int, props: Int => String): Unit =
      (0 until 8).map { i =>
        ((from + i).toLong, 1700000000000000000L + (from + i) * 1000000000L, i.toLong,
          s"type_${i % 4}", i * 1.0, props(i))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    write(cfg.inputDir, 0, first)
    // staged outside the input dir, so the first trigger cannot see it
    write(s"$base/next", 100, second)
    val profiler = Profiler.install(spark)
    val q = start(cfg, spark.read.parquet(cfg.inputDir).schema)
    try {
      q.processAllAvailable()
      val next = new java.io.File(s"$base/next").listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(next.toPath, java.nio.file.Paths.get(cfg.inputDir, "part-next.parquet"))
      q.processAllAvailable()
    } finally { q.stop(); profiler.close() }
    (read(cfg), profiler.batch(q.id, 1).jobs)
  }

  test("a steady cast-free evolving trigger runs three jobs") {
    val (table, jobs) = secondTriggerJobs("trigjobs",
      i => s"""{"k":$i,"tags":["a","b"],"when":"2024-01-0${i + 1}"}""",
      i => s"""{"k":$i,"tags":["c"],"when":"2024-02-0${i + 1}","extra":"e$i"}""")
    // trigger 1 lands every table; trigger 2 adds `extra` to each (cast-free)
    val rows = table.orderBy("event_id").collect()
    assert(rows.map(r => Option(r.getAs[String]("extra"))).toSeq == Seq(None, None, Some("e1"), Some("e5")))
    // the pre-pass (1) and the routed write (2: its shuffle map stage and
    // the write). This trigger ran 9 before the pre-pass: the distinct
    // (type, malformed) collect (3), `spark.read.json` (1), the stats
    // aggregate (2) and the write (3, a cache fill among them); then 5,
    // with the pre-pass (1), a facts walk of the parsed rows (1) and the
    // same write (3).
    assert(jobs == 3)
  }

  test("a widening evolving trigger runs three jobs") {
    val (table, jobs) = secondTriggerJobs("trigwiden",
      i => s"""{"k":$i,"when":"2024-01-0${i + 1}"}""",
      i => s"""{"k":"s$i","when":"2024-02-0${i + 1}"}""")
    // trigger 2 widens `k` to STRING in every table, old rows included
    assert(table.orderBy("event_id").collect().map(_.getAs[String]("k")).toSeq ==
      Seq("1", "5", "s1", "s5"))
    // the pre-pass (1) and the one rewrite of the four tables (2: its
    // shuffle map stage, which reads the old files and the batch cache,
    // and the write). With the facts walk and the cache fill this
    // trigger ran 5.
    assert(jobs == 3)
  }

  test("a steady cast-free JDBC evolving trigger runs five jobs") {
    // one in-memory Derby database for this test alone
    val url = "jdbc:derby:memory:grafttrigjobs;create=true"
    val (table, jobs) = secondTriggerJobs("trigjdbc",
      i => s"""{"k":$i,"tags":["a","b"]}""",
      i => s"""{"k":$i,"tags":["c"],"extra":"e$i"}""",
      (cfg, schema) => EventPipeline.startEvolvingJdbc(spark,
        EventPipeline.FileEventSource(schema, cfg.inputDir), cfg, url, availableNow = false),
      _ => JdbcEventSink.readTable(spark, url, JdbcEventSink.tableName("type_1")))
    val rows = table.orderBy("event_id").collect()
    assert(rows.map(r => Option(r.getAs[String]("extra"))).toSeq == Seq(None, None, Some("e1"), Some("e5")))
    // the pre-pass (1) and one INSERT job per type (4); each type's
    // schema read and ADD COLUMN run on the driver's own connections
    assert(jobs == 5)
  }
}
