package graft

import graft.obs.Profiler
import graft.streaming.EventPipeline

/** The Spark jobs one steady, cast-free `startEvolving` trigger runs,
  * pinned literally: the inference pre-pass (which fills the batch
  * cache and yields the types, the body verdicts and the batch schema),
  * the flatten's facts walk and the routed write. The profiler counts
  * a trigger's jobs by the query and batch ids the stream sets on them,
  * so no other job in the JVM is counted. */
class TriggerJobsSpec extends SparkSpec {
  import spark.implicits._

  test("a steady cast-free evolving trigger runs five jobs") {
    val base = tmpDir("trigjobs")
    val cfg = EventPipeline.Config(s"$base/in", s"$base/out", s"$base/ck")
    def write(dir: String, from: Int, props: Int => String): Unit =
      (0 until 8).map { i =>
        ((from + i).toLong, 1700000000000000000L + (from + i) * 1000000000L, i.toLong,
          s"type_${i % 4}", i * 1.0, props(i))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    write(cfg.inputDir, 0, i => s"""{"k":$i,"tags":["a","b"],"when":"2024-01-0${i + 1}"}""")
    // staged outside the input dir, so the first trigger cannot see it
    write(s"$base/next", 100, i => s"""{"k":$i,"tags":["c"],"when":"2024-02-0${i + 1}","extra":"e$i"}""")
    val profiler = Profiler.install(spark)
    val q = EventPipeline.startEvolving(spark, spark.read.parquet(cfg.inputDir).schema, cfg,
      availableNow = false)
    try {
      q.processAllAvailable()
      val next = new java.io.File(s"$base/next").listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(next.toPath, java.nio.file.Paths.get(cfg.inputDir, "part-next.parquet"))
      q.processAllAvailable()
    } finally { q.stop(); profiler.close() }
    // trigger 1 lands every table; trigger 2 adds `extra` to each (cast-free)
    val rows = EventPipeline.readEvolvingTable(spark, cfg, "type_1").orderBy("event_id").collect()
    assert(rows.map(r => Option(r.getAs[String]("extra"))).toSeq == Seq(None, None, Some("e1"), Some("e5")))
    // the pre-pass (1), the facts walk (1) and the routed write (3).
    // Before the pre-pass this trigger ran 9: the distinct (type,
    // malformed) collect (3), `spark.read.json` (1), the stats
    // aggregate (2) and the same write (3).
    assert(profiler.batch(q.id, 1).jobs == 5)
  }
}
