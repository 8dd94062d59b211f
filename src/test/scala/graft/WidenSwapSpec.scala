package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import graft.streaming.EventPipeline

/** A local filesystem under its own `failswap:` scheme whose one fault
  * is the widen rewrite's swap: renaming a staged table dir
  * (`__graft_stage_*` / `event_type=*`) into its table fails. */
class FailingSwapFs extends RawLocalFileSystem {
  override def getScheme: String = "failswap"
  override def getUri: URI = URI.create("failswap:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.startsWith("event_type=") &&
      src.getParent.getName.startsWith("__graft_stage_")) false
    else super.rename(src, dst)
}

/** A widen rewrite swaps the staged table in for the old one. When the
  * swap's rename fails, the table keeps its old rows and only the
  * batch's rows of that type are dead-lettered: the old dir is renamed
  * aside, not deleted, until the staged one is in. */
class WidenSwapSpec extends SparkSpec {
  import spark.implicits._

  test("a failed widen swap keeps the table's rows and diverts only the batch's type") {
    spark.sparkContext.hadoopConfiguration.set("fs.failswap.impl", classOf[FailingSwapFs].getName)
    val base = tmpDir("widenswap")
    val cfg = EventPipeline.Config(s"$base/in", s"failswap://$base/out", s"$base/ck",
      dlqDir = Some(s"$base/dlq"))
    def drain(rows: Seq[(Long, String, String)]): Unit = {
      val df = rows.map { case (id, t, props) =>
        (id, 1700000000000000000L + id, 1L, t, 1.0, props)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      df.coalesce(1).write.mode("append").parquet(cfg.inputDir)
      EventPipeline.startEvolving(spark, df.schema, cfg).awaitTermination()
    }
    def table(t: String): Seq[(Long, String)] =
      EventPipeline.readEvolvingTable(spark, cfg, t).orderBy("event_id").collect()
        .map(r => r.getAs[Long]("event_id") -> r.get(r.fieldIndex("x")).toString).toSeq

    drain(Seq((1L, "w", """{"x":1}"""), (2L, "w", """{"x":2}""")))
    // `w`'s x turns string: a widen rewrite, whose swap fails; the new
    // table `ok` is created in the same batch
    drain(Seq((3L, "w", """{"x":"s"}"""), (4L, "ok", """{"x":4}""")))

    assert(table("w") == Seq(1L -> "1", 2L -> "2"))
    assert(table("ok") == Seq(4L -> "4"))
    val dlq = spark.read.parquet(s"$base/dlq").collect()
    assert(dlq.map(r => (r.getAs[Long]("event_id"), r.getAs[String]("dlq_reason"))).toSeq ==
      Seq(3L -> "sink_write_failed"))
    // nothing is left aside or staged under the output root
    assert(new java.io.File(s"$base/out").list().sorted.toSeq ==
      Seq("event_type=ok", "event_type=w"))
  }
}
