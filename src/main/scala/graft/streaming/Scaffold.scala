package graft.streaming

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The scaffolding every graft stream shares, defined once: the
  * checkpointed `foreachBatch` drain, the file-per-micro-batch stager
  * that feeds the file-source rows, and the scratch dirs they all
  * write to. */
private[graft] object Scaffold {

  /** Start `stream` as a checkpointed `foreachBatch` query. AvailableNow
    * drains everything present and stops (the batch-refill shape);
    * otherwise it runs on the default micro-batch trigger, the always-on
    * worker. */
  def foreachBatch(stream: DataFrame, checkpointDir: String,
                   availableNow: Boolean = true,
                   outputMode: String = "append")(
                   body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** `f` over `items`, at most `maxPar` at a time, results in item
    * order: independent Spark jobs submitted from a small driver pool
    * back-fill each other's task tails instead of running as a serial
    * ladder. `maxPar <= 1` (or a single item) runs serially on the
    * calling thread. The first failure propagates once every item has
    * finished. */
  def overlapped[A, B](items: Seq[A], maxPar: Int)(f: A => B): Seq[B] =
    if (maxPar <= 1 || items.size <= 1) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(maxPar, items.size))
      try {
        val futs = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
        val done = futs.map(fu => Try(fu.get())) // waits for every item
        done.map(_.fold({
          case e: ExecutionException => throw e.getCause
          case e => throw e
        }, identity))
      } finally { pool.shutdown(); () }
    }

  /** Stage N independent slice frames as EXACTLY one parquet file each
    * under `dest` — the file-per-micro-batch input layout the streaming
    * driver rows replay — writing them [[overlapped]] instead of as N
    * serial scan+write jobs. Each slice writes into its own staging dir
    * (concurrent jobs must not share one output committer), then its single part file moves into `dest` as
    * `slice-0000i.parquet` with strictly ASCENDING modification times,
    * so a maxFilesPerTrigger=1 file stream consumes file i as
    * micro-batch i — the watermark-ordering contract b23 depends on. */
  def stageSliceFiles(s: SparkSession, dest: String,
                      slices: Seq[DataFrame]): Unit = {
    overlapped(slices.zipWithIndex, 4) { case (df, i) =>
      df.coalesce(1).write.parquet(s"$dest/__stage_$i")
    }
    val fs = new Path(dest).getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = System.currentTimeMillis()
    slices.indices.foreach { i =>
      val stage = new Path(s"$dest/__stage_$i")
      val parts = fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      require(parts.length == 1, // coalesce(1) wrote exactly one file
        s"stageSliceFiles: expected 1 part file in $stage, got ${parts.length}")
      val to = new Path(dest, f"slice-$i%05d.parquet")
      if (!fs.rename(parts.head, to))
        throw new java.io.IOException(s"stageSliceFiles: rename to $to failed")
      fs.setTimes(to, base - (slices.size - i) * 60000L, -1)
      fs.delete(stage, true); ()
    }
  }

  /** A fresh local temp dir, deleted with everything under it when the
    * JVM exits: Hadoop's FileSystem cache closes the local filesystem
    * in its shutdown hook, after Spark's own hooks have stopped the
    * session, and closing runs the registered recursive deletes. */
  def scratch(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    FileSystem.getLocal(hadoopConf).deleteOnExit(new Path(dir))
    dir
  }

  // names the session's `file:` class: the JVM caches the first one
  // made, and a scratch dir may be asked for before any session exists
  private lazy val hadoopConf = {
    val conf = new Configuration()
    conf.set("fs.file.impl", graft.sources.LocalFs.Impl)
    conf
  }
}
