package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the routed per-type tables.
  *
  * Streaming micro-batches fragment the event tables (every trigger
  * writes ≥ 1 file per touched partition — the same fragmentation the
  * reference's per-batch ClickHouse INSERTs cause, which MergeTree's
  * background merges clean up; src/bulker.class.ts:66-117). On a file
  * store there is no background merger, so compaction is an explicit
  * operator: rewrite the table so files approach `targetBytes`,
  * keeping the partition layout and re-sorting rows within files by
  * the table's time column (preserving the MergeTree-ORDER-BY-shaped
  * locality the readers rely on).
  *
  * Mechanics: one `repartitionByRange` over (partition key, sort key)
  * sized from the table's actual byte size — ranges follow the
  * partition key first, so each output file lands in one partition
  * dir; staged write + directory swap ([[swapIn]], which
  * SchemaEvolution's widen rewrite shares) keeps readers consistent.
  */
object Compactor {

  case class Stats(filesBefore: Long, filesAfter: Long, bytes: Long)

  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    val it = fs.listFiles(dir, true)
    val out = scala.collection.mutable.ListBuffer[Path]()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        out += f.getPath
    }
    out.toSeq
  }

  /** Swap the staged dir `staged` in for `dir`, which is being read
    * and so cannot be overwritten in place: rename `dir` to `aside`,
    * rename `staged` to `dir`, then delete `aside`. When the second
    * rename fails `aside` is renamed back, so `dir` keeps its files. */
  private[graft] def swapIn(fs: FileSystem, staged: Path, dir: Path, aside: Path): Unit = {
    fs.delete(aside, true)
    if (!fs.rename(dir, aside))
      throw new java.io.IOException(s"could not move $dir aside to $aside")
    if (!fs.rename(staged, dir)) {
      fs.rename(aside, dir) // roll back
      throw new java.io.IOException(s"could not swap $staged in for $dir")
    }
    fs.delete(aside, true)
  }

  def compact(spark: SparkSession, tableDir: String, partitionCol: String,
              sortCol: String, targetBytes: Long = 128L * 1024 * 1024): Stats = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(conf)
    val before = dataFiles(fs, dir)
    val bytes = before.map(fs.getFileStatus(_).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

    val staging = new Path(dir.getParent, dir.getName + "__compacting")
    // nOut == 1 (table under targetBytes — every in-stream maintenance
    // merge at micro-batch granularity): a coalesce is enough, and it
    // skips BOTH the range-boundary sampling pass and the shuffle that
    // repartitionByRange(1, ...) would pay to land everything in the
    // same single partition; the within-partition sort still produces
    // byte-identical file contents. Multi-file outputs keep the range
    // layout (file k holds keys below file k+1's — the reader-skipping
    // property the operator exists for).
    val arranged =
      if (nOut == 1) spark.read.parquet(tableDir).coalesce(1)
      else spark.read.parquet(tableDir)
        .repartitionByRange(nOut, col(partitionCol), col(sortCol))
    arranged
      .sortWithinPartitions(col(partitionCol), col(sortCol))
      .write.partitionBy(partitionCol).mode("overwrite")
      .parquet(staging.toString)

    swapIn(fs, staging, dir, new Path(dir.getParent, dir.getName + "__precompact"))
    Stats(before.size.toLong, dataFiles(fs, dir).size.toLong, bytes)
  }
}
