package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val only = SparkEntry.only() // checked before the session starts
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the bench's session (GraftSession.builder + SPARK_GRAFT_CONF), so
    // the oracle gate checks the plans the bench times
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.confOverrides())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // registry sorted by name: runs and oracle_sql.json in a fixed order,
    // so two dumps compare with diff
    val registry = SparkEntry.registry.sortBy(_.name)
    registry.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // queries are independent — don't let one query's persisted
      // intermediates accumulate against the next's memory
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = registry
      .map(e => s"${q(e.name)}: ${q(e.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
