package graft.perfbench

import java.math.MathContext
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** One timed query: wall time covers building the DataFrame, planning,
  * execution and collecting the full result. */
final case class QueryRun(name: String, wallS: Double, buildS: Double, planS: Double,
                          rows: Long, digest: String, error: Option[String],
                          layers: Map[String, Any])

/** The query suites over `SparkEntry.queries`: one client, fixed sorted
  * order, each query once. Results are compared with reference digests
  * outside the timed region. */
final class Queries(spark: SparkSession, dataDir: String, jobLog: Option[JobLog], spans: Spans) {

  def runAll(names: Seq[String], emitDir: Option[String]): Seq[QueryRun] =
    names.map(n => runOne(n, emitDir))

  private def runOne(name: String, emitDir: Option[String]): QueryRun = {
    jobLog.foreach(_.label = name)
    spark.sparkContext.setJobDescription(name)
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    val result = spans(s"query:$name") {
      try {
        val df = spans("entry.build")(SparkEntry.queries(name)(spark, dataDir))
        t1 = System.nanoTime()
        spans("entry.plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        Right((df.schema, spans("entry.collect")(df.collect())))
      } catch { case e: Throwable => Left(e) }
    }
    val t3 = System.nanoTime()
    spark.sparkContext.setJobDescription(null)
    jobLog.foreach(_.label = "idle")
    spark.catalog.clearCache()
    val wall = (t3 - t0) / 1e9
    val layers = jobLog.map { log =>
      Bus.drain(spark)
      val busyMs = log.get(name).map(a => Stats.unionLength(a.intervals.toSeq)).getOrElse(0L)
      log.describe(name) ++ Map("driver_s" -> (wall - busyMs / 1e3))
    }.getOrElse(Map.empty)
    result match {
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
        QueryRun(name, wall, (t1 - t0) / 1e9, (t2 - t1) / 1e9, 0, "", Some(msg.take(300)), layers)
      case Right((schema, rows)) =>
        emitDir.foreach { d =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .write.mode("overwrite").parquet(s"$d/$name")
        }
        QueryRun(name, wall, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows.length,
          Digest.of(schema.fieldNames.toSeq, rows), None, layers)
    }
  }

  /** Read-plan cost of `Tables.apply`: a first call under a directory key
    * the memo has not seen, then a repeat call of the same key. */
  def tablesPlanMs(): (Double, Double) = {
    val key = dataDir + "/"
    def time(t: String): Double = {
      val t0 = System.nanoTime(); Tables(spark, key, t); (System.nanoTime() - t0) / 1e6
    }
    val cold = Tables.names.map(time)
    val warm = Tables.names.map(time)
    (cold.sum / cold.size, warm.sum / warm.size)
  }
}

/** Order-insensitive digest of a result: columns sorted by name, each
  * row rendered canonically, rows sorted, md5 over the lines. Doubles
  * are compared after rounding to 10 significant digits (relative
  * tolerance ~5e-10); decimals ignore trailing zeros. */
object Digest {
  private val mc = new MathContext(10)

  def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def of(names: Seq[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(names.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** name -> (rows, digest) from the committed reference file. */
  def load(path: String): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")).path("queries")
    val out = Map.newBuilder[String, (Long, String)]
    root.fieldNames().forEachRemaining { n =>
      val q = root.path(n)
      out += n -> ((q.path("rows").asLong(), q.path("digest").asText()))
    }
    out.result()
  }
}
