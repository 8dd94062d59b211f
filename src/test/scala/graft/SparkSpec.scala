package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.{Counters, Profiler}

/** One shared local session for every suite (sbt runs suites in one
  * JVM; a per-suite session would dominate test wall time), built by
  * the same [[GraftSession.builder]] the mains use, so the specs check
  * the plans and streaming settings the bench and the oracle gate run. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def tmpDir(prefix: String): String = graft.streaming.Scaffold.scratch(prefix)

  /** `body`'s result and what it ran in Spark, by [[Profiler]]. */
  def profiled[A](body: => A): (A, Counters) = {
    val profiler = Profiler.install(spark)
    try profiler.measure(suiteName)(body) finally profiler.close()
  }

  /** `body` with the session confs `kv` set; afterwards each key gets
    * back its previous value, or is unset if it had none. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
