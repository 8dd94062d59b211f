package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's option surface, listed on purpose: every
  * `spark.graft.*` session conf and every environment variable that
  * `src/main` reads, each with the reason it exists. A knob that only
  * ever takes one value belongs in the code as a constant, so a new key
  * fails here until someone lists it, and a listed key nothing reads
  * any more fails until it is taken off the list. */
class OptionSurfaceSpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "spark.graft.materialize" ->
      "plan audits (ExplainAudit, PlanAuditSpec) read a query's plan, not its localized copy",
    "spark.graft.approxDistinct" ->
      "opt-in ClickHouse uniq() semantics: COUNT(DISTINCT) plans as an HLL sketch",
    "SPARK_GRAFT_CPUS" -> "task threads of the mains' local master (deployment)",
    "SPARK_GRAFT_CONF" -> "session conf overrides for a probe run of the mains",
    "SPARK_GRAFT_SF_DIR" -> "the scale-factor dir the mains read (deployment)",
    "SPARK_GRAFT_ONLY" -> "limits Bench and Verify to the named queries (dev tool)",
    "SPARK_GRAFT_IDLE" -> "the idle-floor baseline file Bench compares against",
    "PLANS_OUT" -> "where ExplainAudit writes its plan dump (dev tool)",
    "PLANS_EXEC" -> "ExplainAudit also executes each query (dev tool)")

  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally files.close()
  }

  private val confKey = "\"(spark\\.graft\\.[^\"]+)\"".r
  private val envRead = """sys\.env|System\.getenv""".r
  private val envKey = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r

  test("every spark.graft.* conf and env var src/main reads is on the allowlist") {
    assert(sources.size > 50, s"scanned only ${sources.size} files: wrong working dir?")
    val confs = sources.flatMap { case (_, text) => confKey.findAllMatchIn(text).map(_.group(1)) }
    // an env read must name its key literally, or this scan cannot see it
    val unnamed = sources.flatMap { case (file, text) =>
      envRead.findAllMatchIn(text).map(_.start)
        .filterNot(at => envKey.findPrefixOf(text.substring(at)).isDefined)
        .map(at => s"$file:${text.take(at).count(_ == '\n') + 1}")
    }
    assert(unnamed.isEmpty, s"env reads with no literal key: $unnamed")
    val envs = sources.flatMap { case (_, text) => envKey.findAllMatchIn(text).map(_.group(1)) }
    val read = (confs ++ envs).toSet
    assert((read -- allowed.keySet).isEmpty,
      s"unlisted options ${(read -- allowed.keySet).toSeq.sorted}: make each a constant, " +
        "or list it here with the reason it needs more than one value")
    assert((allowed.keySet -- read).isEmpty,
      s"listed options nothing reads: ${(allowed.keySet -- read).toSeq.sorted}")
  }
}
