package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract smoke: entry() returns rows on sf0.001, and the
  * registry holds every query once. `Q` makes an oracle a required
  * field, so each query has one by construction. */
class EntrySmokeSpec extends SparkSpec {

  test("entry() produces rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry holds 239 queries under distinct names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 239)
    assert(names.distinct.size == names.size)
  }

  test("a registry with a repeated name fails, naming it") {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](Q.distinctNames(Seq(
      Q("x1", run, "SELECT 1"), Q("x2", run, "SELECT 2"), Q("x1", run, "SELECT 3"))))
    assert(e.getMessage.contains("x1"))
    assert(!e.getMessage.contains("x2"))
  }

  test("SPARK_GRAFT_ONLY takes a trimmed list of registry names") {
    assert(SparkEntry.only(None).isEmpty)
    assert(SparkEntry.only(Some("a1_ingest")).contains(Set("a1_ingest")))
    assert(SparkEntry.only(Some(" a1_ingest ,\tb1_pricing_summary ")).contains(
      Set("a1_ingest", "b1_pricing_summary")))
  }

  test("SPARK_GRAFT_ONLY rejects an unknown or empty name, naming it") {
    val typo = intercept[IllegalArgumentException](
      SparkEntry.only(Some("a1_ingest,b1_pricng_summary")))
    assert(typo.getMessage.contains("'b1_pricng_summary'"))
    assert(!typo.getMessage.contains("'a1_ingest'"))
    val empty = intercept[IllegalArgumentException](
      SparkEntry.only(Some("a1_ingest,")))
    assert(empty.getMessage.contains("''"))
  }
}
