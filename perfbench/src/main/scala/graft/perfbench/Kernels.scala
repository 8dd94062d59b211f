package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Per-row cost of each `graft.plans` kernel reachable through a public
  * `Fns` function or a registered SQL function, each on one fixed input
  * derived from the seed. Every projection or aggregate is written to a
  * noop sink, so nothing is pruned away. */
object Kernels {
  val rows = 100000L

  def run(spark: SparkSession, seed: Long, spans: Spans): Map[String, Double] = {
    val words = array((0 until 12).map(i => lit(s"w$i")): _*)
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def pick(salt: Int): Column = element_at(words, (pmod(h(salt), lit(12)) + 1).cast("int"))
    def dbl(salt: Int): Column = (pmod(h(salt), lit(1000000)) / 1000000.0).cast("double")
    val base = spark.range(rows).select(
      col("id"),
      pmod(col("id"), lit(512)).as("g"),
      concat_ws(" ", (0 until 24).map(pick): _*).as("text"),
      array((0 until 16).map(i => dbl(100 + i)): _*).as("va"),
      array((0 until 16).map(i => dbl(200 + i)): _*).as("vb"),
      array((0 until 8).map(i => pmod(h(300 + i), lit(1000))): _*).as("la"),
      dbl(400).as("score"),
      pmod(h(401), lit(100000)).as("key"),
      pick(402).as("word"))
      .withColumn("toks", Fns.tokens(col("text")))
      .withColumn("grams", Fns.wordNGrams(col("toks"), 3))
      .persist()
    base.write.format("noop").mode("overwrite").save()
    val states = base.groupBy(col("g"), pmod(col("id"), lit(16)).as("sub"))
      .agg(Fns.quantileState(col("score")).as("qs")).persist()
    states.write.format("noop").mode("overwrite").save()
    val nStates = states.count().toDouble

    def proj(c: Column): DataFrame = base.select(c.as("out"))
    def agg(c: Column): DataFrame = base.groupBy(col("g")).agg(c.as("out"))
    val cases: Seq[(String, () => DataFrame, Double)] = Seq(
      ("whitespace_tokens", () => proj(Fns.tokens(col("text"))), rows.toDouble),
      ("word_ngrams", () => proj(Fns.wordNGrams(col("toks"), 3)), rows.toDouble),
      ("char_ngrams", () => proj(expr("char_ngrams(word, 2)")), rows.toDouble),
      ("dot_product_d", () => proj(Fns.dotD(col("va"), col("vb"))), rows.toDouble),
      ("cosine_sim_d", () => proj(Fns.cosine(col("va"), col("vb"))), rows.toDouble),
      ("upper_triangle_products", () => proj(Fns.upperTriangleProducts(col("la"))), rows.toDouble),
      ("upper_triangle_pairs", () => proj(Fns.upperTrianglePairs(col("la"))), rows.toDouble),
      ("winnowing_fps", () => proj(Fns.winnowingFps(col("grams"), 4)), rows.toDouble),
      ("bottom_k_by_hash", () => agg(Fns.bottomKByHash(col("key"), 16)), rows.toDouble),
      ("heavy_hitters", () => agg(Fns.heavyHitters(col("word"), 8)), rows.toDouble),
      ("theta_sketch", () => agg(Fns.thetaSketch(col("key"))), rows.toDouble),
      ("quantile_state", () => agg(Fns.quantileState(col("score"))), rows.toDouble),
      ("quantile_merge", () => states.groupBy(col("g"))
        .agg(Fns.quantileMerge(col("qs"), Seq(0.5, 0.9)).as("out")), nStates),
      ("top_n_by_score", () => agg(Fns.topNByScore(col("score"), col("key"), 5)), rows.toDouble),
      ("arg_max_by_score", () => agg(Fns.argMaxByScore(col("score"), col("key"), col("va"))),
        rows.toDouble),
      ("vector_sum_long", () => agg(Fns.vecSumLong(col("la"))), rows.toDouble),
      ("vector_sum_decimal", () => agg(Fns.vecSumDec(col("va"))), rows.toDouble))

    val out = cases.map { case (name, df, n) =>
      // one untimed pass compiles the plan's code, the timed pass runs it
      df().write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      spans(s"plans.$name")(df().write.format("noop").mode("overwrite").save())
      s"plans.$name.ns_per_row" -> (System.nanoTime() - t0) / n
    }.toMap
    states.unpersist(); base.unpersist()
    out
  }
}
