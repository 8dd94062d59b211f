package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Theta-sketch set algebra (Spark's built-in theta family behind
  * `Fns.theta*`): below the nominal k = 2^12 the sketch retains every
  * hash, so on small sets the estimates are EXACT — which makes the
  * correctness story assertable without tolerance: difference and
  * intersection must equal the true set sizes, and partial/merge must
  * equal the one-pass sketch. */
class ThetaSpec extends SparkSpec {
  import spark.implicits._

  test("estimate/diff/intersect exact below nominal k; merge == direct") {
    val a = (0L until 1000L).map(("a", _))
    val b = (500L until 1500L).map(("b", _))
    val df = (a ++ b).toDF("g", "v")

    for (parts <- Seq(1, 7)) {
      val sk = df.repartition(parts).groupBy(col("g"))
        .agg(Fns.thetaSketch(col("v")).as("sk"))
      val row = sk.groupBy().agg(first(lit(1)))
      val got = sk.as("x").join(sk.as("y"),
          col("x.g") === "a" && col("y.g") === "b")
        .select(
          Fns.thetaEstimate(col("x.sk")).as("ea"),
          Fns.thetaEstimate(col("y.sk")).as("eb"),
          Fns.thetaAnotB(col("x.sk"), col("y.sk")).as("diff"),
          Fns.thetaIntersect(col("x.sk"), col("y.sk")).as("inter"))
        .collect().head
      assert(got.getLong(0) == 1000L, s"($parts parts) |A|")
      assert(got.getLong(1) == 1000L, s"($parts parts) |B|")
      assert(got.getLong(2) == 500L, s"($parts parts) |A\\B|")
      assert(got.getLong(3) == 500L, s"($parts parts) |A∩B|")
    }
  }

  test("estimation mode: pinned estimate, difference and intersection") {
    // 150k distinct BIGINTs per side, 50k shared: far past nominal k,
    // so all four figures are estimates. The literals are the values
    // graft's own datasketches kernel returned before Spark's built-in
    // theta family replaced it; the two agree bit for bit.
    val a = spark.range(0L, 150000L, 1L, 4).select(lit("a").as("g"), col("id").as("v"))
    val b = spark.range(100000L, 250000L, 1L, 4).select(lit("b").as("g"), col("id").as("v"))
    val sk = a.union(b).groupBy(col("g")).agg(Fns.thetaSketch(col("v")).as("sk"))
    val got = sk.as("x").join(sk.as("y"), col("x.g") === "a" && col("y.g") === "b")
      .select(Fns.thetaEstimate(col("x.sk")), Fns.thetaEstimate(col("y.sk")),
        Fns.thetaAnotB(col("x.sk"), col("y.sk")),
        Fns.thetaIntersect(col("x.sk"), col("y.sk")))
      .collect().head
    assert((0 to 3).map(got.getLong) == Seq(149587L, 151797L, 97801L, 51661L))
  }

  test("string inputs sketch too; empty group estimates 0") {
    val df = Seq(("g", "x"), ("g", "y"), ("g", "x")).toDF("k", "v")
    val est = df.groupBy(col("k"))
      .agg(Fns.thetaEstimate(Fns.thetaSketch(col("v"))).as("e"))
      .collect().head.getLong(1)
    assert(est == 2L)
    val empty = df.filter(col("v") === "zzz")
      .agg(Fns.thetaEstimate(Fns.thetaSketch(col("v"))).as("e"))
      .collect().head.getLong(0)
    assert(empty == 0L)
  }

  test("b106 report: exact algebra consistent, theta within ε at sf0.001") {
    val rows = SparkEntry.queries("b106_theta_diff")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nA, diff, inter, withinEps) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(diff + inter == nA,
        s"${r.getString(0)}/${r.getString(1)}: A splits into (A\\B) ⊎ (A∩B)")
      assert(withinEps == 1L,
        s"${r.getString(0)}/${r.getString(1)}: theta estimate outside ε")
    }
  }
}
