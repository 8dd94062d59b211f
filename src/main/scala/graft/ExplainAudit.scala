package graft

/** Dev tool: dump `explain("formatted")` for the named queries (or a
  * curated audit set) so the scan/pushdown/broadcast/codegen claims in
  * SURVEY §5 can be checked against the actual plans.
  *
  * Usage: runMain graft.ExplainAudit [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("b1_pricing_summary", "b2_top_revenue", "b3_region_revenue",
        "b12_window_funnel", "b14_top_k", "c2_dedup_minhash",
        "c3_dedup_simhash", "c6_ann_topk", "c9_quality", "c14_tfidf")
    // the bench's session shape (AQE coalescing configs included), so
    // captured plans match what the bench actually runs; SPARK_GRAFT_CONF
    // overrides applied last let a capture revert individual configs to
    // produce honest "before" plans for config-level changes
    val spark = GraftSession.builder("local[4]")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.confOverrides())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // audit the real computational plan, not the self-release wrapper's
    // localized copy (TrainingQueries.materialized) — same switch
    // PlanAuditSpec uses
    spark.conf.set("spark.graft.materialize", "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // PLANS_OUT=<dir>[:suffix] additionally writes each query's
    // explain("formatted") to <dir>/<name>[suffix].txt — how the
    // committed plans/r12/*_{before,after}.txt artifacts are produced.
    val out = sys.env.get("PLANS_OUT").map { v =>
      val Array(d, suf @ _*) = v.split(":"): @unchecked
      new java.io.File(d).mkdirs()
      (d, suf.headOption.getOrElse(""))
    }
    // PLANS_EXEC=1: run each query through the noop sink first (guide
    // §1.4) so the written plan is the FINAL adaptive plan — the one
    // carrying AQEShuffleRead (coalesced) nodes and actual join
    // strategies, which the initial plan cannot show.
    val exec = sys.env.get("PLANS_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n================ $n ================")
      val df = SparkEntry.queries(n)(spark, dir)
      if (exec)
        try df.write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[explain] $n: $e") }
      df.explain() // simple mode: *(id) marks codegen spans
      out.foreach { case (d, suf) =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$n$suf.txt"), txt)
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
