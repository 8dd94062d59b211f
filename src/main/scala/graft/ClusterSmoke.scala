package graft

/** Honest-cluster smoke (SURVEY r6 / VERDICT r5 #10): the 10 most
  * expensive queries under `local-cluster[2,16,...]` — real executor
  * JVMs, real task serialization, real broadcasts over RPC — catching
  * the driver-side assumptions `local[*]` hides (closures capturing
  * the session, driver-only file paths, oversized broadcast values).
  * Run via spark-submit (see tools/cluster_smoke.sh); asserts rows > 0
  * per query and prints one OK line each. */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the master comes from spark-submit; the session is the one the
    // engine ships, checkpoint manager included (state-store commits run
    // in the EXECUTOR JVMs here, which local[*] cannot show)
    val spark = GraftSession.builder(sys.props("spark.master"))
      .appName("graft-cluster-smoke")
      .getOrCreate()
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "c4_ngram_jaccard", "c21_corpus_pipeline", "c35_cluster_split",
      "c19_dup_clusters", "a11_pipeline_e2e", "c3_dedup_simhash",
      "c41_line_chunks", "c42_keep_best", "c37_semdedup", "c2_dedup_minhash",
      // r6 additions: the new operator kernels that most depend on
      // serialization/broadcast behavior local[32] can't exercise
      "c76_incremental_dedup", "b97_rfm", "c80_ppl_buckets",
      "c72_cell_balance", "c50_lsh_recall", "c87_winnowing",
      "c86_simhash_precision",
      // r7 additions: the new kernels with serialization-sensitive
      // pieces — c96's TypedImperativeAggregate buffers cross executor
      // RPC, c93 broadcasts a built 1-row vector, c91/c95 ship banded
      // candidate joins, c90's cache is executor-resident.
      // a15_jdbc_evolve stays ABSENT: this harness caught that
      // embedded Derby is a one-JVM engine (executor tasks can't see
      // the driver's in-memory DB). Its r8 replacement below,
      // a15b_jdbc_evolve_net, runs the IDENTICAL evolveAppend code
      // against the network-served NetWarehouse — executor JVMs dial
      // the catalog through GraftNetDriver sockets, so the
      // executor-parallel INSERT path and the staged widen-swap now
      // run under real executors
      "c96_embed_corr", "c93_prf_hybrid", "c95_containment",
      "c91_band_planner", "c90_bm25", "b104_auc", "c94_kn_counts",
      "c98_semantic_clusters", "c99_line_lang", "c97_knn_graph",
      "c92_bpe_pairs", "b106_theta_diff", "c100_release_diff",
      "c101_kappa", "a16_broker_roundtrip", "c102_knn_recall",
      "c103_merge_sweep",
      // r8: the networked JDBC warehouse seam (closes the r7 FAIL)
      // and the driver-checked approx-distinct session mode
      "a15b_jdbc_evolve_net", "b105_approx_mode",
      // r9: the two whole-loop promotions — a17 chains the DSv2 write
      // sink, the broker connector, and the NETWORK warehouse (all
      // wire seams, so it must survive real executors); a18 runs the
      // poison→DLQ→re-enqueue→recover loop with executor-side
      // producer sockets
      "a17_warehouse_roundtrip", "a18_retry_roundtrip",
      // r9: streaming state merges under real executors — session
      // state and partial-rollup parts cross JVM boundaries here
      "b23_stream_sessions", "b33_streaming_rollup")
    // Untimed warmup (the local Bench discipline): executor-JVM spin-up,
    // codegen/janino compilation, and the first parquet-reader init
    // otherwise all land on whichever query runs first — r9's artifact
    // charged ~7 s of it to c4 and the round-over-round diff misread it
    // as a per-query gap. Touches documents, events, and embeddings.
    Seq("c9_quality", "a2_route_counts", "c6_ann_topk").foreach { n =>
      try { SparkEntry.queries(n)(spark, sfDir).count(); () }
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    var failed = 0
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { n =>
      // queries are independent — don't let one query's persisted
      // intermediates occupy executor storage for the next (USAGE §5)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(rows > 0, s"$n returned 0 rows")
        timings(n) = sec
        println(f"CLUSTER_SMOKE OK   $n%-24s rows=$rows%-8d ${sec}%6.2f s")
      } catch { case e: Throwable =>
        failed += 1
        println(s"CLUSTER_SMOKE FAIL $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"CLUSTER_SMOKE DONE failed=$failed/${names.size}")
    // one JSON line per run — tools/cluster_smoke.sh tees it into a
    // CLUSTER_BENCH artifact so executor-JVM regressions (broadcast,
    // serialization, RPC) diff round-over-round like local[32] ones do
    val qjson = timings.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(s"""CLUSTER_BENCH {"sf":"$sfDir","failed":$failed,""" +
      f""""total":${timings.values.sum}%.3f,"queries":{$qjson}}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
