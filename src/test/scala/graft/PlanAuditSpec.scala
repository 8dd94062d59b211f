package graft

/** Plan-shape regression guards: SURVEY §5's scale claims, asserted
  * against the actual physical plans (not just documented in
  * docs/EXPLAINS.md). If an operator edit silently reintroduces a
  * shuffle, un-pushes a filter, or drops WindowGroupLimit pruning,
  * these fail before any benchmark would notice. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    // mirror Verify: queries are independent — another suite's (or
    // query's) persisted intermediates must not rewrite this plan
    spark.catalog.clearCache()
    // audit the real computational plan, not the self-release
    // wrapper's localized copy (TrainingQueries.materialized)
    withConf("spark.graft.materialize" -> "false") {
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    }
  }

  test("b1: shipdate filter reaches the parquet scan; columns pruned") {
    val p = plan("b1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_orderkey"), "reads columns the query never uses")
  }

  test("b3: every dimension join broadcasts; no dim-side shuffle") {
    val p = plan("b3_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a dim join fell back to sort-merge:\n$p")
  }

  test("b12: funnel shuffles once on user_id; windows share the sort") {
    val p = plan("b12_window_funnel")
    val userExchanges = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"expected exactly 1 user_id exchange:\n$p")
    // both level windows run over ONE sort of that exchange
    val sorts = p.split("\n").count(l => l.trim.startsWith("+- Sort ") ||
      l.trim.startsWith(":- Sort "))
    assert(p.split("Window \\[").length - 1 == 2, s"expected 2 window nodes:\n$p")
    assert(sorts <= 2, s"windows re-sorted instead of sharing:\n$p") // 1 keyed + 1 output order
  }

  test("b14/c14: rank filter prunes below the exchange (WindowGroupLimit)") {
    assert(plan("b14_top_k").contains("WindowGroupLimit"))
    val c14 = plan("c14_tfidf")
    assert(c14.contains("WindowGroupLimit"))
    // one corpus explode only — doc-freq must not re-derive the corpus
    assert(c14.split("Generate explode").length - 1 == 1,
      s"tfidf re-explodes the corpus:\n$c14")
  }

  test("b2: top-n plans as TakeOrderedAndProject, never a full sort") {
    val p = plan("b2_top_revenue")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for a limit:\n$p")
  }

  test("c9: quality metrics are a single scan with no shuffle") {
    val p = plan("c9_quality")
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-local metrics should not shuffle:\n$p")
  }

  test("b22: part joins as an explicit broadcast, lineitem never shuffles for it") {
    val p = plan("b22_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the r2 8s sort-merge join is back:\n$p")
    // only the pruned two columns of part are read
    assert(!p.contains("p_name") && !p.contains("p_retailprice"),
      s"part scan reads columns the query never uses:\n$p")
  }

  test("c4: exact jaccard verifies per-candidate, never a count-groupBy over a full self-join") {
    val p = plan("c4_ngram_jaccard")
    assert(p.contains("array_intersect"),
      s"verify regressed to the self-join count form:\n$p")
  }

  test("c25: token-budget sampling is one exchange on the stratum key") {
    val p = plan("c25_token_budget")
    val hashEx = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning"))
    // one shuffle for the lang window; the final groupBy(lang) reuses
    // the same partitioning (no second lang exchange)
    assert(hashEx == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("c26: line dedup never joins the corpus to itself") {
    val p = plan("c26_line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"line dedup should be window+rollup, not a join:\n$p")
  }

  test("b28: latest-version prunes to one row per key below the shuffle") {
    val p = plan("b28_latest_version")
    assert(p.contains("WindowGroupLimit"), s"rank-1 filter not pruned:\n$p")
  }

  test("b30: sumMap aggregates scalars, not maps — one hash exchange after explode") {
    val p = plan("b30_sum_map")
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange:\n$p")
    // partial agg (map-side combine) must sit between explode and the exchange
    assert(p.indexOf("Exchange hashpartitioning") <
      p.indexOf("partial_sum") && p.indexOf("partial_sum") < p.indexOf("Generate explode"),
      s"no map-side combine before the shuffle:\n$p")
  }

  test("b31: sequence count pushes the condition filter to the scan; per-user agg reuses the window partitioning") {
    val p = plan("b31_sequence_count")
    assert(p.contains("PushedFilters: [Or(EqualTo(event_type,purchase),EqualTo(event_type,error))]"),
      s"condition filter not pushed to the parquet scan:\n$p")
    // user_id window exchange + n_seq groupBy exchange; the per-user
    // sum rides the window's partitioning with no third shuffle
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected exactly 2 hash exchanges:\n$p")
  }

  test("c28: mixing weights scan the corpus exactly once") {
    val p = plan("c28_mix_weights")
    val scans = p.split("\n").count(_.contains("FileScan parquet"))
    assert(scans == 1, s"grand total re-scans the corpus:\n$p")
  }

  test("c33: packing is one exchange — the bin rollup rides the stratum window") {
    val p = plan("c33_pack_sequences")
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("c29: blocklist is a pure projection — no shuffle, no join") {
    val p = plan("c29_blocklist")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"blocklist should be row-local:\n$p")
  }

  test("b32: one cached state pass feeds all three branches; rank pruned") {
    val p = plan("b32_collapsing")
    assert(p.contains("WindowGroupLimit"), s"rank-1 not pruned:\n$p")
    // r13 shape: the versioned state is computed ONCE and cached — the
    // three signed branches are InMemoryTableScans over it (the old
    // union-of-three-subtrees re-ran scan+exchange+windows per branch
    // and pinned the collapse windows at the initial partition count)
    // all three branches must be cache reads (the cached plan's own
    // FileScan prints once per InMemoryTableScan, so scans can't be
    // text-counted — the distinct-exchange count below pins the rest)
    assert(p.split("\n").count(_.contains("InMemoryTableScan")) >= 3,
      s"signed branches no longer read the cached state:\n$p")
    // DISTINCT exchanges (the cached plan's internal exchange prints
    // once per scan): 1 cache fill + 1 post-union collapse exchange
    val hashEx = "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(hashEx <= 2, s"collapse introduced extra shuffles:\n$p")
  }

  test("b35: tiering is one aggregate pass; the as-of side scans only ts") {
    val p = plan("b35_tiered_rollup")
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"tiering should add no shuffle over a plain rollup:\n$p")
    assert(p.contains("ReadSchema: struct<ts:bigint>") ||
      p.contains("ReadSchema: struct<ts:timestamp"),  // micros-vintage testdata

      s"as-of max should scan only the ts column:\n$p")
    // ages are decimal-exact: double division misrounds spans > 2^53 ns
    assert(!p.contains("8.64E13"), s"age math fell back to double division:\n$p")
  }

  test("b36: overlap matrix scans the corpus once; sets dedup map-side") {
    val p = plan("b36_overlap")
    assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
      s"self-join shape is back (duplicate membership scans):\n$p")
    assert(p.contains("partial_collect_set"),
      s"membership sets must partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Join"), s"pairs should come from a generator, not a join:\n$p")
  }

  test("a13: legacy normalization is one shuffle-free projection") {
    val p = plan("a13_legacy_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"legacy shim must not shuffle:\n$p")
  }

  test("a12: the replay schedule is a shuffle-free generator") {
    val p = plan("a12_dlq_replay")
    // explode(sequence(...)) over the DLQ rows; the only exchange
    // allowed is the final presentation sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"replay schedule should never hash-shuffle:\n$p")
    assert(p.contains("Generate explode"), s"expected the attempt generator:\n$p")
  }

  test("b38: deltaSum shuffles once on the series key; rollup rides the window sort") {
    val p = plan("b38_delta_sum")
    val userExchanges = p.split("\n")
      .count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1, s"expected exactly 1 user_id exchange:\n$p")
    // the per-key aggregate must partial-combine on the window output,
    // not re-shuffle (partitioning is already user_id)
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"the rollup re-shuffled after the window:\n$p")
  }

  test("b39: fill spine broadcasts the key dim; fill is one window per key") {
    val p = plan("b39_fill_interpolate")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"calendar × keys spine should broadcast the key dim:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"spine fell back to a partitioned cartesian product:\n$p")
  }

  test("b40: TTL is shuffle-free; the as-of side scans only ts") {
    val p = plan("b40_ttl_expire")
    assert(!p.contains("Exchange hashpartitioning"),
      s"TTL expiry must not shuffle (filter + projection only):\n$p")
    assert(p.contains("ReadSchema: struct<ts:bigint>") ||
      p.contains("ReadSchema: struct<ts:timestamp"),  // micros-vintage testdata

      s"as-of max should scan only the ts column:\n$p")
  }

  test("b41: only the aged branch of the TTL rollup shuffles") {
    val p = plan("b41_ttl_rollup")
    // exactly one hash exchange: the rolled groupBy; the raw branch
    // is a filtered projection that joins the union shuffle-free
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"raw branch must pass through without a shuffle:\n$p")
    assert(p.contains("Union"), s"expected the two-branch union:\n$p")
  }

  test("b43/b44: sweep line scans the source once, one keyed exchange") {
    for (q <- Seq("b43_max_intersections", "b44_interval_length")) {
      val p = plan(q)
      assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
        s"$q: sweep points must come from a generator, not two scans:\n$p")
      assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
        s"$q: expected exactly one keyed exchange:\n$p")
      assert(p.contains("Generate explode"), s"$q: expected the point generator:\n$p")
    }
  }

  test("c34: the gopher gate is a single scan with no shuffle") {
    val p = plan("c34_gopher_gate")
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-local gate rules should not shuffle:\n$p")
    assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
      s"gate should scan the corpus exactly once:\n$p")
  }

  test("b45: the write generator scans once; collapse rides the version-window exchange") {
    val p = plan("b45_versioned_collapse")
    assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
      s"signed-write plant re-scans the source per branch:\n$p")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one user_id exchange shared by all three windows:\n$p")
  }

  test("b12c/b46: funnel-family variants shuffle once on user_id") {
    for (q <- Seq("b12c_window_funnel_increase", "b46_sequence_next_node")) {
      val p = plan(q)
      assert(p.split("\n")
        .count(_.contains("Exchange hashpartitioning(user_id")) == 1,
        s"$q: expected exactly one user_id exchange:\n$p")
    }
  }

  test("b47: uniqUpTo aggregates partial-then-final — bounded state crosses the shuffle") {
    val p = plan("b47_uniq_upto")
    assert(p.contains("bottom_k_by_hash"), s"KMV aggregate missing:\n$p")
    assert(p.split("\n").count(_.contains("partial_bottom_k_by_hash")) >= 1,
      s"no map-side partial — full user_id lists would cross the shuffle:\n$p")
  }

  test("b48: bounding ratio rides one keyed sort") {
    val p = plan("b48_bounding_ratio")
    assert(p.split("\n")
      .count(_.contains("Exchange hashpartitioning(event_type")) == 1,
      s"expected exactly one event_type exchange:\n$p")
  }

  test("b49: LTTB broadcasts the bucket table; both passes key-partition") {
    val p = plan("b49_lttb")
    assert(p.contains("BroadcastHashJoin"),
      s"neighbor-bucket table should broadcast:\n$p")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) <= 2,
      s"expected at most two keyed exchanges (sum pass + pick pass):\n$p")
  }

  test("b55: regression stats ride one type exchange (centering window + rollup)") {
    val p = plan("b55_linreg")
    assert(p.split("\n")
      .count(_.contains("Exchange hashpartitioning(event_type")) == 1,
      s"expected one event_type exchange:\n$p")
  }

  test("b54: series similarity broadcasts the query vectors, never shuffles the corpus side for scoring") {
    val p = plan("b54_series_similarity")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scoring regressed to a cartesian product:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a small side fell back to sort-merge:\n$p")
  }

  test("b52: weighted quantiles ride one type exchange") {
    val p = plan("b52_weighted_quantiles")
    assert(p.split("\n")
      .count(_.contains("Exchange hashpartitioning(event_type")) == 1,
      s"expected one event_type exchange:\n$p")
  }

  test("c41: line chunking is one doc exchange; rollup rides the window") {
    val p = plan("c41_line_chunks")
    assert(p.split("\n")
      .count(_.contains("Exchange hashpartitioning(doc_id")) == 1,
      s"expected one doc_id exchange:\n$p")
    assert(p.split("Generate explode").length - 1 == 1,
      s"line tiling should explode exactly once:\n$p")
  }

  test("c40: calibration is one lang exchange; rank and count share it") {
    val p = plan("c40_quality_calibrate")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly one lang exchange:\n$p")
  }

  test("c37: semDedup broadcasts centroids; the pair join is cell-keyed, never a cross join") {
    val p = plan("c37_semdedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid assignment should broadcast the K centroids:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the within-cell pair join regressed to a cross join:\n$p")
    // the N·K candidate expansion must collapse map-side: a partial
    // max-of-struct BELOW the exchange, never a rank window (which
    // would shuffle all N·K expanded rows hash-partitioned by id)
    assert(p.contains("partial_arg_max_by_score(__cos"),
      s"centroid argmax lost its map-side partial aggregate:\n$p")
    assert(!p.contains("windowspecdefinition(vid"),
      s"centroid argmax regressed to a rank window over the N·K expansion:\n$p")
  }

  test("b8: rollup collapses first — no Expand; distinct users counted off the collapsed table") {
    val p = plan("b8_daily_rollup")
    assert(!p.contains("Expand"),
      s"mixed distinct+sum aggregate reintroduced the 2x Expand:\n$p")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected the (type,day,user) collapse + (type,day) rollup exchanges only:\n$p")
    // date strings are formatted on the rollup, never the raw events
    assert(!p.contains("date_format") ||
      p.indexOf("date_format") < p.indexOf("FileScan"),
      s"date_format ran below the aggregation (per-event string work):\n$p")
  }

  test("b93: growth accounting collapses to (user,day) first; windows ride the collapsed table") {
    val p = plan("b93_growth_accounting")
    assert(!p.contains("Expand"), s"no Expand expected:\n$p")
    // one raw-data exchange (the distinct collapse), one user-keyed
    // window exchange over the COLLAPSED table, then the |days| rollup
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning(user_id")) == 1,
      s"expected exactly one user-keyed exchange (the lag window):\n$p")
    assert(p.contains("partial_"), s"the collapse lost its map-side partial agg:\n$p")
  }

  test("c66: dedup savings rides one fingerprint exchange + a |sources| rollup") {
    val p = plan("c66_dedup_savings")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning(fp")) == 1,
      s"expected one fingerprint exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the report must not join the corpus:\n$p")
  }

  test("c67: length histogram is one map-side-combined aggregation") {
    val p = plan("c67_length_histogram")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected a single (source, magnitude) exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"aggregation lost map-side combine:\n$p")
  }

  test("b94: seasonality cells aggregate map-side; the share window sees 168 rows") {
    val p = plan("b94_dow_profile")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one (dow,hour) exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"cells lost map-side combine:\n$p")
  }

  test("c69: contamination-by-source broadcasts eval grams; corpus never shuffles for the join") {
    val p = plan("c69_contam_by_source")
    assert(p.contains("BroadcastHashJoin"), s"eval grams should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-side shuffle crept into the gram join:\n$p")
  }

  test("c7b: IVF assignment shuffles N rows, not N·K — partial argmax agg, no rank window") {
    val p = plan("c7b_ann_ivf")
    assert(p.split("partial_arg_max_by_score\\(__cos").length - 1 == 2,
      s"both corpus and query assignment need the map-side partial argmax:\n$p")
    assert(!p.contains("windowspecdefinition(corpus_id"),
      s"assignment regressed to a rank window over the N·K expansion:\n$p")
    // the only window left is the final per-query top-k, and it prunes early
    assert(p.contains("WindowGroupLimit"),
      s"top-k window lost its group-limit pruning:\n$p")
  }

  test("c39: substring scrub is generator + keyed joins — no cross join, codegen'd ngrams") {
    val p = plan("c39_substring_scrub")
    assert(!p.contains("CartesianProduct"),
      s"coverage join regressed to a cross join:\n$p")
    assert(p.contains("word_ngrams"),
      s"windows should come from the codegen'd ngram generator:\n$p")
  }

  test("c38: line scrub explodes once; the rebuild rides the occurrence shuffle") {
    val p = plan("c38_line_scrub")
    assert(p.split("\n").count(_.contains("FileScan parquet")) <= 2,
      s"line scrub re-derives its line table:\n$p") // corpus union = 2 branch scans
    assert(p.split("Generate explode").length - 1 <= 2,
      s"extra explode passes:\n$p")
  }

  test("b57: decay window and aggregation share one user_id exchange") {
    val p = plan("b57_exp_decay")
    assert(p.split("\n")
      .count(_.contains("Exchange hashpartitioning(user_id")) == 1,
      s"expected exactly 1 user_id exchange:\n$p")
  }

  test("b58/b61: combinator rollups are a single scan, no per-condition subplans") {
    for (q <- Seq("b58_ttest", "b61_if_combinators")) {
      val p = plan(q)
      assert(p.split("\n").count(_.contains("FileScan parquet")) == 1,
        s"$q should scan events exactly once:\n$p")
    }
  }

  test("b59: fact aggregates before the joins; both dims broadcast") {
    val p = plan("b59_topk_weighted")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a dim join fell back to sort-merge:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-5 rank not pruned below the exchange:\n$p")
    // lineitem reads only the three columns the revenue agg needs
    assert(!p.contains("l_quantity") && !p.contains("l_shipdate"),
      s"lineitem scan reads columns the query never uses:\n$p")
  }

  test("b60: the bin aggregation reuses the ntile window's partitioning") {
    val p = plan("b60_equidepth_hist")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one event_type exchange shared by window and agg:\n$p")
  }

  test("c43: two corpus passes exactly — totals read the cached vocab, never a third explode") {
    // the cached vocab's BUILD plan (one corpus explode, runs once at
    // cache fill) prints inline under EVERY InMemoryTableScan, so the
    // text shows 1 live explode + 1 per cache read — assert that
    // arithmetic so a dropped persist (3 live explodes, 0 cache reads)
    // or a third live pass both fail
    val p = plan("c43_dsir")
    val explodes = p.split("Generate explode").length - 1
    val cacheReads = p.split("InMemoryTableScan").length - 1
    assert(cacheReads >= 2,
      s"ratios AND totals should both read the persisted vocab:\n$p")
    assert(explodes == 1 + cacheReads,
      s"expected 1 live corpus explode (score join) outside the cache:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals should cross in via broadcast:\n$p")
  }

  test("c45: eval grams broadcast; the corpus side never shuffles for the join") {
    val p = plan("c45_contam_frac")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"contamination join regressed to sort-merge:\n$p")
  }

  test("b62: KS collapses ties before the ECDF window — the step window sees distinct values only") {
    val p = plan("b62_ks_test")
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, // (type,value) pre-agg + type-keyed window/agg
      s"expected 2 exchanges (tie collapse, then step window):\n$p")
  }

  test("b63: correlation pairs join the aggregated daily table, never the fact table") {
    val p = plan("b63_corr_matrix")
    assert(!p.contains("CartesianProduct"),
      s"pair join regressed to a cross join:\n$p")
    assert(p.contains("HashAggregate"), s"daily pre-aggregation missing:\n$p")
  }

  test("b70: both OHLC rank windows and the rollup share one (type, hour) exchange") {
    val p = plan("b70_ohlc")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one shared exchange:\n$p")
  }

  test("b74: all four rank windows and the aggregation share one event_type exchange") {
    val p = plan("b74_rank_corr")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one shared exchange:\n$p")
    assert(p.split("Window \\[").length - 1 == 4, s"expected 4 window nodes:\n$p")
  }

  test("b75: two corpus exchanges (median branch, deviation branch); median joins back broadcast") {
    val p = plan("b75_mad")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected two keyed exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"median join-back not broadcast:\n$p")
  }

  test("b76: sufficient stats combine map-side before the (day,type) exchange") {
    val p = plan("b76_anova")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 2,
      s"expected cell pre-agg + day finalization exchanges:\n$p")
  }

  test("c51: one corpus exchange; counts and pairs read the persisted gram-sets; no gram self-join") {
    val p = plan("c51_source_overlap")
    assert(!p.contains("SortMergeJoin"),
      s"overlap regressed to a gram-keyed self-join:\n$p")
    assert(p.split("InMemoryTableScan").length - 1 == 3,
      s"counts (×2 grid sides) and pair emission should read the cache:\n$p")
    // the gram-keyed exchange exists only INSIDE the cached subtree
    // (printed once per cache reader) — it executes once
    assert(p.split("\n").count(l => l.contains("Exchange hashpartitioning(g#")) ==
      p.split("InMemoryRelation").length - 1,
      s"a gram-keyed exchange leaked outside the persisted plan:\n$p")
  }

  test("c52: allocation joins broadcast; stratum stats combine map-side") {
    val p = plan("c52_stratified")
    assert(!p.contains("SortMergeJoin"),
      s"alloc/sample join regressed to sort-merge:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("b88: baskets pair up from the persisted collapsed table, never a type self-join") {
    val p = plan("b88_type_affinity")
    assert(!p.contains("SortMergeJoin"),
      s"affinity regressed to a row-level self-join:\n$p")
    assert(p.split("InMemoryTableScan").length - 1 >= 3,
      s"ud/baskets should be persisted and re-read:\n$p")
  }

  test("b90: the rank filter prunes to 3 rows per session below the aggregation") {
    val p = plan("b90_top_paths")
    assert(p.contains("WindowGroupLimit"),
      s"per-session prune missing — the path agg would see the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should never full-sort the path table:\n$p")
  }

  test("b91: distributed quantile cut — no single-partition global window") {
    val p = plan("b91_concentration")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
    // the per-user rollup feeds the ONE persisted histogram; every
    // user-keyed exchange line must sit inside that InMemoryRelation's
    // cached-plan print (it prints its executed and logical forms), so
    // no branch recomputes the corpus-sized work
    val imrIdx = p.indexOf("InMemoryRelation")
    assert(imrIdx >= 0, s"histogram should be persisted:\n$p")
    val exchangeIdxs =
      "Exchange hashpartitioning\\(user_id".r.findAllMatchIn(p).map(_.start).toList
    assert(exchangeIdxs.nonEmpty && exchangeIdxs.forall(_ > imrIdx),
      s"a user-keyed exchange escaped the cached rollup:\n$p")
    // the prefix sum must ride PARTITIONED windows (keyed by the range
    // partition id) — a window with an empty partition spec is the
    // "No Partition Defined" single-partition sort this query dropped
    val badWindows = p.split("\n").filter(_.contains("Window "))
      .filterNot(_.contains("[pid"))
    assert(badWindows.isEmpty,
      s"global (unpartitioned) window crept back in:\n${badWindows.mkString("\n")}\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in the cut should gather to one partition:\n$p")
  }

  test("c104: every served batch reads the ONE cached assignment — no per-batch rebuild") {
    val p = plan("c104_served_ann")
    // three searches -> three scans of the same persisted corpus->cell
    // assignment (that cache IS the served index)
    assert(p.split("InMemoryTableScan").length - 1 >= 3,
      s"served batches must probe the cached assignment:\n$p")
    // the corpus-sized assignment work (groupBy corpus_id after the
    // centroid cross join) may appear ONLY inside the InMemoryRelation's
    // cached-plan print — outside it, a batch would be rebuilding the
    // index per call, the exact shape c104 exists to retire
    val imrIdx = p.indexOf("InMemoryRelation")
    assert(imrIdx >= 0, s"index assignment should be persisted:\n$p")
    val escaped = "Exchange hashpartitioning\\(corpus_id".r
      .findAllMatchIn(p).map(_.start).filter(_ < imrIdx).toList
    assert(escaped.isEmpty,
      s"corpus-sized assignment exchange outside the served cache:\n$p")
  }

  test("c65b int8 leg: served search probes the cached dequantized " +
       "assignment — no per-call rebuild") {
    import org.apache.spark.sql.functions._
    // the int8 audit's exact shape (r12: its per-call ivfTopK rebuild —
    // the suite's last one — was replaced by a second served index over
    // the dequantized corpus)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      transform(graft.operators.VectorStats.quantizeInt8(col("embedding")),
        q => q.cast("double") / lit(127.0)).as("embedding"))
    val idx = graft.operators.Similarity.buildIndex(
      deq, "vec_id", "embedding", stride = 10)
    try {
      val p = graft.operators.Similarity
        .searchIndex(idx, deq.filter(col("vec_id") < 8), k = 5)
        .queryExecution.executedPlan.toString
      val imrIdx = p.indexOf("InMemoryRelation")
      assert(imrIdx >= 0, s"int8 corpus assignment should be persisted:\n$p")
      // the corpus-sized assignment (groupBy corpus_id) may appear ONLY
      // inside the InMemoryRelation's cached-plan print — outside it,
      // the search would be re-running the index build per call
      val escaped = "Exchange hashpartitioning\\(corpus_id".r
        .findAllMatchIn(p).map(_.start).filter(_ < imrIdx).toList
      assert(escaped.isEmpty,
        s"dequantized assignment exchange outside the served cache:\n$p")
    } finally idx.release()
  }

  test("b97: RFM buckets assign map-side off broadcast boundaries — never an ntile sort") {
    val p = plan("b97_rfm")
    // the only Window allowed would be none at all: boundaries are a
    // global percentile aggregate broadcast back, buckets a projection
    assert(!p.contains("windowspecdefinition"),
      s"segmentation regressed to a window (ntile-style customer sort):\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quintile boundaries must broadcast back to the customer rollup:\n$p")
    // every branch must read the ONE persisted customer rollup: the
    // o_custkey exchange may print once per InMemoryRelation, but all
    // prints carry the same physical plan_id
    val custExchangeIds = p.split("\n")
      .filter(_.contains("Exchange hashpartitioning(o_custkey"))
      .flatMap("plan_id=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(custExchangeIds.size <= 1,
      s"customer rollup computed more than once (distinct exchanges):\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the four branches must share the persisted customer rollup:\n$p")
  }

  test("b96: forecast join rides ONE persisted (type,day) rollup — events scan once") {
    val p = plan("b96_seasonal_naive")
    assert(p.contains("InMemoryTableScan"),
      s"actuals and predictions must share the persisted rollup:\n$p")
    // one physical events collapse: all (type,day) exchanges print from
    // the same cached plan (InMemoryRelation reprints it per reader)
    val ids = p.split("\n")
      .filter(_.contains("Exchange hashpartitioning(event_type"))
      .flatMap("plan_id=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(ids.size <= 2, // the rollup + the final per-type error agg
      s"prediction branch re-collapsed the raw events:\n$p")
    assert(!p.contains("Expand"), s"no Expand expected:\n$p")
  }

  test("c72: cell balance inherits the N-row assignment — partial argmax, no rank window") {
    val p = plan("c72_cell_balance")
    assert(p.contains("partial_arg_max_by_score(__cos"),
      s"assignment lost its map-side partial argmax:\n$p")
    assert(!p.contains("windowspecdefinition(__aid"),
      s"assignment regressed to a rank window over the N·K expansion:\n$p")
  }

  test("c71: signature-error audit joins pairs, never the corpus to itself") {
    val p = plan("c71_minhash_error")
    assert(!p.contains("CartesianProduct"),
      s"the audit must not cross-join:\n$p")
    // exact work is bounded by the banded candidates: the only joins
    // are band-key and pair-keyed
    assert(!p.contains("Exchange hashpartitioning(sh"),
      s"a shingle self-join crept in (corpus-sized exact work):\n$p")
  }

  test("b98: percentile bands are one map-side-combined (type,day) aggregation") {
    val p = plan("b98_percentile_bands")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one (type,day) exchange:\n$p")
    assert(p.contains("partial_percentile") || p.contains("partial_count"),
      s"percentile lost its map-side partial aggregate:\n$p")
    assert(!p.contains("Expand"), s"no Expand expected:\n$p")
  }

  test("b99: CUSUM windows ride the |days| rollup; stats broadcast back") {
    val p = plan("b99_cusum")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-type stats must broadcast, not shuffle-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 5-row stats join regressed to sort-merge:\n$p")
    // raw events cross once (the persisted daily collapse); the two
    // windows and the stats rollup all run over |days × types| rows.
    // InMemoryRelation reprints the cached exchange, so count DISTINCT
    // physical exchanges by plan_id
    val exchangeIds = p.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
      .flatMap("plan_id=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(exchangeIds.size <= 3,
      s"windows re-shuffled beyond the rollup shape:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"stats and window branches must share the persisted rollup:\n$p")
  }

  test("c74: gram novelty is two nested aggregations, no join") {
    val p = plan("c74_gram_novelty")
    assert(!p.contains("Join"), s"novelty must not join:\n$p")
    assert(p.split("Generate explode").length - 1 == 1,
      s"grams must explode exactly once:\n$p")
    assert(p.contains("partial_count"),
      s"gram counts lost map-side combine:\n$p")
  }

  test("c75: band load is pure aggregation over the banded view") {
    val p = plan("c75_band_load")
    assert(!p.contains("Join"),
      s"the load audit must price the join, not run it:\n$p")
    assert(p.contains("partial_count"),
      s"bucket sizes lost map-side combine:\n$p")
  }

  test("c78/c79: centroid work is one vector-sum agg; label joins broadcast") {
    val a = plan("c78_label_affinity")
    // the r11 kernel: vec_sum_long partials combine map-side inside
    // ObjectHashAggregate — N rows cross the exchange, never N·dim
    assert(a.contains("partial_vec_sum_long"),
      s"centroid sums lost the map-side-combined vector aggregate:\n$a")
    assert(!a.contains("Generate posexplode"),
      s"centroid path re-grew the N·dim explode:\n$a")
    assert(!a.contains("SortMergeJoin"),
      s"the |labels|^2 pair join regressed to sort-merge:\n$a")
    val c = plan("c79_label_cohesion")
    assert(c.contains("BroadcastHashJoin"),
      s"the centroid join back over the corpus must broadcast:\n$c")
    assert(!c.contains("SortMergeJoin"),
      s"the centroid join regressed to sort-merge:\n$c")
  }

  test("b100: attribution is one user-keyed window + a |types| rollup") {
    val p = plan("b100_attribution")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning(user_id")) == 1,
      s"expected exactly one user-keyed exchange (the carry-forward window):\n$p")
    assert(!p.contains("Expand"), s"no Expand expected:\n$p")
  }

  test("b101: the fact-fact join stays size-appropriate — broadcast small-sf, SMJ at scale, never nested-loop") {
    val p = plan("b101_ship_lag")
    // at sf0.001 orders fits the broadcast threshold (correct!); at
    // warehouse scale the statistics flip it to the co-partitioned
    // SMJ — what must NEVER appear is a nested-loop/cartesian shape
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on orderkey:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"orderkey equi-join degenerated:\n$p")
    // month rollup partial-aggregates before its exchange
    assert(p.contains("Exchange hashpartitioning(order_month"),
      s"monthly rollup lost its keyed exchange:\n$p")
  }

  test("c83: the manifest is one shard-keyed aggregation, no join") {
    val p = plan("c83_release_manifest")
    assert(!p.contains("Join"), s"manifest must not join:\n$p")
    assert(p.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected one shard_id exchange:\n$p")
  }

  test("c87: winnowing selection is a generator; pairing is the capped fp join") {
    val p = plan("c87_winnowing")
    assert(!p.contains("CartesianProduct"),
      s"fingerprint pairing degenerated to a cross join:\n$p")
    assert(p.contains("Generate explode"),
      s"fingerprint selection must be the projection+generator:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the df-cap and pair branches must share the persisted fp table:\n$p")
  }

  test("b102: basket pairs come from the in-basket generator; margins broadcast") {
    val p = plan("b102_basket_lift")
    assert(!p.contains("SortMergeJoin"),
      s"a shuffle join crept into the lift computation:\n$p")
    assert(p.contains("Generate explode"),
      s"pairs must come from the bounded in-basket generator:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the three branches must share the persisted (order,part) table:\n$p")
  }

  test("c7c: trained IVF persists refined centroids; both assignment passes argmax map-side") {
    val p = plan("c7c_ann_ivf_trained")
    // the r5 scale fix must survive the Lloyd step: N rows cross each
    // assignment exchange (map-side partial argmax), never N·K
    assert(p.contains("partial_arg_max_by_score(__cos"),
      s"assignment lost its map-side argmax:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"refined centroids recomputed per consumer instead of persisted:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k lost per-partition pruning:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a centroid/cell join fell off broadcast:\n$p")
  }

  test("c89: int8 dequantization fuses into the scan projection — c7b's plan family, zero added exchanges") {
    val p = plan("c89_ann_int8")
    assert(p.contains("transform(transform(embedding"),
      s"quantize→dequantize left the projection (extra pass over the corpus):\n$p")
    assert(p.contains("partial_arg_max_by_score(__cos"),
      s"assignment lost its map-side argmax:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k lost per-partition pruning:\n$p")
    // corpus argmax + query argmax + top-k regroup — quantization adds none
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"int8 path added exchanges over c7b's 3:\n$p")
  }

  test("c88: the audit's 1-in-5 sample prunes at the scan, below the declared-quadratic truth product") {
    val p = plan("c88_semdedup_recall")
    assert(p.split("\n").exists(l => l.contains("DataFilters:") &&
      l.contains("% 5) = 0)")),
      s"sample filter not pushed to the scan — truth pays the full corpus:\n$p")
    // the quadratic product is the audit's DECLARED cost; pin that it is
    // the sampled product and the rollup still combines map-side
    assert(p.contains("partial_count"),
      s"recall rollup lost its map-side combine:\n$p")
  }

  test("c90: BM25's four rollups read ONE cached tf — the corpus explodes once") {
    val p = plan("c90_bm25")
    assert(p.contains("InMemoryTableScan"),
      s"tf not cached — every rollup re-explodes the corpus:\n$p")
    // the live plan's explodes are all inside the ONE cached tf
    // definition (printed once per cache reference); outside it there
    // must be none, i.e. explode count == cache-reference count
    val explodes = p.split("Generate explode").length - 1
    val cacheReads = p.split("InMemoryTableScan").length - 1
    assert(explodes <= cacheReads,
      s"an explode runs OUTSIDE the tf cache:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term restriction fell off broadcast:\n$p")
  }

  test("c91: the planner's sample prunes at the scan; the S-curve table joins broadcast") {
    val p = plan("c91_band_planner")
    assert(p.split("\n").exists(l => l.contains("DataFilters:") &&
      l.contains("% 10) = 0")),
      s"sample filter not pushed — mass pays the full corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 36-row curve table fell off broadcast:\n$p")
  }

  test("c92: pair counts combine map-side; global top-20 is TakeOrdered, not a full sort") {
    val p = plan("c92_bpe_pairs")
    assert(p.contains("partial_count"),
      s"pair counting lost its map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k plans as a full single-partition sort:\n$p")
    // pairs come from the in-row generator — no position self-join
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"adjacent pairs must not come from a join:\n$p")
  }

  test("b104: AUC pre-rollup combines map-side; the customer dim broadcasts") {
    val p = plan("b104_auc")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim fell off broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the dim join fell back to sort-merge:\n$p")
    assert(p.contains("partial_count"),
      s"(segment, score) rollup lost its map-side combine — raw rows " +
        s"would cross the rank sort:\n$p")
  }

  test("c93: fusion reuses the ONE cached tf; the PRF query vector broadcasts as a single row") {
    val p = plan("c93_prf_hybrid")
    assert(p.contains("InMemoryTableScan"),
      s"BM25 tf not cached:\n$p")
    val explodes = p.split("Generate explode").length - 1
    val cacheReads = p.split("InMemoryTableScan").length - 1
    assert(explodes <= cacheReads + 1, // +1: the posexplode of the 3 PRF seeds
      s"a corpus explode runs outside the tf cache:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row query vector must cross-join as a broadcast:\n$p")
  }

  test("c94: ONE distinct-types shuffle feeds all three rollups from cache") {
    val p = plan("c94_kn_counts")
    assert(p.contains("InMemoryTableScan"),
      s"bigram types not cached — each rollup would re-explode:\n$p")
    val explodes = p.split("Generate explode").length - 1
    val cacheReads = p.split("InMemoryTableScan").length - 1
    assert(explodes <= cacheReads,
      s"an explode runs outside the types cache:\n$p")
    assert(p.contains("partial_count"),
      s"context counting lost its map-side combine:\n$p")
  }

  test("c95: fragment planting prunes at the scan; intersection counts combine map-side") {
    val p = plan("c95_containment")
    assert(p.split("\n").exists(l => l.contains("DataFilters:") &&
      l.contains("% 5) = 0")),
      s"fragment-branch filter not pushed to the scan:\n$p")
    assert(p.contains("partial_count"),
      s"shingle-intersection rollup lost its map-side combine:\n$p")
  }

  test("c96: the moment matrix aggregates as vectors — one ObjectHashAggregate, no exploded rows") {
    val p = plan("c96_embed_corr")
    assert(p.contains("ObjectHashAggregate") &&
      p.contains("partial_vec_sum_long"),
      s"vector sums lost their map-side partial — N·d²/2 rows would " +
        s"cross the exchange:\n$p")
    // the only Generates are the 64-row dim-pair expansion of the ONE
    // result row — never a per-input-row posexplode
    assert(!p.contains("Generate posexplode"),
      s"moment build fell back to posexplode+groupBy:\n$p")
  }

  test("c97: the kNN graph broadcasts only centroids — the corpus never crosses as a broadcast") {
    val p = plan("c97_knn_graph")
    assert(p.contains("partial_arg_max_by_score"),
      s"cell assignment lost its map-side argmax — N·K rows would " +
        s"cross the exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the within-cell self-join degenerated to a cross product:\n$p")
    // per-src top-k is the bounded aggregate with a map-side partial —
    // a rank window here must SORT the probes·Σ|cell|² candidate
    // fan-out (the r10 sf10 probe measured that sort spilling >50 GB)
    assert(p.contains("partial_top_n_by_score"),
      s"per-node top-k lost its bounded map-side aggregate:\n$p")
    assert(!p.contains("WindowGroupLimit"),
      s"per-node top-k fell back to a candidate-sorting rank window:\n$p")
  }

  test("c98: multi-probe assignment keeps BOTH aggregates partial") {
    // c98's own executed plan only shows the post-CC rollup (small edge
    // lists solve driver-side), so audit the edge kernel directly
    spark.catalog.clearCache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Similarity
      .knnGraph(emb, "vec_id", "embedding", k = 5, probes = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_arg_max_by_score") && p.contains("partial_top_n_by_score"),
      s"probe assignment lost a map-side partial — N·K rows would " +
        s"cross the exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the probe join degenerated to a cross product:\n$p")
  }

  test("c99: one segment explode; the rollup combines map-side; windows share one re-key") {
    val p = plan("c99_line_lang")
    assert(p.split("Generate explode").length - 1 == 1,
      s"segmenting should explode exactly once:\n$p")
    assert(p.contains("partial_count"),
      s"(doc, lang) rollup lost its map-side combine — raw segments " +
        s"would cross the exchange:\n$p")
    // exchange 1: combined (doc,lang) counts; exchange 2: the same
    // tiny table re-keyed to doc_id for the windows — both windows and
    // the rank share it, so exactly 2 doc-keyed exchanges total
    val docExchanges = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning(doc_id"))
    assert(docExchanges == 2,
      s"windows re-shuffled instead of sharing the doc_id re-key:\n$p")
  }

  test("c100: release diff is one doc_id-keyed full-outer join; hashes computed in-scan") {
    val p = plan("c100_release_diff")
    assert(p.contains("FullOuter"), s"diff lost its full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"diff join degenerated:\n$p")
    // only (doc_id, source, text) leave the scan — the diff never
    // drags the unused columns through the join
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"diff reads columns it never uses:\n$p")
  }

  test("c103: pair counts combine map-side; rank and cumsum share one sort") {
    val p = plan("c103_merge_sweep")
    assert(p.contains("partial_count"),
      s"pair rollup lost its map-side combine:\n$p")
    // rank + running-sum windows ride the same (n desc, w1, w2) order:
    // one sort for both, plus at most the output order
    val sorts = p.split("\n").count(l => l.trim.startsWith("+- Sort ") ||
      l.trim.startsWith(":- Sort "))
    assert(sorts <= 2, s"windows re-sorted instead of sharing:\n$p")
  }

  test("c46: perplexity scores in two corpus passes — totals read the cached trigram counts") {
    val p = plan("c46_perplexity")
    val explodes = p.split("Generate explode").length - 1
    val cacheReads = p.split("InMemoryTableScan").length - 1
    assert(cacheReads >= 2,
      s"probs AND totals should both read the persisted counts:\n$p")
    assert(explodes == 1 + cacheReads,
      s"expected 1 live trigram explode outside the cache:\n$p")
  }

  test("partition-less rank windows prune via WindowGroupLimit (c90/c92/c93/c94/c96)") {
    // These global rank windows sort ROLLUP-sized inputs (vocab,
    // bigram types, per-doc scores, d²/2 correlation cells — never the
    // corpus), and Spark 4.1 prunes the rank-k filter below the
    // single-partition final sort: either a per-partition
    // WindowGroupLimit or (when the window's sort IS the rank order) a
    // TakeOrderedAndProject — each task forwards ≤ k rows either way.
    // The two `WindowExec: No Partition Defined` bench warnings are
    // these — bounded by construction; this guard pins the limit node
    // so a regression (e.g. a rank filter rewritten past the pruning
    // pattern) fails here, not in a benchmark.
    Seq("c90_bm25", "c92_bpe_pairs", "c93_prf_hybrid", "c94_kn_counts",
        "c96_embed_corr").foreach { q =>
      val p = plan(q)
      assert(p.contains("WindowGroupLimit") ||
          p.contains("TakeOrderedAndProject"),
        s"$q: global rank lost its limit prune:\n$p")
    }
  }
}
