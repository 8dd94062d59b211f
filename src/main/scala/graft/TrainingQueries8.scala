package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{Dedup, Similarity, TfIdf}
import graft.sources.Tables

/** C-series round 7: retrieval scoring and tokenizer-training
  * statistics (SURVEY §2C — reference scope addition; the reference
  * pipes events into ClickHouse, a training-data pipeline additionally
  * ranks and tokenizes what it ingested).
  *
  * Cross-engine rules as everywhere: md5-only hashing, and scores in
  * integer rationals — BM25's ln() would be libm-dependent, so c90
  * uses the log-free Robertson-odds idf (monotone per-term in the
  * textbook idf) with k1 = 6/5, b = 3/4 as exact integer fractions.
  */
object TrainingQueries8 {

  /** C90: BM25 document retrieval, log-free integer form. The query is
    * data-derived (vocabulary ranks 10-12 — past the stopword head,
    * still frequent enough to hit many docs), so the whole thing is
    * one deterministic corpus computation both engines can mirror.
    *
    * Scale shape: ONE corpus scan builds tf; doc lengths and totals
    * are rollups OVER tf (never a second scan); the query-term
    * restriction happens BEFORE doc-frequency counting, so df/score
    * work touches only rows containing query terms. score_micro =
    * idf_milli * 44·tf·T div (20·tf·T + 6·T + 18·len·N) with
    * T = corpus tokens, N = docs — exact int64 to ~1e7 docs; swap the
    * product chain to decimal(38,0) beyond. */
  private def c90Bm25(s: SparkSession, dir: String): DataFrame = {
    val (top, tf) = bm25TopDocs(Tables(s, dir, "documents"), "doc_id", "text",
      vocabRankLo = 10, vocabRankHi = 12, k = 20)
    // k rows: self-releasing (the c65b pattern) — the tf cache never
    // outlives this query
    TrainingQueries.materialized(s, top, tf)
  }

  /** Log-free BM25: Robertson-odds idf (N−df+1)·1000 div (df+1) in
    * place of its log — per-term monotone to textbook BM25 idf — and
    * the exact length normalization tf·(k1+1)/(tf + k1·(1−b+b·len/avgdl))
    * as one integer fraction (k1 = 6/5, b = 3/4, avgdl = T/N):
    * 44·tf·T / (20·tf·T + 6·T + 18·len·N).
    *
    * tf PERSISTS: four rollups fork off it (query vocab, doc lengths,
    * corpus totals, the query-restricted scores) and without the cache
    * each fork re-scans and re-explodes the whole corpus (the b96
    * lesson — plan-guarded). The cache holds (doc, term, freq)
    * aggregates, not text: orders of magnitude below corpus size.
    * Returns (top-k, tf cache) — the CALLER releases the cache once
    * its result is materialized (self-release discipline). */
  private def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
                          vocabRankLo: Int, vocabRankHi: Int,
                          k: Int): (DataFrame, DataFrame) = {
    val tf = TfIdf.termFreq(docs, idCol, textCol).persist()
    val query = tf.groupBy("word").agg(sum("term_freq").as("n_total"))
      // bounded input: the vocab rollup; rank plans as WindowGroupLimit
      .withColumn("vrk",
        row_number().over(Window.orderBy(col("n_total").desc, col("word"))))
      .filter(col("vrk").between(vocabRankLo, vocabRankHi)).select("word")
    val lens = tf.groupBy(col(idCol)).agg(sum("term_freq").as("doc_len"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum("term_freq").as("total_toks")))
    val qtf = tf.join(broadcast(query), "word")
    val qdf = qtf.groupBy("word").agg(count(lit(1)).as("doc_freq"))
    qtf.join(broadcast(qdf), "word")
      .join(lens, idCol)
      .crossJoin(broadcast(totals))
      .withColumn("score_micro", expr(
        """((n_docs - doc_freq + 1) * 1000 div (doc_freq + 1))
           * (44 * term_freq * total_toks)
           div (20 * term_freq * total_toks + 6 * total_toks
                + 18 * doc_len * n_docs)"""))
      .groupBy(col(idCol))
      .agg(sum("score_micro").as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      // bounded input: one row per matched doc after the score rollup;
      // the top-k filter plans as WindowGroupLimit (PlanAuditSpec pin)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("score_micro").desc, col(idCol))))
      .filter(col("rk") <= k)
      .select(col("rk"), col(idCol), col("score_micro"), col("n_terms_hit"))
      .orderBy(col("rk")) -> tf
  }

  /** Adjacent token pairs from an in-row generator (the token array
    * zipped against its own tail) — one corpus scan, no position
    * self-join, so downstream shuffles move (pair, count)/(pair)
    * partials, never positions. Shared by c92 (pair counts) and c94
    * (continuation counts). */
  private[graft] def adjacentPairs(docs: DataFrame): DataFrame =
    docs.select(Fns.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(transform(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        (x: Column, i: Column) => struct(x.as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))

  /** C92: the distributed half of BPE training — adjacent-pair counts
    * over the corpus (each merge round of byte-pair encoding picks the
    * most frequent adjacent pair; this is that argmax's input,
    * top-20). */
  private def c92BpePairs(s: SparkSession, dir: String): DataFrame = {
    adjacentPairs(Tables(s, dir, "documents"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pairs"))
      // bounded input: the bigram-type rollup (vocab²-bounded ≪ tokens);
      // top-20 plans as WindowGroupLimit (PlanAuditSpec pin)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_pairs").desc, col("w1"), col("w2"))))
      .filter(col("rk") <= 20)
      .withColumn("merged", concat(col("w1"), lit("_"), col("w2")))
      .select("rk", "w1", "w2", "n_pairs", "merged")
      .orderBy("rk")
  }

  /** The (bands, rows) configurations a 128-hash MinHash signature can
    * split into, with the S-curve P(candidate | jaccard=s) =
    * 1−(1−s^r)^b evaluated at each decile midpoint. Constants computed
    * ONCE here and inlined into BOTH engines' plans — the S-curve is
    * data-independent, so neither engine re-derives a float. */
  private val lshConfigs = Seq((64, 2), (32, 4), (16, 8), (8, 16))

  private def collidePpm(b: Int, r: Int, bucket: Int): Long = {
    val s = (2 * bucket + 1) / 20.0
    math.round((1.0 - math.pow(1.0 - math.pow(s, r), b)) * 1e6)
  }

  private def curveRows: Seq[(Int, Int, Long, Long)] =
    lshConfigs.flatMap { case (b, r) =>
      (1 to 9).map(k => (b, r, k.toLong, collidePpm(b, r, k)))
    }

  /** C91: LSH band planner — pick (bands, rows) from THIS corpus's
    * similarity mass instead of folklore. Ground truth mass: exact
    * 5-gram Jaccard deciles over a DECLARED 1-in-10 doc sample
    * (inverted-index shingle join, c4's verify shape without the
    * prefix filter — the sample pays 1/100 of the full bill). Each
    * 128-hash split's S-curve then prices, per config: expected
    * candidate mass, expected recall above τ=0.5, and wasted
    * candidate mass below τ — the c50/c61/c75 accounting BEFORE the
    * banding is built rather than after. Pairs sharing zero shingles
    * (j < 0.1 bucket too) are excluded by declaration: their collide
    * probability is ≤ 60 ppm across these configs, noise next to the
    * decision the table drives. */
  private def c91BandPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // planted-positive convention (c4): the near-dup corpus's copies
    // land in the 1-in-10 sample with their originals (id+1e6 keeps
    // id%10), so the high-similarity buckets are non-vacuous
    val sample = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
      .filter(col("doc_id") % 10 === 0)
    val sets = sample.select(col("doc_id"),
        array_distinct(Fns.wordNGrams(Fns.tokens(col("text")), 5)).as("shs"))
      .filter(size(col("shs")) > 0)
      .persist()
    val sh = sets.select(col("doc_id"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_sh").as("s1"), col("b.n_sh").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
    val mass = inter
      .select(least(expr(
        """CAST(round(round(n_inter / (s1 + s2 - n_inter), 6) * 1000000)
           AS BIGINT) div 100000"""), lit(9L)).as("bucket"))
      .filter(col("bucket") >= 1)
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val curve = curveRows.toDF("n_bands", "n_rows", "bucket", "collide_ppm")
    // |configs| rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s,
      mass.join(broadcast(curve), "bucket")
        .groupBy("n_bands", "n_rows")
        .agg(
          sum(col("n_pairs") * col("collide_ppm")).as("exp_candidates_ppm"),
          coalesce(sum(when(col("bucket") >= 5,
            col("n_pairs") * col("collide_ppm"))), lit(0L)).as("hit_hi_ppm"),
          coalesce(sum(when(col("bucket") >= 5, col("n_pairs"))), lit(0L))
            .as("n_hi"),
          coalesce(sum(when(col("bucket") < 5,
            col("n_pairs") * col("collide_ppm"))), lit(0L)).as("wasted_lo_ppm"))
        .select(col("n_bands"), col("n_rows"), col("exp_candidates_ppm"),
          expr("CASE WHEN n_hi > 0 THEN hit_hi_ppm div n_hi ELSE 0 END")
            .as("exp_recall_ppm"),
          col("wasted_lo_ppm"))
        .orderBy(col("n_bands").desc),
      sets)
  }

  /** C93: hybrid retrieval with pseudo-relevance feedback — the
    * production search stack's fusion step. Lexical list: c90's BM25
    * kernel, top-100. Semantic list: the PRF query vector is the
    * per-dimension micro-unit SUM of the BM25 top-3 docs' embeddings
    * (cosine is scale-invariant, so no division — the sum of int64
    * micros is order-independent and exact, the c17 centroid trick
    * without the engine-dependent divide), ranked by cosine (4 dp,
    * c6's convention) over the whole corpus, top-100. Fusion:
    * reciprocal-rank RRF, rrf_micro = Σ_lists 1e6 div (60 + rank),
    * missing list contributes 0; top-20 out.
    *
    * Scale shape: BM25 reuses the cached tf; top-3 ids and the 1-row
    * query vector broadcast (BroadcastNestedLoop over a single row);
    * the semantic pass is ONE corpus projection + a top-k rank; the
    * fusion joins two 100-row lists. doc_id ≡ vec_id by the testdata
    * contract (same generator row). */
  private def c93PrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the 100-row lexical list feeds TWO branches (PRF seeds, fusion);
    // without the persist each branch re-runs the whole BM25 subtree
    val (bm25, tf) = bm25TopDocs(Tables(s, dir, "documents"), "doc_id", "text",
        vocabRankLo = 10, vocabRankHi = 12, k = 100)
    val lex = bm25.select(col("doc_id"), col("rk").as("rk_lex"))
      .persist()
    val top3 = lex.filter(col("rk_lex") <= 3).select(col("doc_id"))
    val q = emb.join(broadcast(top3), emb("vec_id") === top3("doc_id"))
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(round(col("x") * 1000000).cast("long")).as("qm"))
      .agg(array_sort(collect_list(struct(col("dim"), col("qm")))).as("ps"))
      .select(transform(col("ps"), p => p.getField("qm").cast("double")).as("qv"))
    val sem = emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"), Fns.cosine(col("qv"), col("v"), 4).as("cos"))
      // bounded input: one score row per doc; top-100 plans as
      // WindowGroupLimit (at index scale this pass swaps for c7b IVF)
      .withColumn("rk_sem",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("rk_sem") <= 100)
      .select(col("doc_id"), col("rk_sem"))
    // 20 rows: self-releasing (the c65b pattern) — neither the tf nor
    // the lexical-list cache outlives this query
    TrainingQueries.materialized(s,
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000 div (60 + rk_lex)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rk_sem)"), lit(0L)))
        // bounded input: the two k-row retrieval lists' fusion
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rrf_micro").desc, col("doc_id"))))
        .filter(col("rk") <= 20)
        .select(col("rk"), col("doc_id"), col("rrf_micro"),
          coalesce(col("rk_lex"), lit(0)).as("rk_lex"),
          coalesce(col("rk_sem"), lit(0)).as("rk_sem"))
        .orderBy(col("rk")),
      lex, tf)
  }

  /** Kneser–Ney continuation statistics over bigram TYPES: for each
    * word, the number of distinct left contexts N1+(·w) (the KN
    * continuation numerator), distinct right contexts N1+(w·), and
    * p_cont = N1+(·w) / |bigram types| in ppm. The type table is the
    * ONE real shuffle (distinct over pairs, map-side combined); the
    * persisted types feed all three rollups. Returns (top-k, types
    * cache) — the caller releases the cache (self-release
    * discipline). */
  private[graft] def knContinuation(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val bt = adjacentPairs(docs).distinct().persist()
    val total = bt.agg(count(lit(1)).as("n_types"))
    val left = bt.groupBy(col("w2").as("word"))
      .agg(count(lit(1)).as("n_left_contexts"))
    val right = bt.groupBy(col("w1").as("word"))
      .agg(count(lit(1)).as("n_right_contexts"))
    left.join(right, Seq("word"), "left_outer")
      .crossJoin(broadcast(total))
      // bounded input: the per-word continuation rollup (vocab-sized);
      // top-k plans as WindowGroupLimit (PlanAuditSpec pin)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_left_contexts").desc, col("word"))))
      .filter(col("rk") <= k)
      .select(col("rk"), col("word"), col("n_left_contexts"),
        coalesce(col("n_right_contexts"), lit(0L)).as("n_right_contexts"),
        expr("n_left_contexts * 1000000 div n_types").as("p_cont_ppm"))
      .orderBy(col("rk")) -> bt
  }

  /** C94: the smoothing statistics every n-gram LM build fans out for
    * (Kneser–Ney's continuation counts), top-20 words by left-context
    * diversity. */
  private def c94KnCounts(s: SparkSession, dir: String): DataFrame = {
    val (top, bt) = knContinuation(Tables(s, dir, "documents"), 20)
    // k rows: self-releasing (the c65b pattern)
    TrainingQueries.materialized(s, top, bt)
  }

  /** Containment pairs over a (doc_id, tk) corpus: distinct 5-gram
    * shingles, inverted-index candidate join (shared shingle — the c4
    * verify shape), then |A∩B| / min(|A|,|B|) ≥ threshold. Returns
    * (contained_id, container_id, cont_ppm, jaccard_ppm): the pairs
    * symmetric Jaccard MISSES (a 60% fragment of a doc has jaccard
    * ≈ 0.5 but containment 1.0 — truncated re-crawls, quote
    * extraction, snippet farms). */
  private[graft] def containmentPairs(corpus: DataFrame, thresholdPpm: Long): DataFrame = {
    val sets = corpus.select(col("doc_id"),
        array_distinct(Fns.wordNGrams(col("tk"), 5)).as("shs"))
      .filter(size(col("shs")) > 0)
    val sh = sets.select(col("doc_id"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_sh").as("s1"), col("b.n_sh").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("cont_ppm", expr("n_inter * 1000000 div least(s1, s2)"))
      .filter(col("cont_ppm") >= thresholdPpm)
      .withColumn("jaccard_ppm", expr("n_inter * 1000000 div (s1 + s2 - n_inter)"))
      .select(
        when(col("s1") <= col("s2"), col("id1")).otherwise(col("id2")).as("contained_id"),
        when(col("s1") <= col("s2"), col("id2")).otherwise(col("id1")).as("container_id"),
        col("cont_ppm"), col("jaccard_ppm"))
  }

  /** C95: asymmetric-containment dedup audit on a planted corpus —
    * every 5th doc (≥ 20 tokens) reappears as its first-60%-of-tokens
    * fragment (id + 2,000,000). The fragment's shingles are a strict
    * subset of its source's, so containment is exactly 1.0 while
    * jaccard sits near the fragment ratio — the detection class c2/c4
    * are blind to by construction. Same audit-cost discipline as
    * c4/c91: at corpus scale the candidate join runs over LSH bands
    * (c2's candidates), not the raw inverted index. */
  private def c95Containment(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), Fns.tokens(col("text")).as("tk"))
    val frags = base
      .filter(col("doc_id") % 5 === 0 && size(col("tk")) >= 20)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("slice(tk, 1, cast((size(tk) * 3) div 5 as int))").as("tk"))
    containmentPairs(base.unionAll(frags), 900000L)
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** C96: embedding dimension-redundancy audit — the exact pairwise
    * Pearson correlation matrix of embedding dimensions (the
    * PCA-prep / whitening-decision statistic), top-20 pairs by |corr|.
    * Values quantize to declared milli units, so every sufficient
    * statistic is exact int64: per row an in-row upper-triangle
    * pair-product vector (d(d+1)/2 = 2080 longs), aggregated by the
    * native [[graft.plans.VectorSumLong]] — ONE vector per partition
    * crosses the exchange, vs N·d²/2 rows for posexplode+groupBy (the
    * difference between a moment-matrix build that works at 100 TB
    * and one that doesn't). corr from the int64 moments in double,
    * rounded to ppm — both engines see identical integers in, so
    * identical IEEE out (the c6 convention). */
  private def c96EmbedCorr(s: SparkSession, dir: String): DataFrame = {
    val d = 64
    val e = Tables(s, dir, "embeddings")
      .select(transform(col("embedding").cast("array<double>"),
        x => round(x * 1000).cast("long")).as("q"))
      .select(col("q"), Fns.upperTriangleProducts(col("q")).as("pp"))
    val moments = e.agg(
      Fns.vecSumLong(col("pp")).as("g"),
      Fns.vecSumLong(col("q")).as("sv"),
      count(lit(1)).as("n"))
    def idx(a: String, b: String): String =
      s"cast(($a - 1) * $d - (($a - 1) * ($a - 2)) div 2 + ($b - $a) + 1 as int)"
    moments
      .select(col("g"), col("sv"), col("n"),
        explode(sequence(lit(1), lit(d))).as("i"))
      .select(col("g"), col("sv"), col("n"), col("i"),
        explode(sequence(lit(1), lit(d))).as("j"))
      .filter(col("j") > col("i"))
      .selectExpr("i", "j", "n",
        "element_at(sv, i) as si", "element_at(sv, j) as sj",
        s"element_at(g, ${idx("i", "j")}) as sij",
        s"element_at(g, ${idx("i", "i")}) as sii",
        s"element_at(g, ${idx("j", "j")}) as sjj")
      // corr arithmetic in decimal(38,0): n·s_ij grows as N²·milli² and
      // would pass int64 at N ≈ 5e6 worst-case rows; the lift runs on
      // d(d-1)/2 = 2016 cells only (free), leaving the aggregate's own
      // int64 element sums (safe to ~2.7e13 rows) as the sole ceiling —
      // bounds measured by the r9 sf1 overflow sweep, docs/SCALE.md
      .withColumn("nd", col("n").cast("decimal(38,0)"))
      .withColumn("vi", expr("nd * sii - cast(si as decimal(38,0)) * si"))
      .withColumn("vj", expr("nd * sjj - cast(sj as decimal(38,0)) * sj"))
      .withColumn("corr_ppm", expr(
        """CASE WHEN vi > 0 AND vj > 0
           THEN cast(round(
             cast(nd * sij - cast(si as decimal(38,0)) * sj as double)
             / sqrt(cast(vi as double) * cast(vj as double)) * 1000000)
             as bigint)
           ELSE 0L END"""))
      .withColumn("rk", row_number().over(
        // bounded input: d(d−1)/2 correlation cells (dims², not rows);
        // top-20 plans as WindowGroupLimit (PlanAuditSpec pin)
        Window.orderBy(abs(col("corr_ppm")).desc, col("i"), col("j"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("i"), col("j"), col("corr_ppm"))
      .orderBy(col("rk"))
  }

  /** C97: ANN-graph hubness audit — the in-degree distribution of the
    * within-cell kNN graph ([[graft.operators.Similarity.knnGraph]],
    * k=5). Hub nodes (in-degree ≫ k) are what degrade graph-ANN
    * recall and what SemDeDup-style graph dedup over-merges on;
    * skewed in-degree is the embedding-space pathology this report
    * surfaces per corpus release. Zero-in-degree nodes (nobody's
    * neighbor) are counted too — the left join keeps them. */
  private def c97KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val indeg = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      .groupBy(col("dst").as("vec_id")).agg(count(lit(1)).as("in_deg"))
    emb.select(col("vec_id")).join(indeg, Seq("vec_id"), "left_outer")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .groupBy(col("in_deg")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("in_deg"))
  }

  /** C98: semantic dup CLUSTERS — connected components over the kNN
    * graph's high-cosine edges (cos ≥ 0.9 after the 4 dp rounding, c5's threshold;
    * probes = 2, so boundary-straddling pairs are recovered — the
    * faiss nprobe dial, here backed by the bounded TopNByScore
    * assignment aggregate), reported as a cluster-size histogram. The planted truth is c5's
    * convention: every 40th embedding reappears shifted +0.02
    * (id + 1,000,000), so real clusters exist and random 64-dim pairs
    * (cos ≈ 0 ± 0.12) can't cross the threshold. This is the
    * graph-CC alternative to c37's cell-pairwise SemDeDup: candidates
    * come from the kNN graph instead of exhaustive within-cell pairs,
    * and the CC step turns pairwise hits into dedup groups exactly as
    * c19 does for MinHash. Edge list ~ duplicate density, so the CC
    * input is orders below corpus size (the c19 scale contract). */
  /** c98/c102's shared planted corpus: every 40th embedding reappears
    * shifted +0.02 (id + 1,000,000; cos ≈ 0.987 to its source). */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    base.unionAll(base.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x + lit(0.02)).as("v")))
  }

  /** The planted corpus's thresholded kNN edges (cos ≥ 0.9, c5's
    * threshold) at the given probe count. */
  private def plantedKnnEdges(s: SparkSession, dir: String, probes: Int): DataFrame =
    Similarity.knnGraph(plantedEmbeddings(s, dir), "vec_id", "v",
        k = 5, probes = probes)
      .filter(col("cosine_sim") >= 0.9)

  private def c98SemanticClusters(s: SparkSession, dir: String): DataFrame = {
    Dedup.connectedComponents(plantedKnnEdges(s, dir, probes = 2), "src", "dst")
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** C99: segment-level language ID — the code-switching audit c8's
    * doc-level vote cannot see (a half-English half-German doc scores
    * "en" at doc level and poisons both monolingual corpora). Segments
    * are the c26 convention's non-overlapping 10-token windows; each
    * gets c8's marker-vote language; per doc: dominant language over
    * the KNOWN segments (ties break to langMarkers order, same as
    * langId's fold), and the minority share in ppm — the mixing
    * signal. One explode (n_tokens/10 rows per doc), one (doc, lang)
    * rollup, windows share the doc-keyed exchange. */
  private def c99LineLang(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Chunker, TextAnalysis}
    // planted mixing (the c16/c5 convention): every 7th doc gets a
    // 10-token German tail, so real code-switched docs exist
    val docs = Tables(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(germanTail))).otherwise(col("text")).as("text"))
    val segs = Chunker.chunkTokens(docs, "doc_id", "text",
      size = 10, stride = 10)
    val pred = TextAnalysis.langId(concat_ws(" ", col("chunk_tokens")))._1
    val w = Window.partitionBy(col("doc_id"))
    val wr = Window.partitionBy(col("doc_id"))
      .orderBy(col("n").desc, col("seg_lang"))
    segs.select(col("doc_id"), pred.as("seg_lang"))
      .groupBy(col("doc_id"), col("seg_lang")).agg(count(lit(1)).as("n"))
      .withColumn("n_segments", sum(col("n")).over(w))
      .filter(col("seg_lang") =!= "unknown")
      .withColumn("n_known", sum(col("n")).over(w))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_segments"), col("n_known"),
        col("seg_lang").as("dom_lang"),
        expr("(n_known - n) * 1000000 div n_known").as("minority_ppm"))
      .orderBy(col("doc_id"))
  }

  /** C100: corpus release DIFF — the dataset-versioning audit a
    * release manifest (c83) doesn't give you: old vs new release by
    * content hash, per source: added / removed / changed / unchanged
    * doc counts. Releases are constructed deterministically in-query
    * (the planting convention): old = docs with id % 11 ≠ 0 plus
    * retired synthetic docs (id + 3e6 for id % 31 = 0); new = all
    * docs, with ' v2' edits on id % 13 = 0. ONE full-outer join on
    * doc_id with in-scan md5 — at warehouse scale both releases
    * bucket by doc_id and the exchange disappears; the rollup is
    * \|sources × 4\|. */
  private def c100ReleaseDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
    val old = d.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .unionAll(d.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
          md5(concat(col("text"), lit(" retired"))).as("h")))
    val nw = d.select(col("doc_id"), col("source"),
      md5(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))).as("h"))
    old.select(col("doc_id"), col("source").as("src_o"), col("h").as("h_o"))
      .join(nw.select(col("doc_id"), col("source").as("src_n"), col("h").as("h_n")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_n"), col("src_o")).as("source"),
        when(col("h_o").isNull, "added")
          .when(col("h_n").isNull, "removed")
          .when(col("h_o") =!= col("h_n"), "changed")
          .otherwise("same").as("disp"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("disp") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("disp") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("disp") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("disp") === "same", 1L).otherwise(0L)).as("n_same"))
      .orderBy(col("source"))
  }

  /** Per-language marker tail (3× the marker set — 18+ hits, above
    * the corpus's max natural en-marker count of 14, so a planted doc
    * always classifies as its metadata language). */
  private def langTail(markers: Seq[String]): String =
    (" " + markers.mkString(" ")) * 3

  /** C101: Cohen's kappa between the metadata `lang` label and c8's
    * marker-vote prediction — the label-quality audit (agreement
    * beyond chance) every weak-supervision pipeline runs before
    * trusting either side. Planted signal (the c16 convention): docs
    * with id % 10 ≠ 0 get their true language's marker tail, so the
    * classifier agrees on 90% and disagrees honestly on the rest
    * (unplanted non-English docs read as en/unknown). Exact integer
    * kappa from the confusion matrix:
    * κ_ppm = (n·agree − Σ_k a_k·b_k)·1e6 div (n² − Σ_k a_k·b_k) —
    * int64 to n ≈ 3e6 docs (chance ≤ n²·1e6 bound), decimal(38,0)
    * past that. One (true, pred) rollup; marginals join on the label
    * key; everything downstream is ≤ \|langs\|² rows. */
  private def c101Kappa(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val tail = TextAnalysis.langMarkers.foldRight(lit("")) {
      case ((l, ms), acc) =>
        when(col("lang") === l, lit(langTail(ms))).otherwise(acc)
    }
    val planted = Tables(s, dir, "documents").select(col("lang"),
      when(col("doc_id") % 10 =!= 0, concat(col("text"), tail))
        .otherwise(col("text")).as("text"))
    val pred = TextAnalysis.langId(col("text"))._1
    val cm = planted.select(col("lang").as("t"), pred.as("p"))
      .groupBy(col("t"), col("p")).agg(count(lit(1)).as("n"))
      .persist()
    val tot = cm.agg(sum(col("n")).as("n_docs"),
      sum(when(col("t") === col("p"), col("n")).otherwise(0L)).as("n_agree"))
    val chance = cm.groupBy(col("t")).agg(sum(col("n")).as("a"))
      .join(cm.groupBy(col("p")).agg(sum(col("n")).as("b")),
        col("t") === col("p"))
      .agg(coalesce(sum(col("a") * col("b")), lit(0L)).as("chance"))
    // 1 row: self-releasing (the c65b pattern) — the confusion-matrix
    // cache never outlives this query
    TrainingQueries.materialized(s,
      tot.crossJoin(broadcast(chance))
        .select(col("n_docs"), col("n_agree"),
          expr("n_agree * 1000000 div n_docs").as("agree_ppm"),
          expr("chance * 1000000 div (n_docs * n_docs)").as("chance_ppm"),
          expr("""(n_docs * n_agree - chance) * 1000000
                  div (n_docs * n_docs - chance)""").as("kappa_ppm")),
      cm)
  }

  /** C102: the probes dial PRICED (the c50/c65/c88 discipline — every
    * approximation in the repo carries a measured error): planted-pair
    * recall of the kNN graph at probes = 1 vs 2, exact ppm. Truth =
    * c98's planted shifted copies (cos ≈ 0.987, always above the 0.9
    * edge threshold — the only question is whether the graph SAW the
    * pair). Edges normalize to unordered (a, b) and the recovered
    * count is one equi semi-join against the planted list; the
    * missing mass at probes=1 is exactly the cell-boundary loss the
    * multi-probe assignment exists to buy back. */
  private def c102KnnRecall(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables(s, dir, "embeddings").filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("a"), (col("vec_id") + 1000000L).as("b"))
    // ONE assignment pass serves both probe dials (knnGraphSweep: a
    // p-probe list's prefix is the (p-1)-probe list, so the per-dial
    // edges are bit-identical to two independent knnGraph calls at
    // half the O(N·K) assignment cost — r12; RetrievalEvalSpec pins
    // the per-dial equality)
    val (edges, aCache) = Similarity.knnGraphSweep(
      plantedEmbeddings(s, dir), "vec_id", "v", k = 5, probesList = Seq(1, 2))
    def stat(p: Int): DataFrame = {
      val pairs = edges(p).filter(col("cosine_sim") >= 0.9)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      planted.agg(count(lit(1)).as("n_planted"))
        .crossJoin(planted.join(pairs, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_recovered")))
        .select(lit(p).as("probes"), col("n_planted"), col("n_recovered"),
          expr("n_recovered * 1000000 div n_planted").as("recall_ppm"))
    }
    // 2 rows: self-releasing (the c65b pattern) — the assignment cache
    // never outlives this query
    TrainingQueries.materialized(s,
      stat(1).unionAll(stat(2)).orderBy(col("probes")), aCache)
  }

  /** C103: merge-table size SWEEP — how much of the corpus's adjacent-
    * pair mass the top-V BPE merge candidates cover, V ∈ {50, 100,
    * 300, 600}: the "how many merges until diminishing returns" table
    * a tokenizer build reads before fixing its vocab budget (c92 is
    * one argmax round; this prices the whole table). One pair rollup
    * (map-side combined), ONE shared rank/cumsum sort over the
    * \|pair-vocab\| table, the 4-row size list broadcasts into a
    * rank-threshold join. Everything after the first exchange is
    * vocab²-bounded. */
  private def c103MergeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = adjacentPairs(Tables(s, dir, "documents"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    // bounded input: the bigram-type rollup (vocab²-bounded)
    val w = Window.orderBy(col("n").desc, col("w1"), col("w2"))
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = counts.agg(sum(col("n")).as("total_pairs"),
      count(lit(1)).as("n_pair_types"))
    val sizes = Seq(50, 100, 300, 600).toDF("n_merges")
    ranked.join(broadcast(sizes), col("rk") <= col("n_merges"))
      .groupBy(col("n_merges"))
      .agg(max(col("cum")).as("covered_pairs"))
      .crossJoin(broadcast(totals))
      .select(col("n_merges"), col("covered_pairs"), col("total_pairs"),
        col("n_pair_types"),
        expr("covered_pairs * 1000000 div total_pairs").as("coverage_ppm"))
      .orderBy(col("n_merges"))
  }

  private val toksSql = """regexp_extract_all(lower(trim(text)), '\S+')"""

  /** The c90 BM25 chain as a CTE body ending at `bm25r(rk, doc_id,
    * score_micro, n_terms_hit)` — shared by the c90 and c93 oracles
    * (c93 consumes the full ranking, not just the top-20). */
  private def bm25Ctes: String =
    s"""toks AS (
          SELECT doc_id, unnest($toksSql) AS word FROM documents),
        tf AS (
          SELECT doc_id, word, count(*) AS term_freq
          FROM toks GROUP BY doc_id, word),
        vocab AS (
          SELECT word, CAST(sum(term_freq) AS BIGINT) AS n_total
          FROM tf GROUP BY word),
        vr AS (
          SELECT word, row_number() OVER (ORDER BY n_total DESC, word)
            AS vrk FROM vocab),
        q AS (SELECT word FROM vr WHERE vrk BETWEEN 10 AND 12),
        lens AS (
          SELECT doc_id, CAST(sum(term_freq) AS BIGINT) AS doc_len
          FROM tf GROUP BY doc_id),
        n AS (SELECT count(*) AS n_docs FROM documents),
        tot AS (SELECT CAST(sum(term_freq) AS BIGINT) AS total_toks FROM tf),
        qtf AS (SELECT tf.* FROM tf JOIN q USING (word)),
        qdf AS (SELECT word, count(*) AS doc_freq FROM qtf GROUP BY word),
        scored AS (
          SELECT qtf.doc_id,
            ((n.n_docs - qdf.doc_freq + 1) * 1000 // (qdf.doc_freq + 1))
              * (44 * qtf.term_freq * tot.total_toks)
              // (20 * qtf.term_freq * tot.total_toks + 6 * tot.total_toks
                 + 18 * lens.doc_len * n.n_docs) AS score_micro
          FROM qtf JOIN qdf USING (word) JOIN lens USING (doc_id)
          CROSS JOIN n CROSS JOIN tot),
        agg AS (
          SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS score_micro,
            count(*) AS n_terms_hit
          FROM scored GROUP BY doc_id),
        bm25r AS (
          SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id)
            AS rk FROM agg)"""

  private def curveValuesSql: String = curveRows
    .map { case (b, r, k, p) => s"($b, $r, $k, $p)" }.mkString(", ")

  private val germanTail =
    " der die das und ist ein der die das und"

  /** c8's marker-hit fragment over a token-list column `tk`, one
    * `hits_<lang>` per language, plus the CASE mirroring langId's
    * leftmost-wins tie-break. */
  private def langCaseSql: (String, String) = {
    import graft.operators.TextAnalysis
    val hits = TextAnalysis.langMarkers.map { case (l, ms) =>
      s"len(list_filter(tk, t -> t IN ${TrainingQueries.markersIn(ms)})) AS hits_$l"
    }.mkString(", ")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val pred = langs.map(l =>
      s"WHEN hits_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    (hits, s"CASE $pred ELSE 'unknown' END")
  }

  /** One prefixed kNN-edge chain (probes = p) over CTEs `ve`, `cents`,
    * `planted` assumed in scope — the c98 chain with `rn <= p` on the
    * probe side, ending at `p${p}rec(n_recovered)`. */
  private def knnChainSql(p: Int): String = {
    val x = s"p$p"
    s"""${x}assigned AS (
          SELECT vec_id, v, cent_id AS cell, rn FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${TrainingQueries.cosineSql("v", "centv", 4)} DESC,
                  cent_id) AS rn
            FROM ve CROSS JOIN cents)
          WHERE rn <= $p),
        ${x}l AS (SELECT vec_id AS src, v AS sv, cell FROM ${x}assigned),
        ${x}r AS (SELECT vec_id AS dst, v AS dv, cell FROM ${x}assigned
                  WHERE rn = 1),
        ${x}scored AS (
          SELECT src, dst, ${TrainingQueries.cosineSql("sv", "dv", 4)} AS cos
          FROM ${x}l JOIN ${x}r USING (cell) WHERE src <> dst),
        ${x}ranked AS (
          SELECT src, dst, cos,
            row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst)
              AS rnk
          FROM ${x}scored),
        ${x}ed AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM ${x}ranked WHERE rnk <= 5 AND cos >= 0.9),
        ${x}rec AS (
          SELECT count(*) AS n_recovered FROM planted pl
          WHERE EXISTS (SELECT 1 FROM ${x}ed e
                        WHERE e.a = pl.a AND e.b = pl.b))"""
  }

  val registry: Seq[Q] = Seq(
    Q("c103_merge_sweep", c103MergeSweep,
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
          ix AS (
            SELECT tk, unnest(range(1, len(tk))) AS i
            FROM t WHERE len(tk) >= 2),
          p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM ix),
          c AS (SELECT w1, w2, count(*) AS n FROM p GROUP BY w1, w2),
          r AS (
            SELECT n,
              row_number() OVER (ORDER BY n DESC, w1, w2) AS rk,
              sum(n) OVER (ORDER BY n DESC, w1, w2
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM c),
          t2 AS (
            SELECT CAST(sum(n) AS BIGINT) AS total_pairs,
              count(*) AS n_pair_types
            FROM c),
          sz(n_merges) AS (VALUES (50), (100), (300), (600)),
          cov AS (
            SELECT n_merges, CAST(max(cum) AS BIGINT) AS covered_pairs
            FROM r JOIN sz ON r.rk <= sz.n_merges GROUP BY n_merges)
          SELECT n_merges, covered_pairs, total_pairs, n_pair_types,
            covered_pairs * 1000000 // total_pairs AS coverage_ppm
          FROM cov CROSS JOIN t2 ORDER BY n_merges"""),
    Q("c102_knn_recall", c102KnnRecall,
      s"""WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          dups AS (
            SELECT vec_id + 1000000 AS vec_id,
              list_transform(v, x -> x + 0.02) AS v
            FROM base WHERE vec_id % 40 = 0),
          ve AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          cents AS (
            SELECT vec_id AS cent_id, v AS centv FROM ve
            WHERE vec_id % ${TrainingQueries.strideSql("ve")} = 0),
          planted AS (
            SELECT vec_id AS a, vec_id + 1000000 AS b FROM base
            WHERE vec_id % 40 = 0),
          np AS (SELECT count(*) AS n_planted FROM planted),
          ${knnChainSql(1)},
          ${knnChainSql(2)}
          SELECT 1 AS probes, n_planted, n_recovered,
            n_recovered * 1000000 // n_planted AS recall_ppm
          FROM np CROSS JOIN p1rec
          UNION ALL
          SELECT 2 AS probes, n_planted, n_recovered,
            n_recovered * 1000000 // n_planted AS recall_ppm
          FROM np CROSS JOIN p2rec
          ORDER BY probes"""),
    Q("c101_kappa", c101Kappa, {
      import graft.operators.TextAnalysis
      val tailCase = TextAnalysis.langMarkers.map { case (l, ms) =>
        s"WHEN lang = '$l' THEN text || '${langTail(ms)}'"
      }.mkString(" ")
      val (hits, kase) = langCaseSql
      s"""WITH d AS (
            SELECT lang,
              CASE WHEN doc_id % 10 <> 0
                THEN (CASE $tailCase ELSE text END)
                ELSE text END AS text
            FROM documents),
          t AS (SELECT lang, $toksSql AS tk FROM d),
          h AS (SELECT lang, $hits FROM t),
          pr AS (SELECT lang AS t, $kase AS p FROM h),
          cm AS (SELECT t, p, count(*) AS n FROM pr GROUP BY 1, 2),
          tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(coalesce(sum(CASE WHEN t = p THEN n END), 0) AS BIGINT)
                AS n_agree
            FROM cm),
          ra AS (SELECT t, CAST(sum(n) AS BIGINT) AS a FROM cm GROUP BY t),
          cb AS (SELECT p, CAST(sum(n) AS BIGINT) AS b FROM cm GROUP BY p),
          ch AS (
            SELECT CAST(coalesce(sum(a * b), 0) AS BIGINT) AS chance
            FROM ra JOIN cb ON ra.t = cb.p)
          SELECT n_docs, n_agree,
            n_agree * 1000000 // n_docs AS agree_ppm,
            chance * 1000000 // (n_docs * n_docs) AS chance_ppm,
            (n_docs * n_agree - chance) * 1000000
              // (n_docs * n_docs - chance) AS kappa_ppm
          FROM tot CROSS JOIN ch"""
    }),
    Q("c100_release_diff", c100ReleaseDiff,
      """WITH d AS (SELECT doc_id, source, text FROM documents),
         old AS (
           SELECT doc_id, source, md5(text) AS h FROM d
           WHERE doc_id % 11 <> 0
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, source,
             md5(text || ' retired') AS h
           FROM d WHERE doc_id % 31 = 0),
         nw AS (
           SELECT doc_id, source,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
               ELSE text END) AS h
           FROM d),
         j AS (
           SELECT coalesce(nw.source, old.source) AS source,
             CASE WHEN old.h IS NULL THEN 'added'
               WHEN nw.h IS NULL THEN 'removed'
               WHEN old.h <> nw.h THEN 'changed'
               ELSE 'same' END AS disp
           FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
         SELECT source,
           CAST(sum(CASE WHEN disp = 'added' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_added,
           CAST(sum(CASE WHEN disp = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(sum(CASE WHEN disp = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(CASE WHEN disp = 'same' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same
         FROM j GROUP BY source ORDER BY source"""),
    Q("c99_line_lang", c99LineLang, {
      val (hits, kase) = langCaseSql
      s"""WITH d AS (
            SELECT doc_id,
              text || CASE WHEN doc_id % 7 = 0 THEN '$germanTail'
                ELSE '' END AS text
            FROM documents),
          t AS (SELECT doc_id, $toksSql AS tk FROM d),
          c AS (
            SELECT doc_id, tk,
              unnest(generate_series(0, CAST((len(tk) - 1) // 10 AS BIGINT)))
                AS chunk_id
            FROM t WHERE len(tk) > 0),
          sl AS (
            SELECT doc_id,
              list_slice(tk, chunk_id * 10 + 1, chunk_id * 10 + 10) AS tk
            FROM c),
          h AS (SELECT doc_id, $hits FROM sl),
          p AS (SELECT doc_id, $kase AS seg_lang FROM h),
          g AS (
            SELECT doc_id, seg_lang, count(*) AS n
            FROM p GROUP BY 1, 2),
          tot AS (
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segments
            FROM g GROUP BY 1),
          k AS (SELECT * FROM g WHERE seg_lang <> 'unknown'),
          kt AS (
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_known
            FROM k GROUP BY 1),
          r AS (
            SELECT doc_id, seg_lang, n,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY n DESC, seg_lang) AS rn
            FROM k)
          SELECT r.doc_id, tot.n_segments, kt.n_known,
            seg_lang AS dom_lang,
            (kt.n_known - r.n) * 1000000 // kt.n_known AS minority_ppm
          FROM r JOIN tot USING (doc_id) JOIN kt ON kt.doc_id = r.doc_id
          WHERE rn = 1 ORDER BY r.doc_id"""
    }),
    Q("c98_semantic_clusters", c98SemanticClusters,
      s"""WITH RECURSIVE
          base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          dups AS (
            SELECT vec_id + 1000000 AS vec_id,
              list_transform(v, x -> x + 0.02) AS v
            FROM base WHERE vec_id % 40 = 0),
          ve AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          cents AS (
            SELECT vec_id AS cent_id, v AS centv FROM ve
            WHERE vec_id % ${TrainingQueries.strideSql("ve")} = 0),
          assigned2 AS (
            SELECT vec_id, v, cent_id AS cell, rn FROM (
              SELECT vec_id, v, cent_id,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY ${TrainingQueries.cosineSql("v", "centv", 4)} DESC,
                    cent_id) AS rn
              FROM ve CROSS JOIN cents)
            WHERE rn <= 2),
          l AS (SELECT vec_id AS src, v AS sv, cell FROM assigned2),
          r AS (SELECT vec_id AS dst, v AS dv, cell FROM assigned2
                WHERE rn = 1),
          scored AS (
            SELECT src, dst, ${TrainingQueries.cosineSql("sv", "dv", 4)} AS cos
            FROM l JOIN r USING (cell) WHERE src <> dst),
          ranked AS (
            SELECT src, dst, cos,
              row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst)
                AS rnk
            FROM scored),
          ed AS (SELECT src, dst FROM ranked WHERE rnk <= 5 AND cos >= 0.9),
          sym AS (
            SELECT src AS a, dst AS b FROM ed
            UNION SELECT dst, src FROM ed),
          reach(n, m) AS (
            SELECT a, a FROM sym
            UNION
            SELECT r2.n, e.b FROM reach r2 JOIN sym e ON r2.m = e.a),
          cl AS (SELECT n, min(m) AS component FROM reach GROUP BY n),
          cs AS (
            SELECT component, count(*) AS cluster_size
            FROM cl GROUP BY component)
          SELECT cluster_size, count(*) AS n_clusters FROM cs
          GROUP BY cluster_size ORDER BY cluster_size"""),
    Q("c97_knn_graph", c97KnnGraph,
      s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          cents AS (
            SELECT vec_id AS cent_id, v AS centv FROM ve
            WHERE vec_id % ${TrainingQueries.strideSql("ve")} = 0),
          assigned AS (
            SELECT vec_id, v, cent_id AS cell FROM (
              SELECT vec_id, v, cent_id,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY ${TrainingQueries.cosineSql("v", "centv", 4)} DESC,
                    cent_id) AS rn
              FROM ve CROSS JOIN cents)
            WHERE rn = 1),
          l AS (SELECT vec_id AS src, v AS sv, cell FROM assigned),
          r AS (SELECT vec_id AS dst, v AS dv, cell FROM assigned),
          scored AS (
            SELECT src, dst, ${TrainingQueries.cosineSql("sv", "dv", 4)} AS cos
            FROM l JOIN r USING (cell) WHERE src <> dst),
          ranked AS (
            SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst)
                AS rnk
            FROM scored),
          edges AS (SELECT dst FROM ranked WHERE rnk <= 5),
          indeg AS (
            SELECT e.vec_id, count(ed.dst) AS in_deg
            FROM embeddings e LEFT JOIN edges ed ON ed.dst = e.vec_id
            GROUP BY e.vec_id)
          SELECT in_deg, count(*) AS n_nodes FROM indeg
          GROUP BY in_deg ORDER BY in_deg"""),
    Q("c96_embed_corr", c96EmbedCorr,
      """WITH e AS (
           SELECT list_transform(embedding::DOUBLE[],
             x -> CAST(round(x * 1000) AS BIGINT)) AS q
           FROM embeddings),
         nn AS (SELECT count(*) AS n FROM e),
         dims AS (SELECT unnest(range(1, 65)) AS i),
         sv AS (
           SELECT i, CAST(sum(q[i]) AS BIGINT) AS s,
             CAST(sum(q[i] * q[i]) AS BIGINT) AS s2
           FROM e CROSS JOIN dims GROUP BY i),
         pr AS (SELECT a.i AS i, b.i AS j FROM dims a JOIN dims b ON b.i > a.i),
         g AS (
           SELECT pr.i, pr.j, CAST(sum(q[pr.i] * q[pr.j]) AS BIGINT) AS sij
           FROM e CROSS JOIN pr GROUP BY pr.i, pr.j),
         c AS (
           SELECT g.i, g.j,
             CASE WHEN (n * si.s2 - si.s * si.s) > 0
                   AND (n * sj.s2 - sj.s * sj.s) > 0
               THEN CAST(round(CAST(n * sij - si.s * sj.s AS DOUBLE)
                 / sqrt(CAST(n * si.s2 - si.s * si.s AS DOUBLE)
                      * CAST(n * sj.s2 - sj.s * sj.s AS DOUBLE))
                 * 1000000) AS BIGINT)
               ELSE 0 END AS corr_ppm
           FROM g JOIN sv si ON si.i = g.i JOIN sv sj ON sj.i = g.j
           CROSS JOIN nn),
         r AS (
           SELECT *, row_number() OVER (ORDER BY abs(corr_ppm) DESC, i, j)
             AS rk FROM c)
         SELECT rk, i, j, corr_ppm FROM r WHERE rk <= 20 ORDER BY rk"""),
    Q("c91_band_planner", c91BandPlanner,
      s"""WITH ${TrainingQueries.corpusSql},
          t AS (
            SELECT doc_id, $toksSql AS tk FROM corpus
            WHERE doc_id % 10 = 0),
          shd0 AS (
            SELECT doc_id, list_distinct(${TrainingQueries.ngramsSql(5)}) AS shs
            FROM t),
          shd AS (SELECT doc_id, shs FROM shd0 WHERE len(shs) > 0),
          sh AS (
            SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shd),
          inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              a.n_sh AS s1, b.n_sh AS s2, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
          mass AS (
            SELECT bucket, count(*) AS n_pairs FROM (
              SELECT least(CAST(round(round(n_inter / (s1 + s2 - n_inter), 6)
                * 1000000) AS BIGINT) // 100000, 9) AS bucket
              FROM inter)
            WHERE bucket >= 1 GROUP BY bucket),
          curve(n_bands, n_rows, bucket, collide_ppm) AS (
            VALUES $curveValuesSql),
          agg AS (
            SELECT n_bands, n_rows,
              CAST(sum(n_pairs * collide_ppm) AS BIGINT) AS exp_candidates_ppm,
              CAST(coalesce(sum(CASE WHEN bucket >= 5
                THEN n_pairs * collide_ppm END), 0) AS BIGINT) AS hit_hi_ppm,
              CAST(coalesce(sum(CASE WHEN bucket >= 5 THEN n_pairs END), 0)
                AS BIGINT) AS n_hi,
              CAST(coalesce(sum(CASE WHEN bucket < 5
                THEN n_pairs * collide_ppm END), 0) AS BIGINT) AS wasted_lo_ppm
            FROM mass JOIN curve USING (bucket) GROUP BY 1, 2)
          SELECT n_bands, n_rows, exp_candidates_ppm,
            CASE WHEN n_hi > 0 THEN hit_hi_ppm // n_hi ELSE 0 END
              AS exp_recall_ppm,
            wasted_lo_ppm
          FROM agg ORDER BY n_bands DESC"""),
    Q("c90_bm25", c90Bm25,
      s"""WITH $bm25Ctes
          SELECT rk, doc_id, score_micro, n_terms_hit
          FROM bm25r WHERE rk <= 20 ORDER BY rk"""),
    Q("c93_prf_hybrid", c93PrfHybrid,
      s"""WITH $bm25Ctes,
          lex AS (SELECT doc_id, rk AS rk_lex FROM bm25r WHERE rk <= 100),
          top3 AS (SELECT doc_id FROM lex WHERE rk_lex <= 3),
          ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          t3 AS (SELECT v FROM ev JOIN top3 ON vec_id = doc_id),
          dims AS (SELECT unnest(range(1, 65)) AS dim),
          qd AS (
            SELECT dim,
              CAST(sum(CAST(round(v[dim] * 1000000) AS BIGINT)) AS DOUBLE)
                AS qm
            FROM t3 CROSS JOIN dims GROUP BY dim),
          qa AS (SELECT list(qm ORDER BY dim) AS qv FROM qd),
          sc AS (
            SELECT vec_id AS doc_id, ${TrainingQueries.cosineSql("qv", "v", 4)}
              AS cos
            FROM ev CROSS JOIN qa),
          semr AS (
            SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
              AS rk_sem FROM sc),
          sem AS (SELECT doc_id, rk_sem FROM semr WHERE rk_sem <= 100),
          fused AS (
            SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
              coalesce(1000000 // (60 + rk_lex), 0)
                + coalesce(1000000 // (60 + rk_sem), 0) AS rrf_micro,
              coalesce(rk_lex, 0) AS rk_lex, coalesce(rk_sem, 0) AS rk_sem
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
          fr AS (
            SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
              AS rk FROM fused)
          SELECT rk, doc_id, rrf_micro, rk_lex, rk_sem
          FROM fr WHERE rk <= 20 ORDER BY rk"""),
    Q("c94_kn_counts", c94KnCounts,
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
          ix AS (
            SELECT tk, unnest(range(1, len(tk))) AS i
            FROM t WHERE len(tk) >= 2),
          p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM ix),
          bt AS (SELECT DISTINCT w1, w2 FROM p),
          tot AS (SELECT count(*) AS n_types FROM bt),
          l AS (SELECT w2 AS word, count(*) AS n_left_contexts
                FROM bt GROUP BY 1),
          r AS (SELECT w1 AS word, count(*) AS n_right_contexts
                FROM bt GROUP BY 1),
          j AS (
            SELECT l.word, n_left_contexts,
              coalesce(n_right_contexts, 0) AS n_right_contexts
            FROM l LEFT JOIN r ON l.word = r.word),
          rkd AS (
            SELECT *, row_number() OVER (ORDER BY n_left_contexts DESC, word)
              AS rk FROM j)
          SELECT rk, word, n_left_contexts, n_right_contexts,
            n_left_contexts * 1000000 // (SELECT n_types FROM tot)
              AS p_cont_ppm
          FROM rkd WHERE rk <= 20 ORDER BY rk"""),
    Q("c95_containment", c95Containment,
      s"""WITH b AS (SELECT doc_id, $toksSql AS tk FROM documents),
          f AS (
            SELECT doc_id + 2000000 AS doc_id,
              tk[1:(len(tk) * 3) // 5] AS tk
            FROM b WHERE doc_id % 5 = 0 AND len(tk) >= 20),
          corpus AS (SELECT * FROM b UNION ALL SELECT * FROM f),
          shd0 AS (
            SELECT doc_id, list_distinct(${TrainingQueries.ngramsSql(5)}) AS shs
            FROM corpus),
          shd AS (SELECT doc_id, shs FROM shd0 WHERE len(shs) > 0),
          sh AS (
            SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shd),
          inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
              a.n_sh AS s1, b.n_sh AS s2, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
          c AS (
            SELECT *, n_inter * 1000000 // least(s1, s2) AS cont_ppm
            FROM inter),
          k AS (
            SELECT CASE WHEN s1 <= s2 THEN id1 ELSE id2 END AS contained_id,
              CASE WHEN s1 <= s2 THEN id2 ELSE id1 END AS container_id,
              cont_ppm,
              n_inter * 1000000 // (s1 + s2 - n_inter) AS jaccard_ppm
            FROM c WHERE cont_ppm >= 900000)
          SELECT * FROM k ORDER BY contained_id, container_id"""),
    Q("c92_bpe_pairs", c92BpePairs,
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
          ix AS (
            SELECT tk, unnest(range(1, len(tk))) AS i
            FROM t WHERE len(tk) >= 2),
          p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM ix),
          c AS (SELECT w1, w2, count(*) AS n_pairs FROM p GROUP BY w1, w2),
          r AS (
            SELECT *, row_number() OVER (ORDER BY n_pairs DESC, w1, w2)
              AS rk FROM c)
          SELECT rk, w1, w2, n_pairs, w1 || '_' || w2 AS merged
          FROM r WHERE rk <= 20 ORDER BY rk""")
  )
}
