package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.{EventPipeline, Scaffold}

/** C-series (SURVEY §2C): LLM-training-data pipeline operators —
  * dedup family, similarity search, text analysis, multimodal
  * plumbing — each oracle-checked against a DuckDB mirror of the SAME
  * computation (md5 is the shared deterministic hash; float reductions
  * are rounded; every sum the sign of a decision depends on is
  * evaluated in the same left-to-right order both sides).
  *
  * The raw `documents` corpus is unique-by-construction, so the
  * near-dup operators run on a corpus with PLANTED duplicates (exact
  * copies for C1, one-tail-edit copies for C2-C4) built in-plan from
  * the real table — true positives exist and the oracle plants the
  * same rows.
  */
object TrainingQueries {

  // ------------------------------------------------------------------
  // Planted-duplicate corpora (Spark side + SQL mirror)
  // ------------------------------------------------------------------

  /** Near-dup corpus: every 10th doc reappears with a two-token tail
    * edit (id + 1,000,000) — high-jaccard true positives. */
  private[graft] def corpusWithDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zz tail")).as("text")))

  private[graft] val corpusSql =
    """corpus AS (
       SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id, text || ' zz tail' AS text
       FROM documents WHERE doc_id % 10 = 0)"""

  /** Exact-dup corpus: every 7th doc copied verbatim (id + 2,000,000). */
  private def corpusWithExactDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))

  private val exactCorpusSql =
    """corpus AS (
       SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 2000000 AS doc_id, text
       FROM documents WHERE doc_id % 7 = 0)"""

  // ------------------------------------------------------------------
  // Shared SQL fragments mirroring graft.functions.Fns
  // ------------------------------------------------------------------

  private[graft] val toksSql = """regexp_extract_all(lower(trim(text)), '\S+')"""
  private[graft] val normTextSql = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""

  /** Mirror of Fns.wordNGrams over a token-list column `tk`. */
  private[graft] def ngramsSql(n: Int): String =
    s"""CASE WHEN len(tk) >= $n
        THEN list_transform(generate_series(1, len(tk) - ${n - 1}),
               i -> array_to_string(tk[i:i+${n - 1}], ' '))
        ELSE [] END"""

  /** Mirror of the exact-jaccard verify: shingle self-join → count
    * intersections → jaccard vs per-doc shingle counts. Expects a
    * CTE `shd(doc_id, shs)` of distinct shingles to be in scope. */
  private[graft] def jaccardSql(threshold: Double): String =
    s"""sh AS (SELECT doc_id, unnest(shs) AS sh FROM shd),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jac AS (
          SELECT id1, id2,
            round(n_inter / (s1.n_sh + s2.n_sh - n_inter), 6) AS jaccard
          FROM inter
          JOIN sizes s1 ON s1.doc_id = id1
          JOIN sizes s2 ON s2.doc_id = id2)
        """ + s", verified AS (SELECT * FROM jac WHERE jaccard >= $threshold)"

  // ------------------------------------------------------------------
  // C1-C5: dedup family
  // ------------------------------------------------------------------

  private def c1DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(corpusWithExactDups(Tables(s, dir, "documents")), "doc_id", "text")
      .orderBy(col("fp_md5"))

  private def c2DedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(corpusWithDups(Tables(s, dir, "documents")), "doc_id", "text",
        n = 5, k = 8, bands = 4, threshold = 0.5)
      .orderBy(col("id1"), col("id2"))

  private def c3DedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(corpusWithDups(Tables(s, dir, "documents")), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id1"), col("id2"))

  private def c4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(corpusWithDups(Tables(s, dir, "documents")), "doc_id", "text",
        n = 3, threshold = 0.6)
      .orderBy(col("id1"), col("id2"))

  /** Embedding sample with planted near-identical vectors (+0.05 on
    * every dimension, id + 1,000,000). */
  private def embSample(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dups = base.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x + lit(0.05)).as("v"))
    base.unionAll(dups)
  }

  private def c5EmbedNeardup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(embSample(s, dir), "vec_id", "v",
        threshold = 0.9, roundScale = 4)
      .orderBy(col("id1"), col("id2"))

  /** C19: near-dup pairs → duplicate CLUSTERS via connected components
    * (min-id label propagation; the keep/drop decision step after any
    * pairwise near-dup pass). Pairs come from the LSH chain — banding
    * bounds the candidate set, so this is the 100 TB path (the exact
    * shingle self-join stays available as the c4 audit variant, whose
    * per-shingle candidate count grows quadratically with document
    * frequency). Oracle is a recursive CTE to fixpoint over the SAME
    * LSH-produced pair set — genuinely the same computation. */
  private def c19DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLsh(
      corpusWithDups(Tables(s, dir, "documents")), "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    Dedup.connectedComponents(pairs, "id1", "id2")
      .select(col("node").as("doc_id"), col("component").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** C26: cross-doc duplicate-line fraction (RefinedWeb/MassiveText
    * line-dedup signal) — the planted near-dup corpus gives true
    * positives: every copied doc shares almost all its 10-token lines
    * with its original. */
  private def c26LineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDupStats(corpusWithDups(Tables(s, dir, "documents")),
        "doc_id", "text", lineTokens = 10)
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------------
  // C6-C7: similarity search
  // ------------------------------------------------------------------

  private def c6AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, roundScale = 4)
      .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
        col("cosine_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private def c7AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, planes = 0, dim = 64, roundScale = 4,
        probes = 2)
      .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
        col("bucket"), col("cosine_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private def c7bAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, stride = 0, roundScale = 4)
      .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
        col("cell"), col("cosine_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** C7c: the TRAINED IVF path — one Lloyd refinement over the seed
    * centroids before the probe. The refinement's determinism claim
    * (decimal-exact per-dimension means, so refined centroids are
    * identical across partitionings/replays) is exactly what the
    * DuckDB oracle pins: the mirror recomputes the same assignment →
    * decimal-mean → reassignment chain relationally and must land on
    * bit-identical cells and ranks. */
  private def c7cAnnIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, stride = 0, iters = 1, roundScale = 4)
      .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
        col("cell"), col("cosine_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }


  /** Int8-dequantized embedding view: the production retrieval shape
    * (store c24's int8 codes — a 4× memory cut — and search over
    * code/127.0 doubles). Quantization is deterministic on identical
    * IEEE doubles, so the view is engine-portable. */
  private def int8Deq(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(graft.operators.VectorStats.quantizeInt8(col("embedding")),
        q => q.cast("double") / lit(127.0)).as("embedding"))

  /** C89: quantized ANN — c24's int8 codes composed with c7b's IVF
    * kernel end-to-end: centroids, assignment, and cell probe all run
    * over the dequantized codes, exactly as a memory-bound index
    * would. The dequantization error is priced by c65's `ivf_int8`
    * recall line against the float-exact ground truth. */
  private def c89AnnInt8(s: SparkSession, dir: String): DataFrame = {
    val deq = int8Deq(Tables(s, dir, "embeddings"))
    Similarity.ivfTopK(deq, deq.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, stride = 0, roundScale = 4)
      .select(col("query_id"), col("rank").as("rnk"), col("corpus_id"),
        col("cell"), col("cosine_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** C65: ANN recall audit — the measurement that justifies c7's
    * plane count and c7b's stride: each approximate method's top-5
    * against c6's brute-force top-5 ground truth, recall in exact
    * ppm (the c50/c61 discipline, applied to the embedding chain).
    * Hits are a (query_id, corpus_id) semi-join of two
    * |queries|·k-row tables — the corpus-sized work is the three
    * searches themselves, each already audited for plan shape. */
  private def c65AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("corpus_id"))
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
      k = 5, roundScale = 4)).persist()
    // one shared truth-count subtree + one join-aggregate per method
    // (the c65b audit shape): both sides carry unique pairs, so the
    // left-join match count equals the retired semi-join count
    val nExactDf = exact.agg(count(lit(1)).as("n_exact"))
    def audit(method: String, ann: DataFrame): DataFrame =
      ann.join(exact.withColumn("__hit", lit(1L)),
          Seq("query_id", "corpus_id"), "left")
        .agg(count(col("__hit")).as("n_hit"))
        .crossJoin(nExactDf)
        .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
          when(col("n_exact") > 0,
            expr("(n_hit * 1000000L) div n_exact")).otherwise(0L)
            .as("recall_ppm"))
    val deq = int8Deq(emb)
    // derive stride/planes ONCE from one (metadata-only) count and
    // pass them explicitly — stride=0/planes=0 here would make each
    // search re-derive them with its own count job (r10's c65b cost)
    val n = emb.count()
    val st = Similarity.sqrtStride(n)
    val pl = Similarity.autoPlanes(n)
    audit("ivf", pairs(Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, stride = st, roundScale = 4)))
      .unionAll(audit("ivf_int8", pairs(Similarity.ivfTopK(deq,
        deq.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, stride = st, roundScale = 4))))
      .unionAll(audit("lsh", pairs(Similarity.lshTopK(emb, q, "vec_id",
        "embedding", k = 5, planes = pl, dim = 64, roundScale = 4,
        probes = 2))))
      .orderBy(col("method"))
  }

  /** C65b: the PLANTED-REGIME recall audit. c65 prices the indexes on
    * uniform-random vectors, where 64-dim "nearest" is noise ranking
    * (IVF 22.5%, LSH ~0% at sf0.1 — honest but unrepresentative);
    * real corpora have the near-dup structure ANN indexes exist to
    * serve. This row prices THAT regime: the c98/c102 planted corpus
    * (every 40th vector reappears shifted +0.02, id + 1,000,000,
    * cos ≈ 0.987 to its source), with the planted COPIES as queries
    * so every query has a true strong neighbor. Per index — lsh /
    * ivf / ivf_trained / ivf_int8, the full dial set — two numbers:
    * recall vs brute-force top-5 ground truth (c65's metric) and
    * src_recall (did the index surface the query's true source — the
    * production near-dup question). Same semi-join audit shape as
    * c65; the corpus-sized work is the four searches, each already
    * plan-audited. Which number means what: SCALE.md §ANN.
    *
    * The AUDITED query set is a declared id-sample of the planted
    * copies: sources at stride 40·max(1, N/2000). At the driver's
    * scales (N ≤ 2000) that is every planted copy — identical to the
    * r8/r9 row — while past them the audit stays ~50 queries, so its
    * brute-force ground truth (the one intentionally exact O(|q|·N)
    * term) grows linearly with the corpus instead of quadratically:
    * the c88 declared-sample pattern, applied here so the FULL suite
    * can gate at sf ≥ 1 (the r9 sweep found the unsampled DuckDB
    * mirror's 10M-row cross join intractable at sf1). */
  private def c65bAnnRecallPlanted(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val n0 = base.count()
    val qStride = 40L * math.max(1L, n0 / 2000L)
    val emb = base.unionAll(base.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.02)).as("embedding")))
      .persist()
    val q = emb.filter(col("vec_id") >= 1000000L &&
      (col("vec_id") - 1000000L) % qStride === 0)
    val nq = q.count() // bounded: ≤ max(|corpus|/40, ~50) sampled queries
    def pairs(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("corpus_id"))
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
      k = 5, roundScale = 4)).persist()
    // every frame this query persists, released before returning — the
    // result below is materialized in-query (4 audit rows), so the
    // caches never outlive the call (no clearCache() needed downstream)
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame](emb, exact)
    // shared by every audit row: one count job over the cached truth
    // set instead of one per method (4 subtrees -> 1)
    val nExactDf = exact.agg(count(lit(1)).as("n_exact"))
    def audit(method: String, annRaw: DataFrame): DataFrame = {
      // ONE aggregate computes both hit counts: a left join against the
      // cached truth set marks hits (both sides carry unique
      // (query_id, corpus_id) pairs, so a match count == the retired
      // semi-join count), and the src-hit predicate folds into the same
      // pass — the r11 shape ran 3 scalar-aggregate subtrees per method
      // (n_exact / semi-join n_hit / filtered n_src_hit) crossJoined,
      // i.e. 12 jobs across the 4 methods, each re-reading the search
      // result. The |q|·k search output is consumed exactly once now,
      // so it no longer needs its own persist either.
      val ann = pairs(annRaw)
      ann.join(exact.withColumn("__hit", lit(1L)),
          Seq("query_id", "corpus_id"), "left")
        .agg(count(col("__hit")).as("n_hit"),
          count(when(col("corpus_id") === col("query_id") - 1000000L,
            lit(1))).as("n_src_hit"))
        .crossJoin(nExactDf)
        .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
          when(col("n_exact") > 0,
            expr("(n_hit * 1000000L) div n_exact")).otherwise(0L)
            .as("recall_ppm"),
          lit(nq).as("n_q"), col("n_src_hit"),
          when(lit(nq) > 0,
            expr(s"(n_src_hit * 1000000L) div ${nq}L")).otherwise(0L)
            .as("src_recall_ppm"))
    }
    val deq = int8Deq(emb)
    // one count over the (persisted) corpus derives BOTH dials; the
    // r10 shape passed stride=0/planes=0 to all four searches and each
    // re-derived its own with a separate count job. The int8 corpus is
    // a row-preserving projection of emb, so the same stride applies.
    val nEmb = emb.count()
    val st = Similarity.sqrtStride(nEmb)
    val pl = Similarity.autoPlanes(nEmb)
    // ivf and ivf_trained share ONE seed index: the trained variant
    // refines FROM the seed's persisted assignment (refineIndex), so
    // the O(N·K) seed assignment is paid once across both audits —
    // and each audit's search is the served (assignment-free) path.
    //
    // The three setup legs — float index build→refine, int8 index
    // build, brute-force ground truth — are INDEPENDENT until the
    // audits consume them, but each is a chain of blocking actions
    // (materialize-before-evict), so run serially they leave the
    // cluster idle in every action's tail. Overlap them from a small
    // thread pool (guide §2.6): same jobs, same deterministic results
    // (every leg reads only the already-materialized `emb`/`deq`),
    // ~wall of the slowest leg instead of the sum. Measured r12:
    // the serial setup span was ~60% of this query's wall.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fExact = Future { exact.foreach(_ => ()) } // ground truth
    val fIdx01 = Future {
      val i0 = Similarity.buildIndex(emb, "vec_id", "embedding", stride = st)
      (i0, Similarity.refineIndex(emb, i0, iters = 1))
    }
    // The int8 audit is served too: one index over the DEQUANTIZED
    // corpus (its own N·K — quantization moves vectors, so cells must
    // be assigned on the int8-rounded values to stay bit-identical to
    // the per-call ivfTopK form), searched assignment-free. The r11
    // shape re-ran ivfTopK's unpersisted assignment subtree inside the
    // audit's three aggregate branches — the suite's last per-call
    // index rebuild (r11 verdict, What's wrong #2).
    val fI8 = Future {
      Similarity.buildIndex(deq, "vec_id", "embedding", stride = st) }
    val (idx0, idx1) = Await.result(fIdx01, Duration.Inf)
    val idxI8 = Await.result(fI8, Duration.Inf)
    Await.result(fExact, Duration.Inf)
    val audits = audit("ivf", Similarity.searchIndex(idx0, q, k = 5))
      .unionAll(audit("ivf_int8", Similarity.searchIndex(idxI8,
        deq.filter(col("vec_id") >= 1000000L &&
          (col("vec_id") - 1000000L) % qStride === 0), k = 5)))
      .unionAll(audit("ivf_trained", Similarity.searchIndex(idx1, q, k = 5)))
      .unionAll(audit("lsh", Similarity.lshTopK(emb, q, "vec_id",
        "embedding", k = 5, planes = pl, dim = 64, roundScale = 4,
        probes = 2)))
      .orderBy(col("method"))
    // 4 rows: materialize, release every cache, hand back a local frame
    val rows = audits.collect().toSeq
    persisted.foreach(_.unpersist())
    idx0.release(); idx1.release(); idxI8.release()
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), audits.schema)
  }

  // ------------------------------------------------------------------
  // C8-C11: text analysis
  // ------------------------------------------------------------------

  private def c8LangId(s: SparkSession, dir: String): DataFrame = {
    val (pred, scores) = TextAnalysis.langId(col("text"))
    Tables(s, dir, "documents")
      .select(col("doc_id") +: pred.as("lang_pred") +:
        scores.map { case (l, c) => c.as(s"hits_$l") }: _*)
      .orderBy(col("doc_id"))
  }

  private def c9Quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def c10TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  private def c11Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id") +:
        TextAnalysis.fingerprintCols(col("text"), 5).map { case (n, c) => c.as(n) }: _*)
      .orderBy(col("doc_id"))

  /** C13: deterministic bounded sampling per group — the KMV bottom-k
    * aggregate (custom TypedImperativeAggregate; mergeable, so the
    * shuffle carries ≤ k values per group per partition). Output is
    * exploded to scalar rows (event_type, rn, event_id): the driver's
    * pandas compare can't sort array cells, and the exploded form is
    * hash-checkable against the full oracle. */
  private def c13Sample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fns
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(Fns.bottomKByHash(col("event_id"), 5).as("sample_ids"))
      .select(col("event_type"), posexplode(col("sample_ids")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
        col("col").as("event_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  // ------------------------------------------------------------------
  // C12: multimodal plumbing
  // ------------------------------------------------------------------

  /** C104: the SERVED ANN index, driver-checked. Build the IVF index
    * ONCE ([[Similarity.buildIndex]]: centroids + corpus→cell
    * assignment, persisted), then serve THREE independent query
    * batches from it — the retrieval-service shape, where Q searches
    * amortize one O(N·K) assignment instead of each paying it
    * (r10's ivfTopK-per-call sat on the N^1.5 line for exactly this
    * reason; BENCH_served_ann_r11 prices the amortization). The
    * oracle mirror computes the assignment CTE once and probes it
    * three times, so a hash match IS the served==per-call proof —
    * the per-call path (c7b) is green against the same mirror. */
  private def c104ServedAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val idx = Similarity.buildIndex(emb, "vec_id", "embedding", stride = 0)
    val served = Seq(0L, 8L, 16L).map { lo =>
      Similarity.searchIndex(idx,
          emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 8), k = 5)
        .withColumn("batch_lo", lit(lo))
    }.reduce(_ unionAll _)
    materialized(s,
      served.select(col("batch_lo"), col("query_id"),
          col("rank").as("rnk"), col("corpus_id"), col("cell"),
          col("cosine_sim"))
        .orderBy(col("batch_lo"), col("query_id"), col("rnk")),
      idx.assigned, idx.cents)
  }

  private def c12Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.withMedia(Tables(s, dir, "documents"), "doc_id", col("text"))
      .select(col("doc_id"), col("media_kind"), col("byte_len"),
        col("width"), col("height"), col("bit_depth"), col("channels"),
        col("n_frames"), col("feature_md5"))
      .orderBy(col("doc_id"))

  /** C105: REAL PNG pixel decode, driver-checked. Per document, a
    * complete spec-valid 8-bit RGB PNG is synthesized (dimensions from
    * the text's byte length; scanlines rotate through all five PNG
    * filters; two IDAT chunks), then DECODED the way a production
    * reader would — CRC-verified chunk walk, multi-IDAT concat, zlib
    * inflate, per-line unfilter — and the decoded pixels are summed.
    * The oracle pins those sums in CLOSED FORM from the synthesis
    * formula (sample k = (k + w + 7h) mod 256 — consecutive residues,
    * so Σ and Σ² telescope over full 256-cycles), so any decode bug
    * (a wrong Paeth reversal, a missed IDAT byte) breaks the row.
    * Both mapPartitions steps are the batch shape a real codec needs:
    * one Deflater/Inflater per partition, rows streamed through,
    * nothing collected. */
  private def c105PngPixels(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        (octet_length(col("text")).cast("bigint") % 64L + 1L).as("width"),
        (octet_length(col("text")).cast("bigint") * 7L % 48L + 1L).as("height"))
    Multimodal.decodePngPixelsBatched(
        Multimodal.encodePngBatched(dims, "media_id", "width", "height"),
        "media_id", "png_blob")
      .orderBy(col("media_id"))
  }

  /** C106: STREAMING served-index maintenance, driver-checked — the
    * retrieval-service lifecycle around c104's build-once/serve-many:
    * build the IVF index over 3/4 of the corpus, stream the remaining
    * quarter in as TWO micro-batches (maxFilesPerTrigger=1 over two
    * single-file dirs — c81's deterministic split), each appended into
    * the EXISTING cells by [[Similarity.appendToIndex]] (|batch|·K
    * work; the build's O(N·K) is never re-paid), then run ONE
    * [[Similarity.refineServed]] Lloyd step as the compaction
    * analogue (a19's pattern applied to the ANN family). The oracle
    * mirrors the ONE-SHOT form — assign the FULL corpus to the
    * base-seeded centroids, probe; Lloyd-refine, probe — so a hash
    * match IS the proof that search-after-append == rebuild (and that
    * compaction-after-append == training on the full corpus), batch
    * count and order invariant by construction. */
  private def c106IndexAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val root = Scaffold.scratch("graft_c106")
    // the two micro-batch input files stage overlapped (guide §2.6);
    // result invariant to batch order by construction (see above)
    Scaffold.stageSliceFiles(s, s"$root/in",
      Seq(emb.filter(col("vec_id") % 8 === 3),
        emb.filter(col("vec_id") % 8 === 7)))
    // foreachBatch runs on the stream's execution thread: the handle
    // goes through an AtomicReference so the post-termination read
    // here is safely published
    val idxRef = new java.util.concurrent.atomic.AtomicReference(
      Similarity.buildIndex(base, "vec_id", "embedding", stride = 0))
    Scaffold.foreachBatch(EventPipeline.FileEventSource(emb.schema, s"$root/in").load(s),
        s"$root/ck") { (batch, _) =>
      idxRef.set(Similarity.appendToIndex(idxRef.get, batch))
    }.awaitTermination()
    val idx = idxRef.get
    val refined = Similarity.refineServed(idx, iters = 1)
    val q = emb.filter(col("vec_id") < 8)
    val out = Similarity.searchIndex(idx, q, k = 5)
        .withColumn("stage", lit("appended"))
      .unionAll(Similarity.searchIndex(refined, q, k = 5)
        .withColumn("stage", lit("refined")))
      .select(col("stage"), col("query_id"), col("rank").as("rnk"),
        col("corpus_id"), col("cell"), col("cosine_sim"))
      .orderBy(col("stage"), col("query_id"), col("rnk"))
    materialized(s, out, idx.assigned, idx.cents,
      refined.assigned, refined.cents)
  }

  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // Oracles
  // ------------------------------------------------------------------

  /** Mirror of Dedup.minHashSignatures: component j is an 8-hex-char
    * window of md5(s) (j<4) or md5(s || '#') (j≥4). */
  private[graft] def minhashSigSql(k: Int): String = {
    val hs = (0 until k).map { j =>
      val src = if (j < 4) "md5(s)" else "md5(s || '#')"
      s"list_min(list_transform(shs, s -> substr($src, ${(j % 4) * 8 + 1}, 8))) AS h$j"
    }.mkString(", ")
    s"sig AS (SELECT doc_id, $hs FROM shd WHERE len(shs) > 0)"
  }

  /** Mirror of the LSH banding: band b = md5 of h{2b}|h{2b+1}. */
  private[graft] def bandedSql(bands: Int, rows: Int): String = {
    val parts = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"h${b * rows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bk FROM sig"
    }
    s"banded AS (${parts.mkString(" UNION ALL ")})"
  }

  private def c2OracleSql: String =
    s"""WITH $corpusSql,
        toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
        shd AS (SELECT doc_id, list_distinct(${ngramsSql(5)}) AS shs FROM toks),
        ${minhashSigSql(8)},
        ${bandedSql(4, 2)},
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        ${jaccardSql(0.5)}
        SELECT c.id1, c.id2, v.jaccard
        FROM cand c JOIN verified v ON c.id1 = v.id1 AND c.id2 = v.id2
        ORDER BY c.id1, c.id2"""

  /** DuckDB mirror of [[graft.plans.SimHash64Util]]: 64 vote sums —
    * bit i's source is bit (i mod 4) of hex digit (i div 4) of
    * `md5(tok)`, the nibble read back from the hex string via
    * substr+strpos — then sign → bit, packed into a signed BIGINT
    * (bit 63 contributes min-long, the two's-complement identity). */
  private[graft] def simhash64SumsSql: String =
    (0 until 64).map { i =>
      val nib = s"(strpos('0123456789abcdef', substr(md5(tok), ${(i >> 2) + 1}, 1)) - 1)"
      s"sum(CASE WHEN (($nib >> ${i & 3}) & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(", ")

  private[graft] def simhash64FpSql: String =
    (0 until 64).map { i =>
      val w = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"(CASE WHEN s$i > 0 THEN CAST($w AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** Mirror of Dedup.simHash64 + brute-force hamming pairs (the band
    * join is exact for hamming ≤ 3, so brute force gives the same set). */
  private def c3OracleSql: String =
    s"""WITH $corpusSql,
        toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM corpus),
        sums AS (SELECT doc_id, $simhash64SumsSql FROM toks GROUP BY doc_id),
        fp AS (SELECT doc_id, $simhash64FpSql AS simhash64 FROM sums)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          bit_count(xor(a.simhash64, b.simhash64)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
        ORDER BY id1, id2"""

  private def c4OracleSql: String =
    s"""WITH $corpusSql,
        toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
        shd AS (SELECT doc_id, list_distinct(${ngramsSql(3)}) AS shs FROM toks),
        ${jaccardSql(0.6)}
        SELECT id1, id2, jaccard FROM verified ORDER BY id1, id2"""

  /** c65b's self-release pattern, shared: force the (audit-sized)
    * result, release every cache the query pinned, hand back a local
    * frame. No persist outlives its query, so library consumers get
    * the memory bound without the suite-level clearCache() contract
    * (USAGE.md). Only for outputs orders below corpus size — every
    * caller's result is a bounded report/top-k table.
    *
    * `spark.graft.materialize=false` returns the lazy frame unchanged
    * (caches left pinned): PlanAuditSpec flips it to assert the real
    * computational plan, which the collect-and-localize wrapper would
    * otherwise hide behind a parallelize scan. */
  private[graft] def materialized(s: SparkSession, result: DataFrame,
                                  caches: DataFrame*): DataFrame =
    if (s.conf.get("spark.graft.materialize", "true") == "false") result
    else {
      val rows = result.collect().toSeq
      caches.foreach(_.unpersist())
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), result.schema)
    }

  /** Mirror of [[graft.operators.Similarity.sqrtStride]]: the
    * scale-aware centroid stride ⌊√N⌋ over the named corpus CTE.
    * Engine-exact — IEEE sqrt is correctly rounded in both DuckDB and
    * the JVM, and N ≤ 2^53 is exact in a double. */
  private[graft] def strideSql(corpus: String): String =
    s"(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM $corpus)"

  /** Mirror of Fns.cosine over double-list columns `$a`, `$b`. */
  private[graft] def cosineSql(a: String, b: String, scale: Int): String = {
    val dot = s"list_sum(list_transform(generate_series(1, 64), i -> $a[i] * $b[i]))"
    val den = s"sqrt(list_sum(list_transform($a, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x * x)))"
    s"round(CASE WHEN ($den) <> 0 THEN ($dot) / ($den) ELSE 0.0 END, $scale)"
  }

  private def c5OracleSql: String =
    s"""WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id % 20 = 0),
        dups AS (
          SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.05) AS v
          FROM base WHERE vec_id % 40 = 0),
        c AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
        pairs AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
            ${cosineSql("a.v", "b.v", 4)} AS cosine_sim
          FROM c a JOIN c b ON a.vec_id < b.vec_id)
        SELECT id1, id2, cosine_sim FROM pairs
        WHERE cosine_sim >= 0.9 ORDER BY id1, id2"""

  private def c6OracleSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
        c AS (SELECT vec_id AS corpus_id, v AS cv FROM v),
        scored AS (
          SELECT query_id, corpus_id, ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c, q WHERE query_id <> corpus_id),
        ranked AS (
          SELECT query_id, corpus_id, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, rnk, corpus_id, cosine_sim FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** Inline ±1 plane constants — same left-to-right accumulation order
    * as Fns.dotD's fold, so the sign decision is bit-identical. */
  /** The corpus-derived plane count as a 1-row CTE — the same integer
    * bitlen formula as [[Similarity.autoPlanes]] (`length(bin(x))` ≡
    * 64 − numberOfLeadingZeros(x); both engines compute it on exact
    * integers, no float log2 at a boundary). A CTE the bucket CTE
    * cross-joins (1 row), NOT an inline scalar subquery: 30 copies of
    * the subquery inside the bucket expression sent DuckDB's
    * decorrelation into a plan that sat at a ~40 GB memory edge on a
    * 20k-row corpus and OOM'd under concurrent load. */
  private def npCteSql(corpus: String): String =
    s"np AS (SELECT least(30, greatest(8, " +
      s"length(bin((count(*)-1)//64)))) AS p FROM $corpus)"

  /** Bucket-signature mirror with the corpus-derived plane count:
    * term j contributes only when j < np.p (see [[npCteSql]] — the
    * bucket CTE must cross-join `np`). The gate short-circuits, so
    * ungated planes' 64-term dots are never evaluated.
    *
    * Every CTE built on this expression is declared AS MATERIALIZED:
    * DuckDB inlines plain CTEs, and once multi-probe made the bucket
    * table referenced three times (corpus side, query side, flip
    * side) the re-expanded 30×64-term trees drove the c65b mirror
    * past a 40 GB memory edge at sf1 — materialized, the same query
    * runs in ~110 s well inside budget, values identical. */
  private def bucketSql: String =
    (0 until 30).map { j =>
      val dot = (0 until 64)
        .map(i => s"v[${i + 1}]*(${Similarity.planeSign(j, i)})").mkString(" + ")
      s"(CASE WHEN $j < np.p AND ($dot) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Multi-probe flip index: the active (j < np.p) plane with the
    * smallest |margin|, ties to the lowest j — mirrors the (|dot|, j)
    * struct sort in [[Similarity.lshTopK]]. Gated planes carry a
    * sentinel margin above any real |dot|, so they never win while
    * np.p ≥ 1. Must be evaluated in a CTE that joins `np`. */
  private def flipSql(v: String): String = {
    val entries = (0 until 30).map { j =>
      val dot = (0 until 64)
        .map(i => s"$v[${i + 1}]*(${Similarity.planeSign(j, i)})").mkString(" + ")
      s"CASE WHEN $j < np.p THEN {'m': abs($dot), 'j': $j} ELSE {'m': 1e308, 'j': $j} END"
    }.mkString("[", ", ", "]")
    s"struct_extract(list_sort($entries)[1], 'j')"
  }

  /** The probes=2 query-side bucket list: home bucket plus the lowest-
    * margin single-bit flip (see [[flipSql]]); `src` must carry
    * (query_id, bucket, qv). */
  private def probeCtesSql(src: String, qf: String, out: String): String =
    s"""$qf AS MATERIALIZED (SELECT query_id, bucket, qv, ${flipSql("qv")} AS flip
          FROM $src, np),
        $out AS (SELECT query_id, qv, bucket AS pbucket FROM $qf
          UNION ALL
          SELECT query_id, qv, xor(bucket, 1::BIGINT << flip) AS pbucket
          FROM $qf)"""

  private def c7OracleSql: String =
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ${npCteSql("ve")},
        b AS MATERIALIZED (SELECT vec_id, v, $bucketSql AS bucket FROM ve, np),
        q0 AS (SELECT vec_id AS query_id, bucket, v AS qv FROM b WHERE vec_id < 8),
        ${probeCtesSql("q0", "qf", "q")},
        c AS (SELECT vec_id AS corpus_id, bucket, v AS cv FROM b),
        scored AS (
          SELECT query_id, corpus_id, c.bucket AS bucket,
            ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c JOIN q ON c.bucket = q.pbucket
          WHERE query_id <> corpus_id),
        ranked AS (
          SELECT query_id, corpus_id, bucket, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, rnk, corpus_id, bucket, cosine_sim FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** IVF mirror: centroids, assignment, and cell-probe search are all
    * relational — the id-stride centroid rule reproduces in SQL. */
  private def c7bOracleSql: String =
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM ve WHERE vec_id % ${strideSql("ve")} = 0),
        assigned AS (
          SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM ve CROSS JOIN cents)
          WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv, cell FROM assigned WHERE vec_id < 8),
        c AS (SELECT vec_id AS corpus_id, v AS cv, cell FROM assigned),
        scored AS (
          SELECT query_id, corpus_id, c.cell AS cell,
            ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c JOIN q ON c.cell = q.cell
          WHERE query_id <> corpus_id),
        ranked AS (
          SELECT query_id, corpus_id, cell, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, rnk, corpus_id, cell, cosine_sim FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** Trained-IVF mirror: seed-assign → decimal-exact per-dimension
    * means (the Lloyd step, CAST(.. AS DECIMAL(28,12)) sums exactly as
    * Similarity.refineCentroids) → reassign → cell probe. Positions
    * come from generate_series (embeddings are fixed 64-dim); refined
    * cells keep their seed cent_id, empty cells disappear — both
    * standard Lloyd, both mirrored. */
  private def c7cOracleSql: String = {
    def assign(src: String, cents: String): String =
      s"""SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM $src CROSS JOIN $cents)
          WHERE rn = 1"""
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents0 AS (SELECT vec_id AS cent_id, v AS centv FROM ve WHERE vec_id % ${strideSql("ve")} = 0),
        a0 AS (${assign("ve", "cents0")}),
        dims AS (
          SELECT cell, t.pos AS pos, v[t.pos] AS x
          FROM a0, generate_series(1, 64) AS t(pos)),
        means AS (
          SELECT cell, pos,
            CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean
          FROM dims GROUP BY cell, pos),
        cents1 AS (
          SELECT cell AS cent_id, list(mean ORDER BY pos) AS centv
          FROM means GROUP BY cell),
        a1 AS (${assign("ve", "cents1")}),
        q AS (SELECT vec_id AS query_id, v AS qv, cell FROM a1 WHERE vec_id < 8),
        c AS (SELECT vec_id AS corpus_id, v AS cv, cell FROM a1),
        scored AS (
          SELECT query_id, corpus_id, c.cell AS cell,
            ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c JOIN q ON c.cell = q.cell
          WHERE query_id <> corpus_id),
        ranked AS (
          SELECT query_id, corpus_id, cell, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, rnk, corpus_id, cell, cosine_sim FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk"""
  }

  /** c104 mirror: c7b's IVF chain with the assignment CTE computed
    * ONCE and probed by three query batches — SQL's natural form of
    * the served index. batch_lo = (query_id div 8)·8 labels each
    * batch ([0,8), [8,16), [16,24)). */
  private def c104OracleSql: String =
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM ve WHERE vec_id % ${strideSql("ve")} = 0),
        assigned AS (
          SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM ve CROSS JOIN cents)
          WHERE rn = 1),
        q AS (SELECT (vec_id // 8) * 8 AS batch_lo, vec_id AS query_id,
                v AS qv, cell
              FROM assigned WHERE vec_id < 24),
        c AS (SELECT vec_id AS corpus_id, v AS cv, cell FROM assigned),
        scored AS (
          SELECT batch_lo, query_id, corpus_id, c.cell AS cell,
            ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c JOIN q ON c.cell = q.cell
          WHERE query_id <> corpus_id),
        ranked AS (
          SELECT batch_lo, query_id, corpus_id, cell, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT batch_lo, query_id, rnk, corpus_id, cell, cosine_sim
        FROM ranked WHERE rnk <= 5 ORDER BY batch_lo, query_id, rnk"""

  /** c106 mirror: the ONE-SHOT form of streamed index maintenance —
    * centroids seeded from the BASE corpus only (vec_id % 4 <> 3,
    * stride from ITS count), the FULL corpus assigned to them
    * (appends land in existing cells, exactly what appendToIndex
    * does), probed as stage 'appended'; then one decimal-exact Lloyd
    * step over that assignment and a re-probe as stage 'refined'
    * (refineServed's compaction). A hash match proves the streamed
    * two-batch append path equals this one-shot rebuild. */
  private def c106OracleSql: String = {
    def assign(src: String, cents: String): String =
      s"""SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM $src CROSS JOIN $cents)
          WHERE rn = 1"""
    def probe(stage: String, a: String): String =
      s"""SELECT '$stage' AS stage, query_id, corpus_id, cell, cosine_sim FROM (
            SELECT q.query_id, c.vec_id AS corpus_id, c.cell AS cell,
              ${cosineSql("q.qv", "c.v", 4)} AS cosine_sim
            FROM $a c JOIN
              (SELECT vec_id AS query_id, v AS qv, cell FROM $a
               WHERE vec_id < 8) q
              ON c.cell = q.cell
            WHERE q.query_id <> c.vec_id)"""
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        vb AS (SELECT * FROM ve WHERE vec_id % 4 <> 3),
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM vb
                  WHERE vec_id % ${strideSql("vb")} = 0),
        a0 AS (${assign("ve", "cents")}),
        dims AS (
          SELECT cell, t.pos AS pos, v[t.pos] AS x
          FROM a0, generate_series(1, 64) AS t(pos)),
        means AS (
          SELECT cell, pos,
            CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean
          FROM dims GROUP BY cell, pos),
        cents1 AS (
          SELECT cell AS cent_id, list(mean ORDER BY pos) AS centv
          FROM means GROUP BY cell),
        a1 AS (${assign("ve", "cents1")}),
        scored AS (${probe("appended", "a0")} UNION ALL ${probe("refined", "a1")}),
        ranked AS (
          SELECT stage, query_id, corpus_id, cell, cosine_sim,
            row_number() OVER (PARTITION BY stage, query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT stage, query_id, rnk, corpus_id, cell, cosine_sim
        FROM ranked WHERE rnk <= 5 ORDER BY stage, query_id, rnk"""
  }

  /** Shared mirror of the int8 store: quantize (c24's expression) then
    * dequantize to code/127.0 doubles. */
  private def deqSql: String =
    """dq AS (SELECT vec_id, list_transform(embedding,
         x -> CAST(round(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127)
           AS DOUBLE) / 127.0) AS v
       FROM embeddings)"""

  /** c89 mirror: the c7b IVF chain, run over the dequantized codes. */
  private def c89OracleSql: String =
    s"""WITH $deqSql,
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM dq WHERE vec_id % ${strideSql("dq")} = 0),
        assigned AS (
          SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM dq CROSS JOIN cents)
          WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv, cell FROM assigned WHERE vec_id < 8),
        c AS (SELECT vec_id AS corpus_id, v AS cv, cell FROM assigned),
        scored AS (
          SELECT query_id, corpus_id, c.cell AS cell,
            ${cosineSql("qv", "cv", 4)} AS cosine_sim
          FROM c JOIN q ON c.cell = q.cell
          WHERE query_id <> corpus_id),
        ranked AS (
          SELECT query_id, corpus_id, cell, cosine_sim,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, corpus_id) AS rnk
          FROM scored)
        SELECT query_id, rnk, corpus_id, cell, cosine_sim FROM ranked
        WHERE rnk <= 5 ORDER BY query_id, rnk"""

  /** c65 mirror: the three searches as CTEs, then two audit rows. */
  private def c65OracleSql: String =
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q0 AS (SELECT vec_id AS query_id, v AS qv FROM ve WHERE vec_id < 8),
        ex_scored AS (
          SELECT query_id, vec_id AS corpus_id,
            ${cosineSql("qv", "v", 4)} AS cs
          FROM ve CROSS JOIN q0 WHERE query_id <> vec_id),
        exact AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, corpus_id) AS rnk
            FROM ex_scored) WHERE rnk <= 5),
        ${npCteSql("ve")},
        b AS MATERIALIZED (SELECT vec_id, v, $bucketSql AS bucket FROM ve, np),
        lq0 AS (SELECT vec_id AS query_id, bucket, v AS qv FROM b WHERE vec_id < 8),
        ${probeCtesSql("lq0", "lqf", "lq")},
        l_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM b c JOIN lq ON c.bucket = lq.pbucket
          WHERE query_id <> c.vec_id),
        lsh AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, corpus_id) AS rnk
            FROM l_scored) WHERE rnk <= 5),
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM ve WHERE vec_id % ${strideSql("ve")} = 0),
        assigned AS (
          SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM ve CROSS JOIN cents)
          WHERE rn = 1),
        iq AS (SELECT vec_id AS query_id, v AS qv, cell FROM assigned WHERE vec_id < 8),
        i_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM assigned c JOIN iq ON c.cell = iq.cell
          WHERE query_id <> c.vec_id),
        ivf AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, corpus_id) AS rnk
            FROM i_scored) WHERE rnk <= 5),
        $deqSql,
        qcents AS (SELECT vec_id AS cent_id, v AS centv FROM dq WHERE vec_id % ${strideSql("dq")} = 0),
        qassigned AS (
          SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM dq CROSS JOIN qcents)
          WHERE rn = 1),
        qiq AS (SELECT vec_id AS query_id, v AS qv, cell FROM qassigned WHERE vec_id < 8),
        qi_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM qassigned c JOIN qiq ON c.cell = qiq.cell
          WHERE query_id <> c.vec_id),
        ivf8 AS (
          SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, corpus_id) AS rnk
            FROM qi_scored) WHERE rnk <= 5),
        audit AS (
          SELECT 'ivf' AS method,
            (SELECT count(*) FROM exact) AS n_exact,
            (SELECT count(*) FROM exact e JOIN ivf a
              ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id) AS n_hit
          UNION ALL
          SELECT 'ivf_int8' AS method,
            (SELECT count(*) FROM exact) AS n_exact,
            (SELECT count(*) FROM exact e JOIN ivf8 a
              ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id) AS n_hit
          UNION ALL
          SELECT 'lsh' AS method,
            (SELECT count(*) FROM exact) AS n_exact,
            (SELECT count(*) FROM exact e JOIN lsh a
              ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id) AS n_hit)
        SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
          CAST(n_hit AS BIGINT) AS n_hit,
          CASE WHEN n_exact > 0 THEN n_hit * 1000000 // n_exact
            ELSE 0 END AS recall_ppm
        FROM audit ORDER BY method"""

  /** c65b mirror: the planted corpus + four searches as CTEs, then
    * four audit rows carrying both recall lines. */
  private def c65bOracleSql: String = {
    def assign(src: String, cents: String): String =
      s"""SELECT vec_id, v, cent_id AS cell FROM (
            SELECT vec_id, v, cent_id,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY ${cosineSql("v", "centv", 4)} DESC, cent_id) AS rn
            FROM $src CROSS JOIN $cents)
          WHERE rn = 1"""
    def topk(scored: String): String =
      s"""SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, corpus_id) AS rnk
            FROM $scored) WHERE rnk <= 5"""
    def auditRow(method: String, tbl: String): String =
      s"""SELECT '$method' AS method,
            (SELECT count(*) FROM exact) AS n_exact,
            (SELECT count(*) FROM exact e JOIN $tbl a
              ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id) AS n_hit,
            (SELECT count(*) FROM $tbl
              WHERE corpus_id = query_id - 1000000) AS n_src_hit"""
    // the declared query sample: sources at stride 40*max(1, N/2000) —
    // all planted copies at driver scales, ~50 queries past them
    val qsampleSql =
      "(vec_id - 1000000) % (40 * greatest(1, (SELECT count(*) FROM ve) // 2000)) = 0"
    s"""WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pv AS MATERIALIZED (SELECT vec_id, v FROM ve
               UNION ALL
               SELECT vec_id + 1000000 AS vec_id,
                 list_transform(v, x -> x + 0.02) AS v
               FROM ve WHERE vec_id % 40 = 0),
        q0 AS (SELECT vec_id AS query_id, v AS qv FROM pv
               WHERE vec_id >= 1000000 AND $qsampleSql),
        ex_scored AS (
          SELECT query_id, vec_id AS corpus_id,
            ${cosineSql("qv", "v", 4)} AS cs
          FROM pv CROSS JOIN q0 WHERE query_id <> vec_id),
        exact AS (${topk("ex_scored")}),
        ${npCteSql("pv")},
        b AS MATERIALIZED (SELECT vec_id, v, $bucketSql AS bucket FROM pv, np),
        lq0 AS (SELECT vec_id AS query_id, bucket, v AS qv FROM b
                WHERE vec_id >= 1000000 AND $qsampleSql),
        ${probeCtesSql("lq0", "lqf", "lq")},
        l_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM b c JOIN lq ON c.bucket = lq.pbucket
          WHERE query_id <> c.vec_id),
        lsh AS (${topk("l_scored")}),
        cents AS (SELECT vec_id AS cent_id, v AS centv FROM pv
                  WHERE vec_id % ${strideSql("pv")} = 0),
        assigned AS (${assign("pv", "cents")}),
        iq AS (SELECT vec_id AS query_id, v AS qv, cell FROM assigned
               WHERE vec_id >= 1000000 AND $qsampleSql),
        i_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM assigned c JOIN iq ON c.cell = iq.cell
          WHERE query_id <> c.vec_id),
        ivf AS (${topk("i_scored")}),
        dims AS (
          SELECT cell, t.pos AS pos, v[t.pos] AS x
          FROM assigned, generate_series(1, 64) AS t(pos)),
        means AS (
          SELECT cell, pos,
            CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean
          FROM dims GROUP BY cell, pos),
        cents1 AS (
          SELECT cell AS cent_id, list(mean ORDER BY pos) AS centv
          FROM means GROUP BY cell),
        a1 AS (${assign("pv", "cents1")}),
        tq AS (SELECT vec_id AS query_id, v AS qv, cell FROM a1
               WHERE vec_id >= 1000000 AND $qsampleSql),
        t_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM a1 c JOIN tq ON c.cell = tq.cell
          WHERE query_id <> c.vec_id),
        ivft AS (${topk("t_scored")}),
        pdq AS (SELECT vec_id, list_transform(v,
            x -> CAST(round(greatest(least(x, 1.0), -1.0) * 127) AS DOUBLE)
              / 127.0) AS v
          FROM pv),
        qcents AS (SELECT vec_id AS cent_id, v AS centv FROM pdq
                   WHERE vec_id % ${strideSql("pdq")} = 0),
        qassigned AS (${assign("pdq", "qcents")}),
        qiq AS (SELECT vec_id AS query_id, v AS qv, cell FROM qassigned
                WHERE vec_id >= 1000000 AND $qsampleSql),
        qi_scored AS (
          SELECT query_id, c.vec_id AS corpus_id,
            ${cosineSql("qv", "c.v", 4)} AS cs
          FROM qassigned c JOIN qiq ON c.cell = qiq.cell
          WHERE query_id <> c.vec_id),
        ivf8 AS (${topk("qi_scored")}),
        nq AS (SELECT count(*) AS n FROM q0),
        audit AS (
          ${auditRow("ivf", "ivf")}
          UNION ALL ${auditRow("ivf_int8", "ivf8")}
          UNION ALL ${auditRow("ivf_trained", "ivft")}
          UNION ALL ${auditRow("lsh", "lsh")})
        SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
          CAST(n_hit AS BIGINT) AS n_hit,
          CASE WHEN n_exact > 0 THEN n_hit * 1000000 // n_exact
            ELSE 0 END AS recall_ppm,
          CAST((SELECT n FROM nq) AS BIGINT) AS n_q,
          CAST(n_src_hit AS BIGINT) AS n_src_hit,
          CASE WHEN (SELECT n FROM nq) > 0
            THEN n_src_hit * 1000000 // (SELECT n FROM nq)
            ELSE 0 END AS src_recall_ppm
        FROM audit ORDER BY method"""
  }

  private[graft] def markersIn(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString("(", ", ", ")")

  private def c8OracleSql: String = {
    val hits = TextAnalysis.langMarkers.map { case (l, ms) =>
      s"len(list_filter(tk, t -> t IN ${markersIn(ms)})) AS hits_$l"
    }.mkString(", ")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val pred = langs.map(l =>
      s"WHEN hits_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
        h AS (SELECT doc_id, $hits FROM t),
        hb AS (SELECT *, $best AS best FROM h)
        SELECT doc_id, CASE $pred ELSE 'unknown' END AS lang_pred,
          ${langs.map(l => s"hits_$l").mkString(", ")}
        FROM hb ORDER BY doc_id"""
  }

  private def c9OracleSql: String = {
    val stopSet = markersIn(TextAnalysis.langMarkers.flatMap(_._2).distinct)
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
        m AS (SELECT doc_id,
          length(text) AS n_chars,
          len(tk) AS n_tokens,
          length(regexp_replace(text, '\\s', '', 'g')) AS non_ws,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_n,
          len(list_filter(tk, t -> t IN $stopSet)) AS stop_hits
          FROM t),
        r AS (SELECT doc_id, n_chars, n_tokens,
          CASE WHEN n_tokens > 0
            THEN CAST(round(non_ws * 10000.0 / n_tokens) AS BIGINT) ELSE 0 END AS mtl4,
          CASE WHEN n_chars > 0
            THEN CAST(round(punct_n * 1000000.0 / n_chars) AS BIGINT) ELSE 0 END AS pr6,
          CASE WHEN n_tokens > 0
            THEN CAST(round(stop_hits * 1000000.0 / n_tokens) AS BIGINT) ELSE 0 END AS sr6,
          least(CAST(n_tokens AS BIGINT) * 10000, 1000000) AS ls6
          FROM m)
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(n_tokens AS BIGINT) AS n_tokens,
          mtl4 / 10000.0 AS mean_token_len,
          pr6 / 1000000.0 AS punct_ratio,
          sr6 / 1000000.0 AS stopword_ratio,
          ((2 * ls6 + (1000000 - pr6) + least(5 * sr6, 1000000)) + 2) // 4
            / 1000000.0 AS quality_score
        FROM r ORDER BY doc_id"""
  }

  private def c10OracleSql: String =
    s"""SELECT doc_id,
        len($toksSql) AS ws_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents ORDER BY doc_id"""

  private def c11OracleSql: String =
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
        g AS (SELECT doc_id, text, ${ngramsSql(5)} AS sh FROM t)
        SELECT doc_id,
          md5($normTextSql) AS fp_md5,
          list_min(list_transform(sh, s -> md5(s))) AS fp_minshingle,
          CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
        FROM g ORDER BY doc_id"""

  /** The mirror computes metadata from the SYNTHESIS formulas (payload
    * length arithmetic) while Spark reads the same values back out of
    * the real PNG/JPEG header bytes it wrapped the payload in — a
    * parse bug on the Spark side breaks this row instead of cancelling
    * out. byte_len includes the container header: 33 bytes of
    * PNG signature+IHDR (even ids) or 21 of JPEG SOI+SOF0 (odd). */
  private def c12OracleSql: String =
    """SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS media_kind,
       strlen(text) + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 21 END
         AS byte_len,
       strlen(text) % 640 + 1 AS width,
       strlen(text) * 7 % 480 + 1 AS height,
       8 AS bit_depth,
       3 AS channels,
       strlen(text) % 16 + 1 AS n_frames,
       md5(text) AS feature_md5
       FROM documents ORDER BY doc_id"""

  /** Closed-form mirror of the decoded pixel sums: sample k of a (w,h)
    * test PNG is (k + w + 7h) mod 256 — consecutive residues mod 256 —
    * so Σ and Σ² decompose into full 256-cycles (32640 / 5559680 each)
    * plus a wrap-split partial from offset o = (w+7h) mod 256, with
    * S2(m) = Σ_{v<m} v² = (m−1)m(2m−1)/6. The oracle never touches
    * PNG bytes: Spark must REACH these numbers through CRC walk +
    * inflate + unfilter, so the equality IS the decode proof. */
  private def c105OracleSql: String =
    """WITH d AS (
         SELECT doc_id AS media_id,
           CAST(strlen(text) % 64 + 1 AS BIGINT) AS width,
           CAST(strlen(text) * 7 % 48 + 1 AS BIGINT) AS height
         FROM documents),
       p AS (
         SELECT media_id, width, height,
           width * height * 3 AS n_samples,
           (width + 7 * height) % 256 AS o,
           (width * height * 3) // 256 AS cyc,
           (width * height * 3) % 256 AS r
         FROM d),
       q AS (
         SELECT *, least(r, 256 - o) AS a FROM p)
       SELECT media_id, width, height, n_samples,
         cyc * 32640 + a * o + a * (a - 1) // 2 +
           CASE WHEN r > a THEN (r - a) * (r - a - 1) // 2 ELSE 0 END
           AS pixel_sum,
         cyc * 5559680 +
           ((o + a - 1) * (o + a) * (2 * (o + a) - 1)) // 6 -
           ((o - 1) * o * (2 * o - 1)) // 6 +
           CASE WHEN r > a THEN
             ((r - a - 1) * (r - a) * (2 * (r - a) - 1)) // 6 ELSE 0 END
           AS pixel_sq_sum
       FROM q ORDER BY media_id"""

  val registry: Seq[Q] = Seq(
    Q("c1_dedup_exact", c1DedupExact,
      s"""WITH $exactCorpusSql
          SELECT md5($normTextSql) AS fp_md5,
            min(doc_id) AS keep_id, count(*) AS n_docs
          FROM corpus GROUP BY fp_md5 ORDER BY fp_md5"""),
    Q("c2_dedup_minhash", c2DedupMinhash, c2OracleSql),
    Q("c3_dedup_simhash", c3DedupSimhash, c3OracleSql),
    Q("c4_ngram_jaccard", c4NgramJaccard, c4OracleSql),
    Q("c5_embed_neardup", c5EmbedNeardup, c5OracleSql),
    Q("c6_ann_topk", c6AnnTopK, c6OracleSql),
    Q("c7_ann_lsh", c7AnnLsh, c7OracleSql),
    Q("c7b_ann_ivf", c7bAnnIvf, c7bOracleSql),
    Q("c7c_ann_ivf_trained", c7cAnnIvfTrained, c7cOracleSql),
    Q("c89_ann_int8", c89AnnInt8, c89OracleSql),
    Q("c65_ann_recall", c65AnnRecall, c65OracleSql),
    Q("c65b_ann_recall_planted", c65bAnnRecallPlanted, c65bOracleSql),
    Q("c104_served_ann", c104ServedAnn, c104OracleSql),
    Q("c106_index_append", c106IndexAppend, c106OracleSql),
    Q("c8_lang_id", c8LangId, c8OracleSql),
    Q("c9_quality", c9Quality, c9OracleSql),
    Q("c10_token_count", c10TokenCount, c10OracleSql),
    Q("c11_fingerprint", c11Fingerprint, c11OracleSql),
    Q("c12_multimodal", c12Multimodal, c12OracleSql),
    Q("c105_png_pixels", c105PngPixels, c105OracleSql),
    Q("c13_sample", c13Sample,
      """WITH r AS (
           SELECT event_type, event_id, md5(CAST(event_id AS VARCHAR)) AS h,
             row_number() OVER (PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
           FROM events)
         SELECT event_type, rn, event_id
         FROM r WHERE rn <= 5 ORDER BY event_type, rn"""),
    Q("c19_dup_clusters", c19DupClusters, c19OracleSql),
    Q("c26_line_dedup", c26LineDedup,
      s"""WITH $corpusSql,
          t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
          c AS (
            SELECT doc_id, tk,
              unnest(generate_series(0, CAST((len(tk) - 1) // 10 AS BIGINT)))
                AS line_id
            FROM t WHERE len(tk) > 0),
          l AS (
            SELECT doc_id,
              md5(array_to_string(
                list_slice(tk, line_id * 10 + 1, line_id * 10 + 10), ' ')) AS h
            FROM c),
          occ AS (SELECT h, count(*) AS n_occ FROM l GROUP BY h),
          d AS (
            SELECT l.doc_id, count(*) AS n_lines,
              CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_lines
            FROM l JOIN occ USING (h) GROUP BY l.doc_id)
          SELECT doc_id, n_lines, n_dup_lines,
            CAST(floor(n_dup_lines * 1000000.0 / n_lines) AS BIGINT)
              AS dup_line_ratio_micro
          FROM d ORDER BY doc_id""")
  )

  /** The shared recursive-CTE chain: LSH-chain pairs (band candidates
    * ∩ jaccard-verified, same definition c2 emits) → min-label
    * reachability fixpoint → `cl(doc_id, cluster)`. Docs with no
    * near-dup don't appear in `cl` (callers left-join + coalesce). */
  private[graft] def clusterCteSql: String =
    s"""$corpusSql,
        toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
        shd AS (SELECT doc_id, list_distinct(${ngramsSql(5)}) AS shs FROM toks),
        ${minhashSigSql(8)},
        ${bandedSql(4, 2)},
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        ${jaccardSql(0.5)},
        pairs AS (
          SELECT c.id1, c.id2 FROM cand c
          JOIN verified v ON c.id1 = v.id1 AND c.id2 = v.id2),
        edges AS (
          SELECT id1 AS a, id2 AS b FROM pairs
          UNION SELECT id2, id1 FROM pairs),
        reach(n, m) AS (
          SELECT a, a FROM edges
          UNION
          SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
        cl AS (SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n)"""

  /** Recursive-CTE fixpoint of min-label reachability over the same
    * LSH-chain pairs c2 emits (band candidates ∩ jaccard-verified). */
  private def c19OracleSql: String =
    s"""WITH RECURSIVE $clusterCteSql
        SELECT doc_id, cluster FROM cl ORDER BY doc_id"""
}
