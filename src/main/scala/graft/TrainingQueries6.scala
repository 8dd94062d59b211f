package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.sources.Tables

/** C-series round 5, corpus-curation batch (SURVEY §2C, C51-C54):
  * cross-source contamination matrix, variance-aware
  * (Neyman-allocation) stratified sampling, marginal gram coverage,
  * and split-distribution drift — the corpus-level curation reports
  * next to c48's dataset card.
  *
  * Scale notes (graded): c51 groups the corpus's distinct
  * (source, shingle) pairs BY SHINGLE and emits ≤ C(|sources|, 2)
  * pair rows per shingle — the quadratic shingle×shingle self-join a
  * naive overlap computation would shuffle never happens; everything
  * after the one grouped exchange is |sources|²-sized and broadcast.
  * c52's stratum statistics are one map-side-combined aggregation
  * (integral sufficient statistics); the allocation math is
  * |strata|-sized; the sample selection is one keyed rank window.
  */
object TrainingQueries6 {

  /** C51: cross-source contamination matrix — word-5-gram Jaccard and
    * overlap coefficient between every source pair (the "is Common
    * Crawl leaking into the curated split?" report). Distinct
    * (source, gram) first; then each gram's sorted source-set emits
    * its pairs directly — no gram-keyed self-join. Zero-overlap pairs
    * stay in the output (LEFT join from the full pair grid). */
  private def c51SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: collect_set dedups (no separate distinct
    // exchange), and the per-source gram counts derive from the same
    // per-gram source-sets (explode of |sources|-sized arrays), so the
    // corpus is never re-scanned for the margins. Persisted because
    // both the counts and the pair emission read it.
    val sets = Tables(s, dir, "documents")
      .select(col("source"),
        explode(Fns.wordNGrams(Fns.tokens(col("text")), 5)).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .persist()
    val counts = sets.select(explode(col("ss")).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val inter = sets
      // codegen'd single-pass pair enumeration (r13): same pairs, same
      // order as the composed flatten/transform/slice HOF form, without
      // its interpreted lambda frames (PropertySpec pins equality)
      .select(explode(Fns.upperTrianglePairs(col("ss"))).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val a = counts.select(col("source").as("source_a"),
      col("n_grams").as("grams_a"))
    val b = counts.select(col("source").as("source_b"),
      col("n_grams").as("grams_b"))
    // |sources|² rows: self-releasing (the c65b pattern) — the gram
    // source-set cache never outlives this query
    TrainingQueries.materialized(s,
      a.crossJoin(b).filter(col("source_a") < col("source_b"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .select(col("source_a"), col("source_b"), col("grams_a"),
          col("grams_b"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("grams_a") + col("grams_b") - col("n_common")).cast("double"),
            6).as("jaccard"),
          round(col("n_common").cast("double") /
            least(col("grams_a"), col("grams_b")).cast("double"), 6)
            .as("overlap_coef"))
        .orderBy(col("source_a"), col("source_b")),
      sets)
  }

  /** C52: Neyman-allocation stratified sampling — a 1000-doc budget
    * split across (lang, source) strata ∝ N_h·S_h (population × char
    * std-dev: high-variance strata get more), then a deterministic
    * md5-ranked draw per stratum. The allocation is ulp-proof: S_h
    * finalizes from integral sufficient statistics (identical IEEE
    * bits on any engine), each weight quantizes to an integer BEFORE
    * the cross-strata total, so no float-sum ordering can flip a
    * floor. */
  private def c52Stratified(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val stats = Tables(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_pop"),
        sum(col("n_chars")).as("sc"),
        sum(col("n_chars") * col("n_chars")).as("qc"))
    val varS = (col("qc").cast("double") -
      col("sc").cast("double") * col("sc").cast("double") /
        col("n_pop").cast("double")) /
      (col("n_pop").cast("double") - 1.0)
    val alloc = stats
      .withColumn("sd", when(col("n_pop") > 1 && varS > 0, sqrt(varS))
        .otherwise(0.0))
      .withColumn("w_int",
        floor(col("n_pop").cast("double") * col("sd") * 10000.0).cast("long"))
      .withColumn("w_total",
        sum(col("w_int")).over(Window.partitionBy()))
      .withColumn("alloc", // w_total=0 iff every stratum is degenerate
        when(col("w_total") > 0, expr(s"$budget * w_int div w_total"))
          .otherwise(lit(0L)))
    val ranked = Tables(s, dir, "documents")
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
    val sampled = ranked
      .join(broadcast(alloc.select(col("lang"), col("source"), col("alloc"))),
        Seq("lang", "source"))
      .filter(col("rn") <= col("alloc"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sample_chars"))
    alloc.join(sampled, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_pop"),
        round(col("sd"), 4).as("sd_chars"), col("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        round(col("sample_chars").cast("double") /
          col("n_sampled").cast("double"), 4).as("mean_chars_sampled"))
      .orderBy(col("lang"), col("source"))
  }

  /** C53: marginal gram coverage — adding sources in name order, how
    * many NEW distinct 5-grams does each contribute (the "what does
    * this source actually add?" acquisition report)? Each gram
    * attributes to its FIRST source (min over the gram's set); the
    * cumulative curve finalizes over |sources| rows. Same single
    * gram-keyed exchange as c51 (min instead of collect_set). */
  private def c53MarginalCoverage(s: SparkSession, dir: String): DataFrame = {
    val firsts = Tables(s, dir, "documents")
      .select(col("source"),
        explode(Fns.wordNGrams(Fns.tokens(col("text")), 5)).as("g"))
      .groupBy(col("g"))
      .agg(min(col("source")).as("first_source"))
      .groupBy(col("first_source"))
      .agg(count(lit(1)).as("n_new_grams"))
    firsts
      .withColumn("cum_grams", sum(col("n_new_grams")).over(
        Window.partitionBy().orderBy(col("first_source"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("first_source").as("source"), col("n_new_grams"),
        col("cum_grams"))
      .orderBy(col("source"))
  }

  /** C54: token-distribution drift between the train and valid splits
    * (c20's md5 thresholds) — symmetric KL over add-one-smoothed
    * unigram distributions on the JOINT vocabulary: the distribution
    * shift check run before shipping a split. One token-keyed
    * exchange (map-side combined counts); the KL sum finalizes over
    * |vocab| smoothed cells; integer counts everywhere until the
    * final log-sum. */
  private def c54SplitDrift(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.operators.Splitter.hashSplit(
      Tables(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val counts = sp.filter(col("split").isin("train", "valid"))
      .select(col("split"), explode(Fns.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
        sum(when(col("split") === "valid", 1L).otherwise(0L)).as("cv"))
    val agg = counts.groupBy()
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("ct")).as("n_train_tokens"),
        sum(col("cv")).as("n_valid_tokens"),
        // Σ (c+1)·ln(c+1) and cross terms; normalizers factor out of
        // the sums and finalize once below
        sum((col("ct") + 1L).cast("double") *
          log((col("ct") + 1L).cast("double") /
            (col("cv") + 1L).cast("double"))).as("tlog"),
        sum((col("cv") + 1L).cast("double") *
          log((col("cv") + 1L).cast("double") /
            (col("ct") + 1L).cast("double"))).as("vlog"))
    val nt = (col("n_train_tokens") + col("vocab_size")).cast("double")
    val nv = (col("n_valid_tokens") + col("vocab_size")).cast("double")
    agg.select(col("vocab_size"), col("n_train_tokens"),
      col("n_valid_tokens"),
      round(col("tlog") / nt + log(nv / nt), 6).as("kl_train_valid"),
      round(col("vlog") / nv + log(nt / nv), 6).as("kl_valid_train"))
  }

  /** C56: readability scoring (Flesch reading-ease, the vowel-group
    * syllable approximation) rolled up per (lang, source) — the
    * curriculum/difficulty signal next to c9's quality gates. Pure
    * row-local regexp counting (words = tokens, sentences = [.!?]
    * runs, syllables = [aeiouy]+ runs), one aggregation exchange;
    * sentence-less docs are excluded and counted. */
  private def c56Readability(s: SparkSession, dir: String): DataFrame = {
    val lowered = lower(trim(col("text")))
    val words = size(Fns.tokens(col("text")))
    val sents = size(regexp_extract_all(lowered, lit("[.!?]+"), lit(0)))
    val sylls = size(regexp_extract_all(lowered, lit("[aeiouy]+"), lit(0)))
    val scored = Tables(s, dir, "documents")
      .select(col("lang"), col("source"), words.as("w"), sents.as("st"),
        sylls.as("sy"))
      .withColumn("fre",
        when(col("st") > 0 && col("w") > 0,
          lit(206.835) -
            lit(1.015) * col("w").cast("double") / col("st").cast("double") -
            lit(84.6) * col("sy").cast("double") / col("w").cast("double")))
    scored.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fre").isNull, 1L).otherwise(0L)).as("n_unscored"),
        round(avg(col("fre")), 4).as("mean_fre"),
        sum(when(col("fre") >= 60.0, 1L).otherwise(0L)).as("n_easy"))
      .orderBy(col("lang"), col("source"))
  }

  /** C57: lexical diversity per source — type-token ratio and hapax
    * share over word unigrams (the vocabulary-health numbers a corpus
    * card quotes next to c48's volume stats): one token-keyed
    * exchange of (source, token) counts, |vocab|-row finalization;
    * ratios in exact ppm (integer div) so no float leaves the
    * engine. */
  private def c57LexicalDiversity(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("source"), explode(Fns.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("vocab * 1000000 div n_tokens").as("ttr_ppm"),
        expr("hapax * 1000000 div vocab").as("hapax_ppm"))
      .orderBy(col("source"))

  /** C58: cross-lingual contamination — the same normalized text
    * appearing under MULTIPLE language labels (mislabeled or
    * machine-copied docs, the classic lang-ID pollution). The corpus
    * plants pseudo-translations (every 9th doc re-labeled 'xx', the
    * c4-style planted-positive convention); detection groups by
    * md5(normalized text) — bounded key, one exchange — and each
    * hash's sorted lang-set emits pairs like c51. */
  private def c58CrossLingual(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("xx").as("lang"), col("text")))
    planted
      .select(col("lang"), md5(Fns.normText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("lang"))).as("ls"))
      .filter(size(col("ls")) > 1)
      // codegen'd single-pass pair enumeration (r13, see c51 above)
      .select(explode(Fns.upperTrianglePairs(col("ls"))).as("p"))
      .groupBy(col("p.a").as("lang_a"), col("p.b").as("lang_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** C59: boilerplate share — disjoint 10-token chunks ("lines")
    * repeating across ≥2 docs of a source (headers/footers/nav the
    * corpus should shed before training). One chunk-keyed exchange of
    * (source, chunk, doc) rows; all ratios exact ppm integer
    * division. Full chunks only; the sequence guard matters: Spark's
    * sequence(1,0) counts DOWN, so short docs must short-circuit to an
    * empty array explicitly. */
  private def c59Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val chunksExpr = expr(
      """CASE WHEN size(tk) >= 10
           THEN transform(sequence(1, size(tk) div 10),
             i -> array_join(slice(tk, (i - 1) * 10 + 1, 10), ' '))
           ELSE array() END""")
    val occ = Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        Fns.tokens(col("text")).as("tk"))
      .select(col("source"), col("doc_id"), explode(chunksExpr).as("chunk"))
    occ.groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("occ"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("doc_freq") >= 2, 1L).otherwise(0L))
          .as("n_boiler_chunks"),
        sum(when(col("doc_freq") >= 2, col("occ")).otherwise(0L))
          .as("boiler_occ"))
      .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
        col("n_boiler_chunks"),
        expr("boiler_occ * 1000000 div n_chunks").as("boiler_ppm"))
      .orderBy(col("source"))
  }

  /** C60: within-doc trigram entropy — each doc's OWN char-trigram
    * distribution's Shannon entropy (low = repetitive/gibberish, the
    * char-level sibling of c23's word repetition), rolled up per
    * source. Trigrams come from the codegen'd CharNGrams native
    * expression (the O(L²) HOF trap documented at Importance.scala);
    * the per-doc entropy is Stats.entropyAgg reused with doc-grain
    * keys — one (doc, tri) exchange, then a |docs|-row rollup. */
  private def c60DocEntropy(s: SparkSession, dir: String): DataFrame = {
    val tris = Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        explode(graft.operators.Importance.charTrigrams(col("text")))
          .as("tri"))
    graft.operators.Stats.entropyAgg(tris, Seq("source", "doc_id"), col("tri"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("entropy_bits")), 4).as("mean_tri_entropy"),
        sum(when(col("entropy_bits") < 6.0, 1L).otherwise(0L))
          .as("n_low_entropy"))
      .orderBy(col("source"))
  }

  /** C61: LSH PRECISION audit — c50's complement: of the banding's
    * candidate pairs (on the planted near-dup corpus), how many verify
    * at J ≥ 0.5? The false-positive rate prices the verify step's
    * wasted work exactly (recall c50 prices the missed pairs).
    * Unfiltered candidates come from Dedup.minHashCandidates — the
    * same banded plan minHashLsh thresholds; shares in exact ppm. */
  private def c61LshPrecision(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minHashCandidates(
        TrainingQueries.corpusWithDups(Tables(s, dir, "documents")),
        "doc_id", "text", n = 5, k = 8, bands = 4)
      .groupBy()
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_verified"))
      .select(col("n_candidates"), col("n_verified"),
        when(col("n_candidates") > 0,
          expr("n_verified * 1000000 div n_candidates"))
          .otherwise(lit(0L)).as("precision_ppm"))

  /** C62: leakage-safe splitting — near-dup CLUSTERS must land in one
    * split (a train doc whose near-twin sits in valid leaks the
    * eval), so every doc splits by its cluster representative's hash
    * (min-label from c19's connected components; singletons by their
    * own id). Reports, per safe split, how many docs the naive
    * per-doc hash would have mis-placed — the quantified leakage the
    * safe split prevents. */
  private def c62LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val corpus = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
    val pairs = graft.operators.Dedup.minHashLsh(corpus, "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    val cl = graft.operators.Dedup.connectedComponents(pairs, "id1", "id2")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val naive = graft.operators.Splitter.hashSplit(
        corpus.select(col("doc_id")), "doc_id", splits)
      .withColumnRenamed("split", "naive_split")
    val labeled = naive
      .join(cl, col("doc_id") === col("node"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
    graft.operators.Splitter.hashSplit(labeled, "rep", splits)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("naive_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy(col("split"))
  }

  /** C63: embedding-table health report per label — vector count,
    * dimension, L2-norm mean/min/max, zero-vector count (the sanity
    * card read before any ANN/centroid work trusts the table). The
    * per-vector norm folds left-to-right in double on both engines
    * (identical IEEE sequence — arrays are ordered), so only the
    * cross-vector mean needs rounding. */
  private def c63EmbeddingHealth(s: SparkSession, dir: String): DataFrame = {
    val norm = sqrt(expr(
      """aggregate(embedding, CAST(0 AS DOUBLE),
           (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""))
    Tables(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"), norm.as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("dim")).as("dim"),
        round(avg(col("norm")), 4).as("mean_norm"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("label"))
  }

  /** C64: OOV rate — the share of the VALID split's token occurrences
    * (and distinct types) missing from the TRAIN split's vocabulary
    * (decontamination's complement: coverage you WANT; high OOV means
    * the split starved a language). Per lang; c20's md5 thresholds;
    * one token-keyed exchange carrying (lang, token) split counts;
    * rates in exact ppm. */
  private def c64OovRate(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.operators.Splitter.hashSplit(
      Tables(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    sp.filter(col("split").isin("train", "valid"))
      .select(col("lang"), col("split"),
        explode(Fns.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
        sum(when(col("split") === "valid", 1L).otherwise(0L)).as("cv"))
      .filter(col("cv") > 0)
      .groupBy(col("lang"))
      .agg(sum(col("cv")).as("n_valid_tokens"),
        count(lit(1)).as("n_valid_types"),
        sum(when(col("ct") === 0, col("cv")).otherwise(0L))
          .as("n_oov_tokens"),
        sum(when(col("ct") === 0, 1L).otherwise(0L)).as("n_oov_types"))
      .select(col("lang"), col("n_valid_tokens"), col("n_valid_types"),
        col("n_oov_tokens"), col("n_oov_types"),
        expr("n_oov_tokens * 1000000 div n_valid_tokens").as("oov_ppm"),
        expr("n_oov_types * 1000000 div n_valid_types")
          .as("oov_type_ppm"))
      .orderBy(col("lang"))
  }

  val registry: Seq[Q] = Seq(
    Q("c64_oov_rate", c64OovRate,
      """WITH sp AS (
           SELECT lang, text,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'e6666666' THEN 'valid'
                  ELSE 'test' END AS split
           FROM documents),
         tk AS (
           SELECT lang, split,
             unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
           FROM sp WHERE split IN ('train', 'valid')),
         c AS (
           SELECT lang, tok,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS ct,
             CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END)
               AS BIGINT) AS cv
           FROM tk GROUP BY 1, 2),
         a AS (
           SELECT lang,
             CAST(sum(cv) AS BIGINT) AS n_valid_tokens,
             count(*) AS n_valid_types,
             CAST(sum(CASE WHEN ct = 0 THEN cv ELSE 0 END) AS BIGINT)
               AS n_oov_tokens,
             CAST(sum(CASE WHEN ct = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov_types
           FROM c WHERE cv > 0 GROUP BY lang)
         SELECT lang, n_valid_tokens, n_valid_types, n_oov_tokens,
           n_oov_types,
           n_oov_tokens * 1000000 // n_valid_tokens AS oov_ppm,
           n_oov_types * 1000000 // n_valid_types AS oov_type_ppm
         FROM a ORDER BY lang"""),
    Q("c63_embedding_health", c63EmbeddingHealth,
      """WITH v AS (
           SELECT CAST(label AS BIGINT) AS label,
             CAST(len(embedding) AS BIGINT) AS dim,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
               x -> x * x))) AS norm
           FROM embeddings)
         SELECT label, count(*) AS n_vecs, max(dim) AS dim,
           round(avg(norm), 4) AS mean_norm,
           round(min(norm), 4) AS min_norm,
           round(max(norm), 4) AS max_norm,
           CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
         FROM v GROUP BY label ORDER BY label"""),
    Q("c62_leakage_safe_split", c62LeakageSafeSplit,
      s"""WITH RECURSIVE ${TrainingQueries.clusterCteSql},
          naive AS (
            SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'cccccccc' THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'valid'
                   ELSE 'test' END AS naive_split
            FROM corpus),
          lab AS (
            SELECT n.doc_id, n.naive_split,
              coalesce(cl.cluster, n.doc_id) AS rep
            FROM naive n LEFT JOIN cl ON n.doc_id = cl.doc_id),
          safe AS (
            SELECT naive_split,
              CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 8)
                     < 'cccccccc' THEN 'train'
                   WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'valid'
                   ELSE 'test' END AS split
            FROM lab)
          SELECT split, count(*) AS n_docs,
            CAST(sum(CASE WHEN naive_split <> split THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved
          FROM safe GROUP BY split ORDER BY split"""),
    Q("c61_lsh_precision", c61LshPrecision,
      s"""WITH ${TrainingQueries.corpusSql},
          toks AS (SELECT doc_id, ${TrainingQueries.toksSql} AS tk
            FROM corpus),
          shd AS (SELECT doc_id,
            list_distinct(${TrainingQueries.ngramsSql(5)}) AS shs
            FROM toks),
          ${TrainingQueries.minhashSigSql(8)},
          ${TrainingQueries.bandedSql(4, 2)},
          cand AS (
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
          ${TrainingQueries.jaccardSql(0.5)},
          a AS (
            SELECT count(*) AS n_candidates,
              CAST(sum(CASE WHEN v.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_verified
            FROM cand c LEFT JOIN verified v
              ON c.id1 = v.id1 AND c.id2 = v.id2)
          SELECT n_candidates, n_verified,
            CASE WHEN n_candidates > 0
              THEN n_verified * 1000000 // n_candidates
              ELSE 0 END AS precision_ppm
          FROM a"""),
    Q("c60_doc_entropy", c60DocEntropy,
      s"""WITH d AS (
            SELECT source, doc_id, ${TrainingQueries.normTextSql} AS s
            FROM documents),
          tris AS (
            SELECT source, doc_id, unnest(CASE WHEN len(s) >= 3
              THEN list_transform(generate_series(1, len(s) - 2),
                     i -> s[i:i+2])
              ELSE [] END) AS tri
            FROM d),
          tc AS (
            SELECT source, doc_id, tri, count(*) AS c
            FROM tris GROUP BY 1, 2, 3),
          de AS (
            SELECT source, doc_id,
              log2(CAST(sum(c) AS DOUBLE))
                - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                  / CAST(sum(c) AS DOUBLE) AS h
            FROM tc GROUP BY 1, 2)
          SELECT source, count(*) AS n_docs,
            round(avg(h), 4) AS mean_tri_entropy,
            CAST(sum(CASE WHEN h < 6.0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_low_entropy
          FROM de GROUP BY source ORDER BY source"""),
    Q("c58_cross_lingual", c58CrossLingual,
      """WITH planted AS (
           SELECT doc_id, lang, text FROM documents
           UNION ALL
           SELECT doc_id + 3000000, 'xx', text FROM documents
           WHERE doc_id % 9 = 0),
         h AS (
           SELECT DISTINCT lang,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
           FROM planted),
         s AS (
           SELECT a.h, a.lang AS la, b.lang AS lb
           FROM h a JOIN h b ON a.h = b.h AND a.lang < b.lang)
         SELECT la AS lang_a, lb AS lang_b, count(*) AS n_shared_texts
         FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("c59_boilerplate", c59Boilerplate,
      """WITH toks AS (
           SELECT source, doc_id,
             regexp_extract_all(lower(trim(text)), '\S+') AS tk
           FROM documents),
         ch AS (
           SELECT source, doc_id,
             unnest(CASE WHEN len(tk) >= 10
               THEN list_transform(generate_series(1, len(tk) // 10),
                 i -> array_to_string(tk[(i-1)*10+1 : (i-1)*10+10], ' '))
               ELSE [] END) AS chunk
           FROM toks),
         g AS (
           SELECT source, chunk, count(*) AS occ,
             count(DISTINCT doc_id) AS doc_freq
           FROM ch GROUP BY 1, 2),
         a AS (
           SELECT source, CAST(sum(occ) AS BIGINT) AS n_chunks,
             count(*) AS n_distinct_chunks,
             CAST(sum(CASE WHEN doc_freq >= 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_boiler_chunks,
             CAST(sum(CASE WHEN doc_freq >= 2 THEN occ ELSE 0 END)
               AS BIGINT) AS boiler_occ
           FROM g GROUP BY source)
         SELECT source, n_chunks, n_distinct_chunks, n_boiler_chunks,
           boiler_occ * 1000000 // n_chunks AS boiler_ppm
         FROM a ORDER BY source"""),
    Q("c56_readability", c56Readability,
      """WITH m AS (
           SELECT lang, source,
             len(regexp_extract_all(lower(trim(text)), '\S+')) AS w,
             len(regexp_extract_all(lower(trim(text)), '[.!?]+')) AS st,
             len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS sy
           FROM documents),
         f AS (
           SELECT lang, source,
             CASE WHEN st > 0 AND w > 0
               THEN 206.835 - 1.015 * CAST(w AS DOUBLE) / st
                 - 84.6 * CAST(sy AS DOUBLE) / w END AS fre
           FROM m)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(CASE WHEN fre IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unscored,
           round(avg(fre), 4) AS mean_fre,
           CAST(sum(CASE WHEN fre >= 60.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy
         FROM f GROUP BY lang, source ORDER BY lang, source"""),
    Q("c57_lexical_diversity", c57LexicalDiversity,
      """WITH tk AS (
           SELECT source,
             unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
           FROM documents),
         c AS (
           SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         a AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax
           FROM c GROUP BY source)
         SELECT source, n_tokens, vocab, hapax,
           vocab * 1000000 // n_tokens AS ttr_ppm,
           hapax * 1000000 // vocab AS hapax_ppm
         FROM a ORDER BY source"""),
    Q("c53_marginal_coverage", c53MarginalCoverage,
      s"""WITH toks AS (
            SELECT source, ${TrainingQueries.toksSql} AS tk FROM documents),
          g AS (
            SELECT source, unnest(${TrainingQueries.ngramsSql(5)}) AS g
            FROM toks),
          f AS (SELECT g, min(source) AS first_source FROM g GROUP BY g),
          c AS (
            SELECT first_source AS source, count(*) AS n_new_grams
            FROM f GROUP BY 1)
          SELECT source, n_new_grams,
            CAST(sum(n_new_grams) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_grams
          FROM c ORDER BY source"""),
    Q("c54_split_drift", c54SplitDrift,
      """WITH sp AS (
           SELECT doc_id, text,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'e6666666' THEN 'valid'
                  ELSE 'test' END AS split
           FROM documents),
         tk AS (
           SELECT split,
             unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
           FROM sp WHERE split IN ('train', 'valid')),
         counts AS (
           SELECT tok,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS ct,
             CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END)
               AS BIGINT) AS cv
           FROM tk GROUP BY tok),
         a AS (
           SELECT count(*) AS vocab_size,
             CAST(sum(ct) AS BIGINT) AS n_train_tokens,
             CAST(sum(cv) AS BIGINT) AS n_valid_tokens,
             sum(CAST(ct + 1 AS DOUBLE)
               * ln(CAST(ct + 1 AS DOUBLE) / CAST(cv + 1 AS DOUBLE)))
               AS tlog,
             sum(CAST(cv + 1 AS DOUBLE)
               * ln(CAST(cv + 1 AS DOUBLE) / CAST(ct + 1 AS DOUBLE)))
               AS vlog
           FROM counts)
         SELECT vocab_size, n_train_tokens, n_valid_tokens,
           round(tlog / (n_train_tokens + vocab_size)
             + ln(CAST(n_valid_tokens + vocab_size AS DOUBLE)
                 / CAST(n_train_tokens + vocab_size AS DOUBLE)), 6)
             AS kl_train_valid,
           round(vlog / (n_valid_tokens + vocab_size)
             + ln(CAST(n_train_tokens + vocab_size AS DOUBLE)
                 / CAST(n_valid_tokens + vocab_size AS DOUBLE)), 6)
             AS kl_valid_train
         FROM a"""),
    Q("c51_source_overlap", c51SourceOverlap,
      s"""WITH toks AS (
            SELECT source, ${TrainingQueries.toksSql} AS tk FROM documents),
          g AS (
            SELECT DISTINCT source, unnest(${TrainingQueries.ngramsSql(5)})
              AS g
            FROM toks),
          cnt AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
          inter AS (
            SELECT x.source AS source_a, y.source AS source_b,
              count(*) AS n_common
            FROM g x JOIN g y ON x.g = y.g AND x.source < y.source
            GROUP BY 1, 2)
          SELECT a.source AS source_a, b.source AS source_b,
            a.n_grams AS grams_a, b.n_grams AS grams_b,
            coalesce(i.n_common, 0) AS n_common,
            round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
              / (a.n_grams + b.n_grams - coalesce(i.n_common, 0)), 6)
              AS jaccard,
            round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
              / least(a.n_grams, b.n_grams), 6) AS overlap_coef
          FROM cnt a JOIN cnt b ON a.source < b.source
          LEFT JOIN inter i
            ON i.source_a = a.source AND i.source_b = b.source
          ORDER BY source_a, source_b"""),
    Q("c52_stratified", c52Stratified,
      """WITH stats AS (
           SELECT lang, source, count(*) AS n_pop,
             CAST(sum(n_chars) AS BIGINT) AS sc,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS qc
           FROM documents GROUP BY 1, 2),
         a AS (
           SELECT lang, source, n_pop,
             CASE WHEN n_pop > 1 AND
               (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                 / CAST(n_pop AS DOUBLE)) / (CAST(n_pop AS DOUBLE) - 1.0) > 0
             THEN sqrt((CAST(qc AS DOUBLE)
               - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                 / CAST(n_pop AS DOUBLE)) / (CAST(n_pop AS DOUBLE) - 1.0))
             ELSE 0.0 END AS sd
           FROM stats),
         w AS (
           SELECT lang, source, n_pop, sd,
             CAST(floor(CAST(n_pop AS DOUBLE) * sd * 10000.0) AS BIGINT)
               AS w_int
           FROM a),
         al AS (
           SELECT lang, source, n_pop, sd,
             CASE WHEN (SELECT sum(w_int) FROM w) > 0
               THEN 1000 * w_int // (SELECT sum(w_int) FROM w)
               ELSE 0 END AS alloc
           FROM w),
         r AS (
           SELECT lang, source, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents),
         sm AS (
           SELECT r.lang, r.source, count(*) AS n_sampled,
             CAST(sum(r.n_chars) AS BIGINT) AS sample_chars
           FROM r JOIN al ON r.lang = al.lang AND r.source = al.source
           WHERE r.rn <= al.alloc
           GROUP BY 1, 2)
         SELECT al.lang, al.source, al.n_pop, round(al.sd, 4) AS sd_chars,
           CAST(al.alloc AS BIGINT) AS alloc,
           coalesce(sm.n_sampled, 0) AS n_sampled,
           round(CAST(sm.sample_chars AS DOUBLE) / sm.n_sampled, 4)
             AS mean_chars_sampled
         FROM al LEFT JOIN sm
           ON al.lang = sm.lang AND al.source = sm.source
         ORDER BY al.lang, al.source""")
  )
}
