package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{Dedup, Splitter, TextAnalysis}
import graft.sources.Tables

/** C-series round 3 (SURVEY §2C, C28-C29): data-mixing weights and the
  * blocklist quality rule — the two remaining staples of a training
  * corpus recipe (multinomial source mixing à la GPT-3/XLM temperature
  * sampling; C4's bad-words filter).
  *
  * Scale notes (graded): c28 is one corpus scan to per-stratum token
  * sums (partial-agg) + arithmetic over one row per stratum; c29 is a
  * pure projection with the term list inlined as a literal array — no
  * joins, no shuffle, nothing grows with corpus size except the scan.
  */
object TrainingQueries3 {

  private val toksSql = """regexp_extract_all(lower(trim(text)), '\S+')"""

  /** C28: temperature-scaled language-mixing weights (α = 0.5, the
    * multilingual "sqrt sampling" recipe): per-lang token totals →
    * w ∝ tokens^α → integer ppm shares. All cross-engine-exact:
    * sqrt/× are single correctly-rounded IEEE ops, weights land as
    * micro-unit BIGINTs, and the ppm share is integer division over
    * the exact integer weight total. */
  private def c28MixWeights(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan → per-lang token sums; the grand total is a
    // window over the aggregated frame (one row per lang — a
    // single-partition window over |langs| rows, never over the
    // corpus; a second agg branch would rescan all of documents).
    val strata = Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Fns.tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("w_micro",
        round(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    strata
      .withColumn("tot_w", sum(col("w_micro")).over(all).cast("long"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("w_micro"),
        expr("(w_micro * CAST(1000000 AS BIGINT)) div tot_w").as("share_ppm"))
      .orderBy(col("lang"))
  }

  /** C29: C4-style blocklist rule over the synthetic corpus — three
    * terms spanning the frequency range ("slow" ~common, "big" ~common,
    * "dup" rare) so counts, distinct counts, and the flag all vary. */
  private def c29Blocklist(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("slow", "big", "dup")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), Fns.tokens(col("text")).as("_toks"))
    val cols = TextAnalysis.blocklistCols(col("_toks"), terms)
      .map { case (n, c) => c.as(n) }
    docs.select(col("doc_id") +: cols: _*).orderBy(col("doc_id"))
  }

  /** C30: exact-substring duplication signal (ES-dedup, Lee et al.
    * 2021) over the planted-dup corpus — sliding 10-token windows,
    * fraction duplicated anywhere in the corpus. The planted tails
    * and verbatim copies give real signal at every SF. */
  private def c30SubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupStats(
        TrainingQueries.corpusWithDups(Tables(s, dir, "documents")),
        "doc_id", "text", windowTokens = 10)
      .orderBy(col("doc_id"))

  /** C31: apply mixing factors (the "epochs" step c28's weights feed):
    * de upsampled 2.5×, zh 1.75×, es 1.25×, en DOWNsampled to 0.5×
    * (n_copies can be zero — the doc leaves the mix), fr rides the
    * 1.0 default. Deterministic fractional replication — no RNG, the
    * extra-copy decision is the stratum-salted id hash. */
  private val mixFactors = Seq(
    "de" -> 2.5, "zh" -> 1.75, "es" -> 1.25, "en" -> 0.5)

  private def c31ApplyMix(s: SparkSession, dir: String): DataFrame =
    Splitter.upsample(
        Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", mixFactors.toMap, default = 1.0)
      .select(col("doc_id"), col("lang"), col("n_copies"), col("copy_id"))
      .orderBy(col("doc_id"), col("copy_id"))

  /** C33: contiguous sequence packing — assign each document to the
    * fixed-token-budget bin its START offset falls in (per-stratum
    * running sum over a deterministic doc order). The packing step
    * that kills padding waste in training loaders: bins fill to
    * ~budget (the last doc may straddle the boundary — contiguous
    * packing semantics, no reordering). ONE exchange: the lang window
    * partitioning also satisfies the (lang, bin) rollup. */
  private def c33PackSequences(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(Fns.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin_id", expr(s"(cum - n_tokens) div ${budget}L"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin_id"))
  }

  /** C22b: Bloom-prefiltered decontamination — same planted
    * contamination and the same oracle as c22 (output is identical by
    * construction: the exact confirm join removes Bloom false
    * positives), but the per-task payload is Bloom bits (~1.2
    * bytes/gram) instead of gram strings, the shape that survives an
    * eval union too big to broadcast. */
  private def c22bDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decontaminate
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 13 === 0)
      .select(concat_ws(" ",
        slice(Fns.tokens(col("text")), 11, 16)).as("text"))
    Decontaminate.flaggedBloom(docs, "doc_id", "text", eval, "text",
        n = 8, minHits = 1)
      .orderBy(col("doc_id"))
  }

  /** C34: the composed Gopher/MassiveText quality GATE (Rae et al.
    * 2021 §A1.1) — the five-rule keep/drop decision (word count, mean
    * token length, alphabetic ratio, symbol ratio, stopword presence),
    * each rule surfaced as an integer metric plus a failure bit in
    * `reasons`. One projection over the token array — no shuffle; at
    * 100 TB this rides the ingest scan for free. */
  private def c34GopherGate(s: SparkSession, dir: String): DataFrame = {
    val cols = TextAnalysis.gopherGateCols(col("text"))
      .map { case (n, c) => c.as(n) }
    Tables(s, dir, "documents")
      .select(col("doc_id") +: cols: _*)
      .orderBy(col("doc_id"))
  }

  /** C35: dedup-AWARE train/valid/test split — the leakage fix for
    * c20's per-document hash split: near-duplicate documents must land
    * in the SAME split (a test doc whose near-copy sits in train leaks
    * the answer), so the split hash is taken over the near-dup CLUSTER
    * id (LSH pairs → connected components; singletons are their own
    * cluster), not the doc id. Composes c2's LSH chain + c19's
    * clustering + c20's hash assignment — no new shuffle shape; the
    * cluster join is the only addition over c20. */
  private def c35ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val corpus = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      .select(col("node").as("doc_id"), col("component"))
    val withCluster = corpus.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    Splitter.hashSplit(withCluster, "cluster",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** C36: URL-level dedup (the Common-Crawl first pass: one document
    * per canonical URL, before any content dedup runs). The synthetic
    * corpus carries no URLs, so each doc gains one planted link in a
    * scheme/www/case/query/fragment/trailing-slash VARIANT form by
    * doc_id mod 3, over 40 shared (host, page) identities — the
    * canonicalizer must collapse all variant spellings to one key.
    * Keep rule: min doc_id per canonical URL. One shuffle on the
    * canonical key; at 100 TB this is the cheapest dedup pass there
    * is (the key is ~60 bytes, the rest of the row never moves —
    * rank-1 window, WindowGroupLimit-prunable). */
  private def c36UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("Site"), (col("doc_id") % 40).cast("string"))
    val page = concat(lit("Page"), (col("doc_id") % 20).cast("string"))
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://"), host, lit(".com/"), page, lit("/?utm=x")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("http://www."), lower(host), lit(".com/"), lower(page),
          lit("#sec")))
      .otherwise(concat(lit("www."), host, lit(".com/"), page, lit("/")))
    val planted = Tables(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" ref "), url).as("text"))
    val withUrl = planted.select(col("doc_id"),
      TextAnalysis.canonicalUrl(
        regexp_extract(col("text"), """https?://\S+|www\.\S+""", 0))
        .as("canonical_url"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical_url"))
    withUrl
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("keep",
        (col("doc_id") === min(col("doc_id")).over(w)).cast("long"))
      .orderBy(col("doc_id"))
  }

  val registry: Seq[Q] = Seq(
    // identical result set to c22 — the Bloom pass is a pure prefilter
    Q("c22b_decontaminate_bloom", c22bDecontaminateBloom,
      TrainingQueries2.decontaminateOracle),
    // mirror of TextAnalysis.gopherGateCols: every metric is integer
    // micro-units (exact in a double, one IEEE divide, tie-free floor
    // except mean-token-len's round — half-away-from-zero on both
    // engines over an exactly-representable quotient)
    Q("c34_gopher_gate", c34GopherGate,
      s"""WITH t AS (
           SELECT doc_id, $toksSql AS tk,
             CAST(length(regexp_replace(coalesce(text, ''), '\\s', '', 'g'))
               AS BIGINT) AS nonws
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CASE WHEN len(tk) > 0
               THEN CAST(round(nonws * 10000.0 / len(tk)) AS BIGINT)
               ELSE 0 END AS mean_token_len_x4,
             CASE WHEN len(tk) > 0
               THEN CAST(floor(len(list_filter(tk,
                 x -> regexp_matches(x, '[a-z]'))) * 1000000.0 / len(tk))
                 AS BIGINT)
               ELSE 0 END AS alpha_micro,
             CASE WHEN len(tk) > 0
               THEN CAST(floor(len(list_filter(tk,
                 x -> NOT regexp_matches(x, '[a-z0-9]'))) * 1000000.0
                 / len(tk)) AS BIGINT)
               ELSE 0 END AS sym_micro,
             CAST(len(list_intersect(list_distinct(tk),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stopwords
           FROM t),
         r AS (
           SELECT *,
             CAST(CASE WHEN n_tokens < 30 OR n_tokens > 100000
                  THEN 1 ELSE 0 END
               + CASE WHEN mean_token_len_x4 < 30000
                      OR mean_token_len_x4 > 100000 THEN 2 ELSE 0 END
               + CASE WHEN alpha_micro < 800000 THEN 4 ELSE 0 END
               + CASE WHEN sym_micro > 100000 THEN 8 ELSE 0 END
               + CASE WHEN n_stopwords < 2 THEN 16 ELSE 0 END
               AS BIGINT) AS reasons
           FROM m)
         SELECT doc_id, n_tokens, mean_token_len_x4, alpha_micro,
           sym_micro, n_stopwords, reasons,
           CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM r ORDER BY doc_id"""),
    // mirror of the plant + extract + canonicalize + keyed-window
    // chain; canonicalization is the same 4 anchored replaces
    Q("c36_url_dedup", c36UrlDedup,
      """WITH p AS (
           SELECT doc_id,
             text || ' ref ' ||
               CASE WHEN doc_id % 3 = 0 THEN
                 'https://Site' || CAST(doc_id % 40 AS VARCHAR) || '.com/Page'
                   || CAST(doc_id % 20 AS VARCHAR) || '/?utm=x'
               WHEN doc_id % 3 = 1 THEN
                 'http://www.site' || CAST(doc_id % 40 AS VARCHAR)
                   || '.com/page' || CAST(doc_id % 20 AS VARCHAR) || '#sec'
               ELSE
                 'www.Site' || CAST(doc_id % 40 AS VARCHAR) || '.com/Page'
                   || CAST(doc_id % 20 AS VARCHAR) || '/'
               END AS text
           FROM documents),
         u AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(regexp_extract(text, 'https?://\S+|www\.\S+')),
               '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/$', '')
               AS canonical_url
           FROM p)
         SELECT doc_id, canonical_url,
           count(*) OVER (PARTITION BY canonical_url) AS n_dups,
           CAST(CASE WHEN doc_id = min(doc_id)
             OVER (PARTITION BY canonical_url) THEN 1 ELSE 0 END AS BIGINT)
             AS keep
         FROM u ORDER BY doc_id"""),
    // same recursive-CTE cluster fixpoint as c19, then c20's hash
    // assignment taken over the cluster id (cumulative thresholds
    // mirror Splitter.hashSplit exactly)
    Q("c35_cluster_split", c35ClusterSplit, {
      val t80 = Splitter.hexThreshold(0.8)
      val t90 = Splitter.hexThreshold(0.9)
      s"""WITH RECURSIVE ${TrainingQueries.clusterCteSql},
          wc AS (
            SELECT c.doc_id, coalesce(cl.cluster, c.doc_id) AS cluster
            FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id)
          SELECT doc_id, cluster,
            CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8) < '$t80'
                 THEN 'train'
                 WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8) < '$t90'
                 THEN 'valid'
                 ELSE 'test' END AS split
          FROM wc ORDER BY doc_id"""
    }),
    Q("c28_mix_weights", c28MixWeights,
      s"""WITH s AS (
           SELECT lang, count(*) AS n_docs,
             CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
         w AS (
           SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
             AS BIGINT) AS w_micro
           FROM s)
         SELECT lang, n_docs, n_tokens, w_micro,
           CAST((w_micro * 1000000) // (SELECT CAST(sum(w_micro) AS BIGINT)
             FROM w) AS BIGINT) AS share_ppm
         FROM w ORDER BY lang"""),
    Q("c29_blocklist", c29Blocklist,
      s"""SELECT doc_id,
           CAST(len(list_filter($toksSql,
             x -> x IN ('slow', 'big', 'dup'))) AS BIGINT) AS n_blocked,
           CAST(len(list_intersect(list_distinct($toksSql),
             ['slow', 'big', 'dup'])) AS BIGINT) AS n_distinct_blocked,
           CAST(CASE WHEN len(list_filter($toksSql,
             x -> x IN ('slow', 'big', 'dup'))) > 0
             THEN 1 ELSE 0 END AS BIGINT) AS blocked
         FROM documents ORDER BY doc_id"""),
    Q("c30_substring_dedup", c30SubstringDedup,
      s"""WITH ${TrainingQueries.corpusSql},
           t AS (SELECT doc_id, $toksSql AS tk FROM corpus),
           l AS (
             SELECT doc_id, md5(win) AS h
             FROM (SELECT doc_id,
                     unnest(${TrainingQueries.ngramsSql(10)}) AS win
                   FROM t)),
           occ AS (SELECT h, count(*) AS n_occ FROM l GROUP BY h),
           d AS (
             SELECT l.doc_id, count(*) AS n_windows,
               CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_windows
             FROM l JOIN occ USING (h) GROUP BY l.doc_id)
         SELECT doc_id, n_windows, n_dup_windows,
           CAST(floor(n_dup_windows * 1000000.0 / n_windows) AS BIGINT)
             AS dup_window_ratio_micro
         FROM d ORDER BY doc_id"""),
    Q("c31_apply_mix", c31ApplyMix, {
      // mirror of Splitter.upsample: per-lang CASE over precomputed
      // hex thresholds — identical md5-space decisions on both engines
      val cases = mixFactors.map { case (l, f) =>
        val base = math.floor(f).toLong
        val thr = Splitter.hexThreshold(f - math.floor(f))
        s"""WHEN lang = '$l' THEN $base +
             CASE WHEN substr(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 8)
               < '$thr' THEN 1 ELSE 0 END"""
      }.mkString("\n             ")
      s"""WITH d AS (
           SELECT doc_id, lang,
             CASE $cases
               ELSE 1 END AS n_copies
           FROM documents)
         SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
         FROM d
         ORDER BY doc_id, copy_id"""
    }),
    Q("c33_pack_sequences", c33PackSequences,
      s"""WITH d AS (
           SELECT doc_id, lang,
             CAST(len($toksSql) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum
           FROM d)
         SELECT lang, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY lang, bin_id ORDER BY lang, bin_id""")
  )
}
