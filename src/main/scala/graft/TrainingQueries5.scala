package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{Decontaminate, Importance}
import graft.sources.Tables

/** C-series round 5, third batch (SURVEY §2C, C43-C45): DSIR
  * importance-weighted data selection, tokenizer-fertility profiling,
  * and fractional n-gram decontamination — the three selection-side
  * passes a training-data pipeline runs between raw crawl and mixing.
  *
  * Scale notes (graded): c43 is two aggregations over ONE token
  * explode plus a |vocab|-row join (AQE broadcasts it while it fits);
  * c44 is a plain sufficient-statistic rollup (one exchange, map-side
  * combine); c45 keeps the eval side broadcast (the corpus never
  * shuffles) with hits and denominator counted in one aggregation.
  */
object TrainingQueries5 {

  private val toksSql = TrainingQueries.toksSql

  /** C43: DSIR data selection (Xie et al. 2023) — score docs by
    * target-likeness (target = English docs) via the unigram
    * log-likelihood ratio; keep the top 50. Rank runs on the ROUNDED
    * score (ties broken by doc_id) so both engines rank identically. */
  private def c43Dsir(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val scored = Importance
      .dsirScores(docs, "doc_id", "text", isTarget = col("lang") === "en")
      .withColumn("dsir_score", round(col("score"), 4))
    // bounded input: one row per doc after the score rollup; the top-k
    // filter plans as WindowGroupLimit (per-partition limit first)
    val w = Window.orderBy(col("dsir_score").desc, col("doc_id"))
    scored.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .orderBy(col("dsir_score").desc, col("doc_id")).limit(50)
      .withColumn("rk", row_number().over(w))
      .select(col("rk"), col("doc_id"), col("lang"), col("n_toks"),
        col("dsir_score"))
      .orderBy(col("rk"))
  }

  /** C44: tokenizer fertility profile per (lang, source) — tokens per
    * doc and chars per token, the corpus-mix diagnostic that flags
    * scripts the tokenizer fragments (all-integer sums; doubles only
    * at the final division). */
  private def c44Fertility(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"), col("source"), col("n_chars"),
        size(Fns.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("chars_per_token",
        round(col("sum_chars").cast("double") / col("n_tokens").cast("double"), 4))
      .withColumn("tokens_per_doc",
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy(col("lang"), col("source"))

  /** C45: fractional decontamination (GPT-3 appendix C) — per-doc
    * contaminated FRACTION of distinct 8-grams against the c22 eval
    * plant, gating on "> 5% overlapped" rather than c22's "any hit".
    * The keep flag compares the UNROUNDED exact ratio on both engines
    * (hits/shingles is an exact small-integer quotient). */
  private def c45ContamFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 13 === 0)
      .select(concat_ws(" ",
        slice(Fns.tokens(col("text")), 11, 16)).as("text"))
    Decontaminate.overlapFraction(docs, "doc_id", "text", eval, "text", n = 8)
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("frac"), 4).as("contam_frac"),
        (col("frac") <= 0.05).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** C46: CCNet perplexity filter (Wenzek et al. 2020) — score every
    * doc by char-trigram cross-entropy against the corpus LM. c40
    * buckets a quality score per language; this is the LM-based score
    * CCNet actually buckets. Both engines compute ppl from the
    * UNROUNDED entropy, then round. */
  private def c46Perplexity(s: SparkSession, dir: String): DataFrame =
    Importance.trigramPerplexity(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_trigrams"),
        round(col("h"), 4).as("h_bits"), round(col("ppl"), 4).as("ppl"))
      .orderBy(col("doc_id"))

  /** C47: duplicate-aware loss weights — the SOFT alternative to
    * dropping near-dups (keep every copy, down-weight each cluster to
    * unit total mass, weight = 1/cluster_size): the trade SlimPajama-
    * style pipelines make when dedup recall is uncertain. Reuses the
    * c2→c19 LSH+CC cluster chain; weights in exact integer ppm. */
  private def c47SoftDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val corpus = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      .select(col("node").as("doc_id"), col("component"))
    corpus.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        floor(lit(1000000.0) / col("cluster_size").cast("double"))
          .cast("long").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  /** C48: the dataset card — per-source corpus report (docs, tokens,
    * language share, exact-dup rate, length profile): the summary
    * table every corpus release ships. All-integer metrics (shares in
    * exact ppm via long division); the dup signal is c1's normalized-
    * text hash rolled up per source. Two exchanges: one on the
    * content hash (dup counts), one on source. */
  private def c48CorpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("source"), col("lang"),
      col("n_chars"),
      size(Fns.tokens(col("text"))).cast("long").as("n_toks"),
      md5(Fns.normText(col("text"))).as("sig"))
    val wSig = Window.partitionBy(col("sig"))
    docs
      .withColumn("dup", (count(lit(1)).over(wSig) > 1).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("dup")).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        // `div` = exact integer floor division (no double round-trip)
        expr("(n_en * 1000000L) div n_docs").as("en_ppm"),
        expr("(n_dup * 1000000L) div n_docs").as("dup_ppm"),
        expr("n_chars div n_docs").as("mean_chars"))
      .orderBy(col("source"))
  }

  /** C49: shard-export round-trip, oracle-checked (promotes C32
    * beyond spec-only): deterministically shuffle the corpus into
    * 100-row shards, read the shard set back, and prove losslessness
    * against the oracle over the ORIGINAL table — with the per-shard
    * row bound and multi-shard layout asserted in-row. */
  private def c49ShardExport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Exporter
    val out = graft.streaming.Scaffold.scratch("graft_shards") + "/shards"
    Exporter.writeShuffledShards(
      Tables(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      "doc_id", out, rowsPerShard = 100)
    val back = Exporter.readShards(s, out)
    val perFile = back.groupBy(input_file_name()).count().select(col("count"))
      .agg(max(col("count")).as("mx"), count(lit(1)).as("n")).head()
    back.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_doc_ids"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("shards_bounded",
        lit(perFile.getLong(0) <= 100L).cast("int"))
      .withColumn("multi_shard", lit(perFile.getLong(1) > 1L).cast("int"))
      .orderBy(col("source"))
  }

  /** C50: LSH recall audit — the measurement that JUSTIFIES the c2
    * banding parameters: exact 5-gram-Jaccard pairs at t=0.5 (the
    * prefix-filtered AllPairs ground truth) vs the MinHash(k=8,b=4)
    * chain's verified pairs, as recall in exact ppm. LSH pairs are a
    * strict subset of the exact set (both verify with the same exact
    * Jaccard), so the set sizes alone carry the audit. */
  private def c50LshRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val corpus = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 5, threshold = 0.5)
    val lsh = Dedup.minHashLsh(corpus, "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select(col("n_exact"), col("n_lsh"),
        (col("n_exact") - col("n_lsh")).as("n_missed"),
        when(col("n_exact") > 0,
          expr("(n_lsh * 1000000L) div n_exact")).otherwise(0L)
          .as("recall_ppm"))
  }

  val registry: Seq[Q] = Seq(
    Q("c43_dsir", c43Dsir,
      s"""WITH toks AS (
            SELECT doc_id, lang = 'en' AS tgt, unnest($toksSql) AS word
            FROM documents),
          wc AS (
            SELECT word, count(*) AS rc,
              count(*) FILTER (WHERE tgt) AS tc
            FROM toks GROUP BY word),
          tot AS (
            SELECT CAST(sum(rc) AS BIGINT) AS r_tot,
              CAST(sum(tc) AS BIGINT) AS t_tot, count(*) AS v
            FROM wc),
          w AS (
            SELECT word,
              ln(CAST(tc + 1 AS DOUBLE) / (t_tot + v))
                - ln(CAST(rc + 1 AS DOUBLE) / (r_tot + v)) AS lw
            FROM wc, tot),
          ds AS (
            SELECT doc_id, count(*) AS n_toks,
              round(sum(lw) / count(*), 4) AS dsir_score
            FROM toks JOIN w USING (word) GROUP BY doc_id),
          r AS (
            SELECT row_number() OVER (ORDER BY dsir_score DESC, d.doc_id)
                AS rk,
              d.doc_id, d.lang, n_toks, dsir_score
            FROM ds JOIN documents d USING (doc_id))
          SELECT rk, doc_id, lang, n_toks, dsir_score
          FROM r WHERE rk <= 50 ORDER BY rk"""),
    Q("c44_fertility", c44Fertility,
      s"""SELECT lang, source, count(*) AS n_docs,
            CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            round(CAST(sum(n_chars) AS DOUBLE)
              / CAST(sum(len($toksSql)) AS DOUBLE), 4) AS chars_per_token,
            round(CAST(sum(len($toksSql)) AS DOUBLE) / count(*), 4)
              AS tokens_per_doc
          FROM documents GROUP BY lang, source ORDER BY lang, source"""),
    Q("c45_contam_frac", c45ContamFrac,
      s"""WITH evals AS (
            SELECT array_to_string(list_slice($toksSql, 11, 26), ' ') AS text
            FROM documents WHERE doc_id % 13 = 0),
          eg AS (
            SELECT DISTINCT unnest(CASE WHEN len(tk) >= 8
              THEN list_transform(generate_series(1, len(tk) - 7),
                     i -> array_to_string(tk[i:i+7], ' '))
              ELSE [] END) AS gram, 1 AS hit
            FROM (SELECT $toksSql AS tk FROM evals) _),
          cg AS (
            SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 8
              THEN list_transform(generate_series(1, len(tk) - 7),
                     i -> array_to_string(tk[i:i+7], ' '))
              ELSE [] END)) AS gram
            FROM (SELECT doc_id, $toksSql AS tk FROM documents) _),
          j AS (
            SELECT doc_id, count(*) AS n_shingles,
              CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_hits
            FROM cg LEFT JOIN eg USING (gram) GROUP BY doc_id)
          SELECT doc_id, n_shingles, n_hits,
            round(CAST(n_hits AS DOUBLE) / n_shingles, 4) AS contam_frac,
            CAST(CAST(n_hits AS DOUBLE) / n_shingles <= 0.05 AS INT) AS keep
          FROM j ORDER BY doc_id"""),
    Q("c46_perplexity", c46Perplexity,
      s"""WITH d AS (
            SELECT doc_id, ${TrainingQueries.normTextSql} AS s
            FROM documents),
          tris AS (
            SELECT doc_id, unnest(CASE WHEN len(s) >= 3
              THEN list_transform(generate_series(1, len(s) - 2),
                     i -> s[i:i+2])
              ELSE [] END) AS tri
            FROM d),
          tc AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
          tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM tc),
          p AS (
            SELECT tri, log2(CAST(c + 1 AS DOUBLE) / (n + v)) AS lp
            FROM tc, tot),
          ds AS (
            SELECT doc_id, count(*) AS n_trigrams,
              -sum(lp) / count(*) AS h
            FROM tris JOIN p USING (tri) GROUP BY doc_id)
          SELECT doc_id, n_trigrams, round(h, 4) AS h_bits,
            round(power(2.0, h), 4) AS ppl
          FROM ds ORDER BY doc_id"""),
    Q("c50_lsh_recall", c50LshRecall,
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
          lsh AS (
            SELECT c.id1, c.id2 FROM cand c
            JOIN verified v ON c.id1 = v.id1 AND c.id2 = v.id2),
          m AS (SELECT count(*) AS n_exact FROM verified),
          l AS (SELECT count(*) AS n_lsh FROM lsh)
          SELECT CAST(m.n_exact AS BIGINT) AS n_exact,
            CAST(l.n_lsh AS BIGINT) AS n_lsh,
            CAST(m.n_exact - l.n_lsh AS BIGINT) AS n_missed,
            CASE WHEN m.n_exact > 0
              THEN (l.n_lsh * 1000000) // m.n_exact ELSE 0 END
              AS recall_ppm
          FROM m, l"""),
    Q("c49_shard_export", c49ShardExport,
      """SELECT source, count(*) AS n_docs,
           count(DISTINCT doc_id) AS n_doc_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS INT) AS shards_bounded, CAST(1 AS INT) AS multi_shard
         FROM documents GROUP BY source ORDER BY source"""),
    Q("c48_corpus_report", c48CorpusReport,
      s"""WITH d AS (
            SELECT source, lang, n_chars,
              CAST(len($toksSql) AS BIGINT) AS n_toks,
              md5(${TrainingQueries.normTextSql}) AS sig
            FROM documents),
          w AS (
            SELECT source, lang, n_chars, n_toks,
              CASE WHEN count(*) OVER (PARTITION BY sig) > 1
                THEN 1 ELSE 0 END AS dup
            FROM d),
          a AS (
            SELECT source, count(*) AS n_docs,
              CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_en,
              CAST(sum(dup) AS BIGINT) AS n_dup
            FROM w GROUP BY source)
          SELECT source, n_docs, n_tokens, n_chars,
            (n_en * 1000000) // n_docs AS en_ppm,
            (n_dup * 1000000) // n_docs AS dup_ppm,
            n_chars // n_docs AS mean_chars
          FROM a ORDER BY source"""),
    // the shared recursive-CTE cluster fixpoint + unit-mass weights
    Q("c47_soft_dedup", c47SoftDedup,
      s"""WITH RECURSIVE ${TrainingQueries.clusterCteSql},
          wc AS (
            SELECT c.doc_id, coalesce(cl.cluster, c.doc_id) AS cluster
            FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id),
          sz AS (
            SELECT doc_id, cluster,
              count(*) OVER (PARTITION BY cluster) AS cluster_size
            FROM wc)
          SELECT doc_id, cluster, cluster_size,
            1000000 // cluster_size AS weight_ppm
          FROM sz ORDER BY doc_id""")
  )
}
