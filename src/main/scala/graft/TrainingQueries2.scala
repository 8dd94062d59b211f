package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Chunker, CorpusPipeline, PiiScrub, Splitter, TfIdf, VectorStats}
import graft.operators.TextAnalysis
import graft.sources.Tables

/** C-series round 2 (SURVEY §2C, C14-C18): corpus statistics and
  * preparation operators — TF-IDF term ranking, token-window chunking,
  * PII scrubbing, per-label embedding centroids, vocabulary — each
  * oracle-checked against a DuckDB mirror of the same computation
  * (integer-scaled scores, md5 chunk digests, micro-unit vector sums;
  * no floats cross engines un-quantized).
  */
object TrainingQueries2 {

  private val toksSql = """regexp_extract_all(lower(trim(text)), '\S+')"""

  /** C14: top-3 TF-IDF terms per document (integer-scaled score). */
  private def c14Tfidf(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(Tables(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rk"))

  /** C15: 64-token chunks, stride 32 (overlapping context windows);
    * chunk text compared by md5 digest. */
  private def c15Chunks(s: SparkSession, dir: String): DataFrame =
    Chunker.chunkTokens(Tables(s, dir, "documents"), "doc_id", "text",
        size = 64, stride = 32)
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk_tokens")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk_tokens"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** C16: PII scrub over a corpus with planted emails/cards/IPs/phones
    * (the raw synthetic corpus carries none — plant deterministically
    * in-plan, mirror the plant in the oracle). */
  private def c16PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables(s, dir, "documents").select(col("doc_id"),
      concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@ex.com"),
        when(col("doc_id") % 3 === 0, lit(" also admin@site.net"))
          .otherwise(lit("")),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"),
        lit(" card 4111-1111-1111-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    PiiScrub.scrub(withPii, "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_cards"), col("n_ips"),
        col("n_phones"), md5(col("scrubbed")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  /** C17: per-label embedding centroid sums (micro-unit exact). */
  private def c17LabelCentroids(s: SparkSession, dir: String): DataFrame =
    VectorStats.centroidSums(Tables(s, dir, "embeddings"), "label", "embedding")
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("sum_micro"), col("n_vecs"))
      .orderBy(col("label"), col("dim"))

  /** C18: corpus vocabulary top-50 by total occurrences. The heavy
    * part (full-vocab ordering) runs as TakeOrderedAndProject — the
    * rank window only ever sees the surviving 50 rows. */
  private def c18Vocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = TfIdf.termFreq(Tables(s, dir, "documents"), "doc_id", "text")
      .groupBy(col("word"))
      .agg(sum(col("term_freq")).as("n_total"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_total").desc, col("word"))
      .limit(50)
    v.withColumn("rk",
      // bounded input: the vocab rollup (|distinct words| ≪ tokens);
      // the rank filter plans as WindowGroupLimit (PlanAuditSpec)
        row_number().over(Window.orderBy(col("n_total").desc, col("word"))))
      .select(col("rk"), col("word"), col("n_total"), col("n_docs"))
      .orderBy(col("rk"))
  }

  /** C20: deterministic train/valid/test split + per-language 10%
    * stratified sample, rolled up per (lang, split). Pure hash
    * projections — no RNG, no shuffle before the final rollup. */
  private def c20Split(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val sp = Splitter.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val sampled = Splitter.stratifiedSample(docs, "lang", "doc_id", 0.1)
      .select(col("doc_id"), lit(1L).as("in_sample"))
    sp.join(sampled, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_sample"), lit(0L))).as("n_sampled"))
      .orderBy(col("lang"), col("split"))
  }

  /** C21: the COMPOSED corpus pipeline end-to-end — exact dedup →
    * quality gate → near-dup clustering (CC) → chunk — on a corpus
    * with both exact and near duplicates planted, rolled up per lang.
    * One oracle mirrors every stage in a single recursive-CTE query:
    * if any stage drifts (dedup winner, rounding, cluster minima,
    * chunk count), the hash breaks. */
  private def c21Pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val corpus = docs.select(col("doc_id"), col("lang"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" zz tail")).as("text")))
    val kept = CorpusPipeline.keptDocs(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkCounts = Chunker
      .chunkTokens(kept, "doc_id", "text", size = 64, stride = 32)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    kept
      .select(col("doc_id"), col("lang"),
        size(graft.functions.Fns.tokens(col("text"))).cast("long").as("n_toks"))
      .join(chunkCounts, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chunks")).as("n_chunks"))
      .orderBy(col("lang"))
  }

  /** C22: benchmark decontamination — corpus docs sharing an 8-gram
    * with the (tiny, broadcast) eval set. Eval rows are 16-token
    * excerpts of every 13th doc, so the planted contamination is the
    * known answer the oracle reproduces. */
  private def c22Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decontaminate
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 13 === 0)
      .select(concat_ws(" ",
        slice(graft.functions.Fns.tokens(col("text")), 11, 16)).as("text"))
    Decontaminate.flagged(docs, "doc_id", "text", eval, "text",
        n = 8, minHits = 1)
      .orderBy(col("doc_id"))
  }

  /** C23: repetition filter (Gopher rule) over a corpus with planted
    * repetitive tails (every 9th doc gets a 4× repeated phrase). */
  private def c23Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 9 === 0,
        concat(col("text"),
          lit(" spam ham eggs spam ham eggs spam ham eggs spam ham eggs")))
        .otherwise(col("text")).as("text"))
    val reps = TextAnalysis
      .repetitionCols(graft.functions.Fns.tokens(col("text")), n = 3)
    docs.select(col("doc_id") +: reps.map { case (n, c) => c.as(n) }: _*)
      .withColumn("flagged",
        (col("dup_ratio_micro") >= 100000L).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** C24: int8 embedding quantization audit — per-vector integer
    * summaries of the quantized codes (sum/min/max/L1), exact on both
    * engines. */
  private def c24Quantize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorStats
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        explode(VectorStats.quantizeInt8(col("embedding"))).as("q"))
      .groupBy(col("vec_id"))
      .agg(sum(col("q")).cast("long").as("sum_q"),
        min(col("q")).cast("long").as("min_q"),
        max(col("q")).cast("long").as("max_q"),
        sum(abs(col("q"))).cast("long").as("l1_q"))
      .orderBy(col("vec_id"))
  }

  /** C25: token-budget stratified sampling — the data-mixing primitive
    * (fill each language's slice of a training mix up to a token
    * budget, deterministically). Docs are ordered per stratum by
    * md5(doc_id) (an unbiased, reproducible "random" order — unlike
    * Splitter.hashSplit the kept SET does shift as the corpus grows,
    * which is inherent to budget capping) and kept while the running
    * token total BEFORE the doc is under budget, so exactly the first
    * budget-crossing doc is included. One shuffle on the
    * stratum key + one in-partition sort — the same single-exchange
    * window shape as sessionization, at any corpus size. */
  private def c25TokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(graft.functions.Fns.tokens(col("text"))).cast("long").as("n_toks"),
        md5(col("doc_id").cast("string")).as("h"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("cum_before") < 10000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("n_tokens"))
      .orderBy(col("lang"))
  }

  /** C27: C4-style URL-density quality rule over a corpus with planted
    * links (the synthetic corpus carries none): every 4th doc gains
    * one http URL, every 12th two www hosts on top. Flag threshold
    * 0.5% of tokens — planted docs land well above, clean docs at 0. */
  private def c27UrlDensity(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" see http://ex.com/p"), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 12 === 0,
          lit(" visit www.spam.com and www.mirror.net"))
          .otherwise(lit(""))).as("text"))
    val cols = TextAnalysis.urlCols(col("text"))
    planted.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy(col("doc_id"))
  }

  /** c22's oracle, shared with c22b (the Bloom pass is a pure
    * prefilter, so its result set is identical). */
  private[graft] val decontaminateOracle =
      s"""WITH evals AS (
            SELECT array_to_string(list_slice($toksSql, 11, 26), ' ') AS text
            FROM documents WHERE doc_id % 13 = 0),
          eg AS (
            SELECT DISTINCT unnest(CASE WHEN len(tk) >= 8
              THEN list_transform(generate_series(1, len(tk) - 7),
                     i -> array_to_string(tk[i:i+7], ' '))
              ELSE [] END) AS gram
            FROM (SELECT $toksSql AS tk FROM evals) _),
          cg AS (
            SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 8
              THEN list_transform(generate_series(1, len(tk) - 7),
                     i -> array_to_string(tk[i:i+7], ' '))
              ELSE [] END)) AS gram
            FROM (SELECT doc_id, $toksSql AS tk FROM documents) _)
          SELECT doc_id, count(*) AS n_hits
          FROM cg JOIN eg USING (gram)
          GROUP BY doc_id HAVING count(*) >= 1 ORDER BY doc_id"""

  val registry: Seq[Q] = Seq(
    Q("c27_url_density", c27UrlDensity,
      s"""WITH d AS (
            SELECT doc_id, text ||
              CASE WHEN doc_id % 4 = 0
                THEN ' see http://ex.com/p' || CAST(doc_id AS VARCHAR)
                ELSE '' END ||
              CASE WHEN doc_id % 12 = 0
                THEN ' visit www.spam.com and www.mirror.net'
                ELSE '' END AS text
            FROM documents),
          m AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(text, 'https?://\\S+|www\\.\\S+'))
                AS BIGINT) AS n_urls,
              CAST(len($toksSql) AS BIGINT) AS n_tokens
            FROM d)
          SELECT doc_id, n_urls, n_tokens,
            CASE WHEN n_tokens > 0
              THEN CAST(floor(n_urls * 1000000.0 / n_tokens) AS BIGINT)
              ELSE 0 END AS url_density_micro,
            CASE WHEN n_tokens > 0
              AND floor(n_urls * 1000000.0 / n_tokens) >= 5000 THEN 1
              ELSE 0 END AS flagged
          FROM m ORDER BY doc_id"""),
    Q("c25_token_budget", c25TokenBudget,
      s"""WITH d AS (
            SELECT doc_id, lang, len($toksSql) AS n_toks,
              md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
          c AS (
            SELECT *, coalesce(sum(n_toks) OVER (PARTITION BY lang
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cum_before
            FROM d)
          SELECT lang, count(*) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens
          FROM c WHERE cum_before < 10000
          GROUP BY lang ORDER BY lang"""),
    Q("c14_tfidf", c14Tfidf,
      s"""WITH toks AS (
            SELECT doc_id, unnest($toksSql) AS word FROM documents),
          tf AS (
            SELECT doc_id, word, count(*) AS term_freq
            FROM toks GROUP BY doc_id, word),
          dfreq AS (SELECT word, count(*) AS doc_freq FROM tf GROUP BY word),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (
            SELECT tf.doc_id, tf.word, tf.term_freq, dfreq.doc_freq,
              (tf.term_freq * 1000000 * n.n_docs) // dfreq.doc_freq AS score_micro
            FROM tf JOIN dfreq USING (word) CROSS JOIN n),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, word) AS rk
            FROM scored)
          SELECT doc_id, rk, word, term_freq, doc_freq, score_micro
          FROM r WHERE rk <= 3 ORDER BY doc_id, rk"""),
    Q("c15_chunks", c15Chunks,
      s"""WITH t AS (
            SELECT doc_id, $toksSql AS tk FROM documents),
          c AS (
            SELECT doc_id, tk,
              unnest(generate_series(0, CAST((len(tk) - 1) // 32 AS BIGINT)))
                AS chunk_id
            FROM t WHERE len(tk) > 0),
          sl AS (
            SELECT doc_id, chunk_id,
              list_slice(tk, chunk_id * 32 + 1, chunk_id * 32 + 64) AS ct
            FROM c)
          SELECT doc_id, chunk_id, CAST(len(ct) AS BIGINT) AS n_tokens,
            md5(array_to_string(ct, ' ')) AS chunk_md5
          FROM sl ORDER BY doc_id, chunk_id"""),
    Q("c16_pii_scrub", c16PiiScrub,
      """WITH pii AS (
           SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com' ||
             CASE WHEN doc_id % 3 = 0 THEN ' also admin@site.net' ELSE '' END ||
             ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
             ' card 4111-1111-1111-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
           FROM documents),
         s1 AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
           FROM pii),
         s2 AS (
           SELECT doc_id, n_emails,
             CAST(len(regexp_extract_all(t1,
               '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_cards,
             regexp_replace(t1, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b',
               '<CARD>', 'g') AS t2
           FROM s1),
         s3 AS (
           SELECT doc_id, n_emails, n_cards,
             CAST(len(regexp_extract_all(t2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IP>', 'g') AS t3
           FROM s2)
         SELECT doc_id, n_emails, n_cards, n_ips,
           CAST(len(regexp_extract_all(t3,
             '\+?1?[-.]?\(?\d{3}[-. )]*\d{3}[-. ]*\d{4}|\b555-\d{4}\b'))
             AS BIGINT) AS n_phones,
           md5(regexp_replace(t3,
             '\+?1?[-.]?\(?\d{3}[-. )]*\d{3}[-. ]*\d{4}|\b555-\d{4}\b',
             '<PHONE>', 'g')) AS scrubbed_md5
         FROM s3 ORDER BY doc_id"""),
    Q("c17_label_centroids", c17LabelCentroids,
      """SELECT label, CAST(pos AS BIGINT) AS dim,
           CAST(sum(CAST(round(CAST(embedding[pos + 1] AS DOUBLE) * 1000000)
             AS BIGINT)) AS BIGINT) AS sum_micro,
           count(*) AS n_vecs
         FROM embeddings
         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS pos) g
         GROUP BY label, pos ORDER BY label, dim"""),
    Q("c18_vocab", c18Vocab,
      s"""WITH toks AS (
            SELECT doc_id, unnest($toksSql) AS word FROM documents),
          tf AS (
            SELECT doc_id, word, count(*) AS term_freq
            FROM toks GROUP BY doc_id, word),
          v AS (
            SELECT word, CAST(sum(term_freq) AS BIGINT) AS n_total,
              count(*) AS n_docs
            FROM tf GROUP BY word),
          top AS (
            SELECT row_number() OVER (ORDER BY n_total DESC, word) AS rk,
              word, n_total, n_docs
            FROM v ORDER BY n_total DESC, word LIMIT 50)
          SELECT rk, word, n_total, n_docs FROM top ORDER BY rk"""),
    Q("c20_split", c20Split,
      """WITH sp AS (
           SELECT doc_id, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                    THEN 'valid'
                  ELSE 'test' END AS split,
             CASE WHEN substr(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '19999999' THEN 1 ELSE 0 END AS in_sample
           FROM documents)
         SELECT lang, split, count(*) AS n_docs,
           CAST(sum(in_sample) AS BIGINT) AS n_sampled
         FROM sp GROUP BY lang, split ORDER BY lang, split"""),
    Q("c21_corpus_pipeline", c21Pipeline, c21OracleSql),
    Q("c22_decontaminate", c22Decontaminate, decontaminateOracle),
    Q("c23_repetition", c23Repetition,
      s"""WITH d AS (
            SELECT doc_id,
              CASE WHEN doc_id % 9 = 0 THEN text ||
                ' spam ham eggs spam ham eggs spam ham eggs spam ham eggs'
              ELSE text END AS text
            FROM documents),
          t AS (SELECT doc_id, $toksSql AS tk FROM d),
          g AS (
            SELECT doc_id,
              CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' '))
                ELSE [] END AS grams
            FROM t),
          m AS (
            SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
              CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams
            FROM g)
          SELECT doc_id, n_grams, n_distinct_grams,
            CASE WHEN n_grams > 0
              THEN CAST(floor((n_grams - n_distinct_grams) * 1000000.0
                / n_grams) AS BIGINT) ELSE 0 END AS dup_ratio_micro,
            CASE WHEN n_grams > 0 AND floor((n_grams - n_distinct_grams)
              * 1000000.0 / n_grams) >= 100000 THEN 1 ELSE 0 END AS flagged
          FROM m ORDER BY doc_id"""),
    Q("c24_quantize", c24Quantize,
      """WITH q AS (
           SELECT vec_id,
             CAST(round(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0) * 127)
               AS BIGINT) AS q
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) _)
         SELECT vec_id, CAST(sum(q) AS BIGINT) AS sum_q, min(q) AS min_q,
           max(q) AS max_q, CAST(sum(abs(q)) AS BIGINT) AS l1_q
         FROM q GROUP BY vec_id ORDER BY vec_id""")
  )

  /** Every pipeline stage mirrored in one recursive-CTE query (see
    * c21Pipeline). Fragments shared with the per-stage oracles so the
    * two stay in lockstep. */
  private def c21OracleSql: String = {
    val stopSet = TrainingQueries.markersIn(
      TextAnalysis.langMarkers.flatMap(_._2).distinct)
    s"""WITH RECURSIVE
        pcorpus AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000, lang, text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 1000000, lang, text || ' zz tail'
          FROM documents WHERE doc_id % 10 = 0),
        ex AS (
          SELECT md5(${TrainingQueries.normTextSql}) AS fp, min(doc_id) AS keep_id
          FROM pcorpus GROUP BY fp),
        d1 AS (SELECT p.* FROM pcorpus p JOIN ex ON p.doc_id = ex.keep_id),
        t0 AS (SELECT doc_id, lang, text, ${TrainingQueries.toksSql} AS tk FROM d1),
        q AS (
          SELECT doc_id, len(tk) AS n_tokens,
            ((2 * least(CAST(len(tk) AS BIGINT) * 10000, 1000000)
              + (1000000 - CASE WHEN length(text) > 0
                  THEN CAST(round((length(text) -
                    length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                    * 1000000.0 / length(text)) AS BIGINT) ELSE 0 END)
              + least(5 * CASE WHEN len(tk) > 0
                  THEN CAST(round(len(list_filter(tk, x -> x IN $stopSet))
                    * 1000000.0 / len(tk)) AS BIGINT) ELSE 0 END, 1000000))
             + 2) // 4 / 1000000.0 AS quality_score
          FROM t0),
        f AS (
          SELECT t0.* FROM t0 JOIN q USING (doc_id)
          WHERE q.n_tokens >= 40 AND q.quality_score >= 0.5),
        shd AS (
          SELECT doc_id, list_distinct(${TrainingQueries.ngramsSql(5)}) AS shs
          FROM f),
        ${TrainingQueries.minhashSigSql(8)},
        ${TrainingQueries.bandedSql(4, 2)},
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        ${TrainingQueries.jaccardSql(0.6)},
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
        comp AS (SELECT n, min(m) AS cluster FROM reach GROUP BY n),
        dropids AS (SELECT n FROM comp WHERE n <> cluster),
        keep AS (
          SELECT * FROM f WHERE doc_id NOT IN (SELECT n FROM dropids))
        SELECT lang, count(*) AS n_docs,
          CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
          CAST(sum((len(tk) - 1) // 32 + 1) AS BIGINT) AS n_chunks
        FROM keep GROUP BY lang ORDER BY lang"""
  }
}
