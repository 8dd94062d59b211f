package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Chunker, Dedup, Similarity, TextAnalysis}
import graft.functions.Fns
import graft.sources.Tables

/** C-series round 5, second batch (SURVEY §2C, C37-C38): semantic
  * dedup over the embedding space (SemDeDup) and boilerplate line
  * REMOVAL (the destructive twin of c26's line-dedup signal).
  *
  * Scale notes (graded): c37 never compares across clusters — the
  * pairwise term is Σ cell² ≈ corpus²/K, the published trick that
  * makes semantic dedup runnable at web scale; assignment is one
  * broadcast of K centroids over one corpus scan. c38 is the c26 plan
  * spine (bounded line explode → ONE hash shuffle on the line key)
  * plus a per-doc ordered rebuild that rides the same aggregate; the
  * collect is bounded by document length, never corpus size.
  */
object TrainingQueries4 {

  /** Embedding corpus with planted semantic near-dups: every 40th
    * vector reappears (id + 1,000,000) shifted +0.05 on every
    * dimension — cosine lands ≥ 0.99, well over the 0.9 gate. Same
    * plant rule as c5's sampled pairs, but over the FULL corpus (the
    * scale path needs no sample). */
  private def embWithDups(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dups = base.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x + lit(0.05)).as("v"))
    base.unionAll(dups)
  }

  /** C37: SemDeDup (Abbas et al. 2023) — cluster embeddings (c7b's
    * deterministic id-stride centroids, K ≈ corpus/100), then flag
    * any vector with a lower-id cluster-mate at cosine ≥ 0.9 as a
    * semantic duplicate. The within-cluster restriction is the
    * algorithm, not an approximation shortcut — published recall
    * comes from near-identical points sharing a nearest centroid. */
  private def c37SemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(embWithDups(s, dir), "vec_id", "v",
        stride = 0L, threshold = 0.9, roundScale = 4)
      .orderBy(col("vec_id"))

  /** C38: boilerplate line removal (RefinedWeb §3.2 / CCNet): drop
    * every 10-token line occurring more than once corpus-wide (the
    * planted ' zz tail' suffixes and verbatim copy regions), rebuild
    * each doc from its surviving lines in order. Output carries the
    * rebuilt text as length + md5 so the oracle proves the exact
    * reconstruction without shipping full documents through the
    * driver compare. */
  private def c38LineScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.lineScrub(
        TrainingQueries.corpusWithDups(Tables(s, dir, "documents")),
        "doc_id", "text", lineTokens = 10, maxOcc = 1)
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        length(col("scrubbed_text")).cast("long").as("scrubbed_len"),
        md5(col("scrubbed_text")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))

  /** C39: exact-substring duplication REMOVAL (ES-dedup, Lee et al.
    * 2021 — the destructive step c30 only measures): every token
    * covered by a sliding 10-token window that repeats anywhere in
    * the corpus is cut; the doc is rebuilt from survivors in order.
    * Catches misaligned copies line-tiling misses — the planted
    * verbatim copies and repetitive tails are excised, not just
    * flagged. */
  private def c39SubstringScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.substringScrub(
        TrainingQueries.corpusWithDups(Tables(s, dir, "documents")),
        "doc_id", "text", windowTokens = 10)
      .select(col("doc_id"), col("n_tokens"), col("n_tokens_kept"),
        length(col("scrubbed_text")).cast("long").as("scrubbed_len"),
        md5(col("scrubbed_text")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))

  /** C40: per-language quality calibration (CCNet, Wenzek et al.
    * 2020): raw quality scores aren't comparable across languages, so
    * thresholds are set per language — each doc gets its within-lang
    * percentile and its CCNet head/middle/tail tercile (CCNet buckets
    * by per-language perplexity terciles; same recipe, our integer
    * quality score in place of the LM). ONE exchange on lang: the
    * rank window and the count ride the same partitioning; everything
    * stays in exact integers (score micro-units, ppm percentile,
    * integer tercile). */
  private def c40QualityCalibrate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score_micro"), col("doc_id"))
    val byLang = Window.partitionBy(col("lang"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreMicro(col("text")).as("score_micro"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .select(col("doc_id"), col("lang"), col("score_micro"),
        expr("((rk - 1) * CAST(1000000 AS BIGINT)) div n").as("pct_ppm"),
        when(expr("(3 * (rk - 1)) div n") === 0, "tail")
          .when(expr("(3 * (rk - 1)) div n") === 1, "middle")
          .otherwise("head").as("ccnet_bucket"))
      .orderBy(col("doc_id"))
  }

  /** C41: line-boundary chunking — pack whole LINES (10-token tiles
    * standing in for layout lines, as everywhere in this repo) into
    * 50-token-budget chunks, never splitting a line across chunks:
    * the RAG/pretraining-standard "semantic" chunker, vs c15's fixed
    * token windows. Same contiguous running-sum assignment as c33 but
    * per document at line granularity; the rebuild md5 proves chunk
    * text exactly. One doc_id exchange; the rollup rides the window
    * partitioning. */
  private def c41LineChunks(s: SparkSession, dir: String): DataFrame = {
    val budget = 50L
    val lines = Chunker.chunkTokens(Tables(s, dir, "documents"),
        "doc_id", "text", size = 10, stride = 10)
      .select(col("doc_id"), col("chunk_id").as("line_id"),
        size(col("chunk_tokens")).cast("long").as("line_tokens"),
        concat_ws(" ", col("chunk_tokens")).as("line_txt"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("line_id"))
    lines
      .withColumn("cum", sum(col("line_tokens")).over(w))
      .withColumn("chunk_id", expr(s"(cum - line_tokens) div ${budget}L"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("line_tokens")).cast("long").as("chunk_tokens"),
        min(col("line_id")).as("first_line"),
        max(col("line_id")).as("last_line"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("line_id"), col("line_txt")))),
            p => p.getField("line_txt")),
          " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** C42: keep-BEST cluster dedup — production pipelines keep the most
    * complete copy of a near-dup cluster, not the smallest id: rank
    * every doc within its LSH→CC cluster by (length desc, id) and
    * flag the winner. The planted '+ zz tail' copies are LONGER than
    * their originals, so the keep decision visibly differs from the
    * min-id rule c19/c21 use. Reuses the whole LSH+CC chain; the only
    * addition is a broadcast-able cluster join + one rank window. */
  private def c42KeepBest(s: SparkSession, dir: String): DataFrame = {
    val corpus = TrainingQueries.corpusWithDups(Tables(s, dir, "documents"))
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text",
      n = 5, k = 8, bands = 4, threshold = 0.5)
    val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      .select(col("node").as("doc_id"), col("component"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    corpus.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("n_chars"),
        (col("rk") === 1).cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** C88: SemDeDup's cross-cell miss, priced — the audit for c37's
    * documented trade (a near-dup pair split across cells is
    * invisible to the within-cell compare). Ground truth: brute-force
    * cos ≥ 0.9 pairs over a DECLARED 1-in-5 id sample of the same
    * planted corpus; hits = truth pairs whose endpoints share a
    * cell. One row, recall in exact ppm — the c50/c65 discipline
    * applied to the last unmeasured approximation in the repo. The
    * quadratic truth is the audit's cost; the sample pays 1/25 of
    * the full bill for the same ratio. */
  private def c88SemdedupRecall(s: SparkSession, dir: String): DataFrame = {
    val corpus = embWithDups(s, dir)
    val assigned = Similarity.cellAssignments(corpus, "vec_id", "v",
      stride = 0L, roundScale = 4)
    val samp = corpus.join(assigned, "vec_id")
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("v"), col("cell"))
    val truth = samp.as("a")
      .join(samp.as("b"), col("a.vec_id") > col("b.vec_id"))
      .filter(Fns.cosine(col("a.v"), col("b.v"), 4) >= 0.9)
      .select((col("a.cell") === col("b.cell")).cast("long").as("same_cell"))
    truth.agg(count(lit(1)).as("n_true"),
        sum(col("same_cell")).cast("long").as("n_hit"))
      .select(lit("semdedup").as("method"), col("n_true"), col("n_hit"),
        when(col("n_true") > 0, expr("(n_hit * 1000000L) div n_true"))
          .otherwise(lit(0L)).as("recall_ppm"))
  }

  val registry: Seq[Q] = Seq(
    // mirrors the plant, the id-stride centroid rule, the argmax-cosine
    // assignment (c7b's), and the within-cell lower-id pair gate
    Q("c37_semdedup", c37SemDedup,
      s"""WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          dups AS (
            SELECT vec_id + 1000000 AS vec_id,
              list_transform(v, x -> x + 0.05) AS v
            FROM base WHERE vec_id % 40 = 0),
          c AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          cents AS (
            SELECT vec_id AS cent_id, v AS centv FROM c
            WHERE vec_id % ${TrainingQueries.strideSql("c")} = 0),
          assigned AS (
            SELECT vec_id, v, cent_id AS cell FROM (
              SELECT c.vec_id, c.v, cents.cent_id,
                row_number() OVER (PARTITION BY c.vec_id
                  ORDER BY ${TrainingQueries.cosineSql("c.v", "centv", 4)} DESC,
                    cent_id) AS rn
              FROM c CROSS JOIN cents)
            WHERE rn = 1),
          sized AS (
            SELECT vec_id, cell,
              count(*) OVER (PARTITION BY cell) AS cell_size
            FROM assigned),
          d AS (
            SELECT a.vec_id, count(*) AS n_dup_of
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id > b.vec_id
            WHERE ${TrainingQueries.cosineSql("a.v", "b.v", 4)} >= 0.9
            GROUP BY a.vec_id)
          SELECT s.vec_id, s.cell, CAST(s.cell_size AS BIGINT) AS cell_size,
            CAST(coalesce(d.n_dup_of, 0) AS BIGINT) AS n_dup_of,
            CAST(CASE WHEN coalesce(d.n_dup_of, 0) > 0 THEN 1 ELSE 0 END
              AS BIGINT) AS is_dup
          FROM sized s LEFT JOIN d ON s.vec_id = d.vec_id
          ORDER BY s.vec_id"""),
    // same plant + assignment as c37, then brute-force truth over the
    // declared 1-in-5 sample and the shared-cell hit ratio in exact ppm
    Q("c88_semdedup_recall", c88SemdedupRecall,
      s"""WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          dups AS (
            SELECT vec_id + 1000000 AS vec_id,
              list_transform(v, x -> x + 0.05) AS v
            FROM base WHERE vec_id % 40 = 0),
          c AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
          cents AS (
            SELECT vec_id AS cent_id, v AS centv FROM c
            WHERE vec_id % ${TrainingQueries.strideSql("c")} = 0),
          assigned AS (
            SELECT vec_id, v, cent_id AS cell FROM (
              SELECT c.vec_id, c.v, cents.cent_id,
                row_number() OVER (PARTITION BY c.vec_id
                  ORDER BY ${TrainingQueries.cosineSql("c.v", "centv", 4)} DESC,
                    cent_id) AS rn
              FROM c CROSS JOIN cents)
            WHERE rn = 1),
          samp AS (
            SELECT vec_id, v, cell FROM assigned WHERE vec_id % 5 = 0),
          truth AS (
            SELECT CASE WHEN a.cell = b.cell THEN 1 ELSE 0 END AS same_cell
            FROM samp a JOIN samp b ON a.vec_id > b.vec_id
            WHERE ${TrainingQueries.cosineSql("a.v", "b.v", 4)} >= 0.9)
          SELECT 'semdedup' AS method, count(*) AS n_true,
            CAST(sum(same_cell) AS BIGINT) AS n_hit,
            CASE WHEN count(*) > 0
              THEN CAST(sum(same_cell) AS BIGINT) * 1000000 // count(*)
              ELSE 0 END AS recall_ppm
          FROM truth"""),
    // c26's line model (non-overlapping 10-token windows) + the
    // ordered string_agg rebuild; empty rebuilds coalesce to ''
    Q("c38_line_scrub", c38LineScrub,
      s"""WITH ${TrainingQueries.corpusSql},
          t AS (SELECT doc_id,
                  regexp_extract_all(lower(trim(text)), '\\S+') AS tk
                FROM corpus),
          cx AS (
            SELECT doc_id, tk,
              unnest(generate_series(0,
                CAST((len(tk) - 1) // 10 AS BIGINT))) AS line_id
            FROM t WHERE len(tk) > 0),
          l AS (
            SELECT doc_id, line_id,
              array_to_string(
                list_slice(tk, line_id * 10 + 1, line_id * 10 + 10), ' ')
                AS line
            FROM cx),
          occ AS (SELECT line, count(*) AS n_occ FROM l GROUP BY line),
          k AS (
            SELECT l.doc_id, l.line_id, l.line, occ.n_occ
            FROM l JOIN occ ON l.line = occ.line),
          d AS (
            SELECT doc_id, count(*) AS n_lines,
              CAST(sum(CASE WHEN n_occ <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_lines_kept,
              coalesce(string_agg(CASE WHEN n_occ <= 1 THEN line END,
                ' ' ORDER BY line_id), '') AS scrubbed
            FROM k GROUP BY doc_id)
          SELECT doc_id, n_lines, n_lines_kept,
            CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
            md5(scrubbed) AS scrubbed_md5
          FROM d ORDER BY doc_id"""),
    // sliding-window mirror: 0-based window starts and token
    // positions on both engines; the rebuild is the ordered
    // string_agg of uncovered tokens
    Q("c39_substring_scrub", c39SubstringScrub,
      s"""WITH ${TrainingQueries.corpusSql},
          t AS (SELECT doc_id,
                  regexp_extract_all(lower(trim(text)), '\\S+') AS tk
                FROM corpus),
          w AS (
            SELECT doc_id, tk,
              unnest(generate_series(0, len(tk) - 10)) AS wpos
            FROM t WHERE len(tk) >= 10),
          wt AS (
            SELECT doc_id, wpos,
              array_to_string(list_slice(tk, wpos + 1, wpos + 10), ' ')
                AS win
            FROM w),
          occ AS (SELECT win, count(*) AS n_occ FROM wt GROUP BY win),
          cov AS (
            SELECT DISTINCT doc_id, pos FROM (
              SELECT doc_id,
                unnest(generate_series(wpos, wpos + 9)) AS pos
              FROM wt JOIN occ ON wt.win = occ.win
              WHERE occ.n_occ > 1)),
          tok AS (
            SELECT doc_id, tk,
              unnest(generate_series(0, len(tk) - 1)) AS pos
            FROM t WHERE len(tk) > 0),
          tp AS (SELECT doc_id, pos, tk[pos + 1] AS tok FROM tok),
          j AS (
            SELECT tp.doc_id, tp.pos, tp.tok,
              cov.doc_id IS NOT NULL AS dup
            FROM tp LEFT JOIN cov
              ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos),
          d AS (
            SELECT doc_id, count(*) AS n_tokens,
              CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_tokens_kept,
              coalesce(string_agg(CASE WHEN NOT dup THEN tok END,
                ' ' ORDER BY pos), '') AS scrubbed
            FROM j GROUP BY doc_id)
          SELECT doc_id, n_tokens, n_tokens_kept,
            CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
            md5(scrubbed) AS scrubbed_md5
          FROM d ORDER BY doc_id"""),
    // c9's score formula in integer micro-units, then per-lang rank →
    // ppm percentile and CCNet tercile
    Q("c40_quality_calibrate", c40QualityCalibrate, {
      val stopSet = TrainingQueries.markersIn(
        TextAnalysis.langMarkers.flatMap(_._2).distinct)
      s"""WITH t AS (
            SELECT doc_id, lang, coalesce(text, '') AS text,
              regexp_extract_all(lower(trim(coalesce(text, ''))), '\\S+')
                AS tk
            FROM documents),
          m AS (
            SELECT doc_id, lang,
              length(text) AS n_chars, len(tk) AS n_tokens,
              length(text) - length(regexp_replace(text,
                '[^A-Za-z0-9\\s]', '', 'g')) AS punct_n,
              len(list_filter(tk, x -> x IN $stopSet)) AS stop_hits
            FROM t),
          r AS (
            SELECT doc_id, lang,
              CASE WHEN n_chars > 0
                THEN CAST(round(punct_n * 1000000.0 / n_chars) AS BIGINT)
                ELSE 0 END AS pr6,
              CASE WHEN n_tokens > 0
                THEN CAST(round(stop_hits * 1000000.0 / n_tokens) AS BIGINT)
                ELSE 0 END AS sr6,
              least(CAST(n_tokens AS BIGINT) * 10000, 1000000) AS ls6
            FROM m),
          s AS (
            SELECT doc_id, lang,
              CAST(((2 * ls6 + (1000000 - pr6) + least(5 * sr6, 1000000))
                + 2) // 4 AS BIGINT) AS score_micro
            FROM r),
          k AS (
            SELECT *,
              row_number() OVER (PARTITION BY lang
                ORDER BY score_micro, doc_id) AS rk,
              count(*) OVER (PARTITION BY lang) AS n
            FROM s)
          SELECT doc_id, lang, score_micro,
            CAST((rk - 1) * 1000000 // n AS BIGINT) AS pct_ppm,
            CASE CAST(3 * (rk - 1) // n AS BIGINT)
              WHEN 0 THEN 'tail' WHEN 1 THEN 'middle' ELSE 'head' END
              AS ccnet_bucket
          FROM k ORDER BY doc_id"""
    }),
    // same line model as c26/c38; chunk assignment is the contiguous
    // running-sum rule, chunk text proven by ordered string_agg md5
    Q("c41_line_chunks", c41LineChunks,
      s"""WITH t AS (
            SELECT doc_id,
              regexp_extract_all(lower(trim(text)), '\\S+') AS tk
            FROM documents),
          cx AS (
            SELECT doc_id, tk,
              unnest(generate_series(0,
                CAST((len(tk) - 1) // 10 AS BIGINT))) AS line_id
            FROM t WHERE len(tk) > 0),
          l AS (
            SELECT doc_id, line_id,
              list_slice(tk, line_id * 10 + 1, line_id * 10 + 10) AS lt
            FROM cx),
          m AS (
            SELECT doc_id, line_id, CAST(len(lt) AS BIGINT) AS line_tokens,
              array_to_string(lt, ' ') AS line_txt
            FROM l),
          cm AS (
            SELECT *, sum(line_tokens) OVER (PARTITION BY doc_id
              ORDER BY line_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS cum
            FROM m)
          SELECT doc_id,
            CAST((cum - line_tokens) // 50 AS BIGINT) AS chunk_id,
            count(*) AS n_lines,
            CAST(sum(line_tokens) AS BIGINT) AS chunk_tokens,
            min(line_id) AS first_line, max(line_id) AS last_line,
            md5(string_agg(line_txt, ' ' ORDER BY line_id)) AS chunk_md5
          FROM cm GROUP BY doc_id, chunk_id
          ORDER BY doc_id, chunk_id"""),
    // the c19/c35 recursive-CTE cluster fixpoint + a length rank in
    // place of the min-id keep rule
    Q("c42_keep_best", c42KeepBest,
      s"""WITH RECURSIVE ${TrainingQueries.clusterCteSql},
          wc AS (
            SELECT c.doc_id, coalesce(cl.cluster, c.doc_id) AS cluster,
              CAST(length(c.text) AS BIGINT) AS n_chars
            FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY cluster
              ORDER BY n_chars DESC, doc_id) AS rk
            FROM wc)
          SELECT doc_id, cluster, n_chars,
            CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM r ORDER BY doc_id""")
  )
}
