package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** The composed training-corpus preparation pipeline — the user story
  * the individual C-series operators exist for, as one call:
  *
  *   exact dedup → quality/length filter → near-dup pairs →
  *   connected-components clustering → keep cluster minima
  *
  * Each stage is the already-audited operator; composition adds no new
  * shuffles beyond the stages' own (Catalyst fuses the projections
  * between them). The output is the kept documents with every original
  * column carried through, ready for `Chunker.chunkTokens`.
  */
object CorpusPipeline {

  /** `lsh = true` (default) generates near-dup candidates via
    * MinHash+LSH banding — the 100 TB path (candidates bounded by
    * bucket-mates, never corpus²); `false` uses the exact shingle
    * self-join, the audit variant for verification runs. Both verify
    * candidates with exact Jaccard at `jaccardThreshold`. */
  case class Config(
      minTokens: Int = 40,
      minQuality: Double = 0.5,
      shingleN: Int = 5,
      jaccardThreshold: Double = 0.6,
      lsh: Boolean = true)

  /** Documents that survive exact dedup, the quality gate, and
    * near-dup clustering (one kept doc per duplicate cluster). */
  def keptDocs(docs: DataFrame, idCol: String, textCol: String,
               cfg: Config = Config()): DataFrame = {
    val deduped = Dedup.dropExactDups(docs, idCol, textCol)
    val t = coalesce(col(textCol), lit(""))
    val quality = TextAnalysis.qualityColsFrom(t, Fns.tokens(t)).toMap
    // persisted: the dedup window + quality scan feeds pair generation,
    // the clustering actions, AND the final anti-join — without the
    // cache the whole upstream re-runs per action (same bounded
    // columnar materialization contract as Dedup.minHashLsh)
    val filtered = deduped
      .withColumn("__ntok", quality("n_tokens"))
      .withColumn("__q", quality("quality_score"))
      .filter(col("__ntok") >= cfg.minTokens && col("__q") >= cfg.minQuality)
      .drop("__ntok", "__q")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs =
      if (cfg.lsh)
        Dedup.minHashLsh(filtered, idCol, textCol,
          n = cfg.shingleN, k = 8, bands = 4,
          threshold = cfg.jaccardThreshold)
      else
        Dedup.ngramJaccardPairs(filtered, idCol, textCol,
          n = cfg.shingleN, threshold = cfg.jaccardThreshold)
    val dropIds = Dedup.connectedComponents(pairs, "id1", "id2")
      .filter(col("node") =!= col("component")) // non-minima of each cluster
      .select(col("node").as(idCol))
    filtered.join(dropIds, Seq(idCol), "left_anti")
  }
}
