package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.IncrementalRollup

/** The streaming half of the SummingMergeTree / materialized-view
  * story (reference: the MergeTree tables its worker CREATEs,
  * clickhouse-batch-client.class.ts:492-568, exist to feed exactly
  * this rollup; CH maintains the view as parts merge in the
  * background).
  *
  * Spark-first shape: each micro-batch contributes ONE partial-state
  * part — `IncrementalRollup.partialStates(batch)`, a frame the size
  * of the batch's key space — appended to a states table. Raw event
  * history is processed once and never rescanned; the read side
  * merges whatever parts exist (`merge` is associative/commutative,
  * so any prefix of parts is also a valid view) and finalizes. This
  * is incremental view maintenance with at-least-once parts: a
  * replayed micro-batch appends a duplicate part, which `batch_id`
  * dedup removes before the merge — the same read-side-exactly-once
  * filter as the routed tables' `message_id`.
  */
object StreamingRollup {

  /** Maintain a rollup-states table from a stream: per micro-batch,
    * one partial-agg pass → append the states part. */
  def start(spark: SparkSession, source: EventPipeline.EventSource,
            statesDir: String, checkpointDir: String,
            keys: Seq[String], value: Column,
            availableNow: Boolean = true): StreamingQuery =
    Scaffold.foreachBatch(source.load(spark), checkpointDir, availableNow) {
      (batch, batchId) =>
        IncrementalRollup.partialStates(batch, keys, value)
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(statesDir)
    }

  /** Read-side view: dedup replayed parts, merge states, finalize.
    * Cost is proportional to the states table (keys × batches), not
    * to event history. */
  def readFinal(spark: SparkSession, statesDir: String, keys: Seq[String]): DataFrame = {
    val parts = spark.read.parquet(statesDir)
      .dropDuplicates(keys :+ "batch_id")
      .drop("batch_id")
    IncrementalRollup.finalize(IncrementalRollup.merge(keys, Seq(parts)), keys)
  }

  /** The same maintenance for a NON-trivially-mergeable aggregate:
    * a streaming distinct-count view out of DataSketches-HLL states
    * (CH uniqState per part + uniqMerge at read — b34's streaming
    * half). Each micro-batch appends one KB-sized sketch per key;
    * raw ids never land in the states table, so the view costs
    * (keys × batches) sketches at ANY cardinality. */
  def startUniq(spark: SparkSession, source: EventPipeline.EventSource,
                statesDir: String, checkpointDir: String,
                keys: Seq[String], idCol: Column,
                availableNow: Boolean = true): StreamingQuery = {
    import org.apache.spark.sql.functions._
    Scaffold.foreachBatch(source.load(spark), checkpointDir, availableNow) {
      (batch, batchId) =>
        batch.groupBy(keys.map(col): _*)
          .agg(hll_sketch_agg(idCol).as("uniq_state"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(statesDir)
    }
  }

  /** Merge the per-batch sketches and estimate. Replayed parts dedup
    * on (keys, batch_id) exactly as in [[readFinal]]: one sketch row
    * survives per (key, batch) whichever replay wrote it — replays
    * summarize the same batch rows, so any surviving sketch carries
    * the same id set. */
  def readUniqFinal(spark: SparkSession, statesDir: String,
                    keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(statesDir)
      .dropDuplicates(keys :+ "batch_id")
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("uniq_state")))
        .as("n_distinct"))
  }
}
