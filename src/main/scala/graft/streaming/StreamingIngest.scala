package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.operators.Dedup

/** Streaming ingestion dedup — the streaming face of c76's
  * cross-corpus operator: each micro-batch of incoming documents is
  * flagged against a STATIC reference corpus (yesterday's training
  * set), and the per-doc flags land in a parquet log partitioned by
  * stream batch id. The write is replay-IDEMPOTENT: each batch
  * dynamically overwrites ONLY its own `stream_batch_id=N` partition,
  * so a crash between the sink write and the checkpoint commit replays
  * the batch into the same partition instead of appending duplicates
  * (exactly-once output for deterministic batches — the Delta/Iceberg
  * idempotent-sink pattern expressed on plain parquet).
  *
  * Scale contract inherited from [[Dedup.flagsAgainstIndex]]: the band
  * join crosses batch×ref only, so per-trigger cost scales with the
  * micro-batch. The reference corpus's [[Dedup.CorpusIndex]] (shingle
  * sets + banded keys) is built and PERSISTED once before the stream
  * starts and reused by every trigger — no per-batch recompute or
  * cache of the reference side — and released when the query
  * terminates (listener below).
  */
object StreamingIngest {

  /** Start the flagging stream. `availableNow` drains what's present
    * and stops (the batch-refill shape); otherwise it runs on the
    * default micro-batch trigger. */
  def flagAgainstReference(docs: DataFrame, ref: DataFrame,
                           idCol: String, textCol: String,
                           outDir: String, checkpointDir: String,
                           threshold: Double = 0.5,
                           availableNow: Boolean = true): StreamingQuery = {
    val spark = docs.sparkSession
    val refIdx = Dedup.buildCorpusIndex(ref, idCol, textCol).persist()
    val q = Scaffold.foreachBatch(docs, checkpointDir, availableNow) {
      (batch, batchId) =>
        // new-side index stays unpersisted: a micro-batch is scanned
        // at most twice (band keys + verify), cheaper than churning
        // the block manager every trigger
        Dedup.flagsAgainstIndex(batch, idCol,
            Dedup.buildCorpusIndex(batch, idCol, textCol), refIdx,
            threshold = threshold)
          .withColumn("stream_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("stream_batch_id")
          .parquet(outDir)
    }
    // Release the reference index when THIS query terminates.
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == q.id) { refIdx.unpersist(); spark.streams.removeListener(this) }
    })
    q
  }
}
