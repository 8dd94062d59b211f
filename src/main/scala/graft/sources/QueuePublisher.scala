package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Executor-parallel publish of a DataFrame back to the [[QueueBroker]]
  * — the reference's RE-ENQUEUE half (main.ts:388-409: a failed batch
  * fans out as retry jobs pushed back onto the queue). Each task opens
  * its own socket connection (the per-task producer shape a Kafka sink
  * uses — nothing corpus-sized crosses the driver), and rows route to
  * broker partition pmod(hash(key), P) so retries for the same message
  * land on a deterministic partition. Returns the number published
  * (accumulator-counted on the executors).
  *
  * Wire shape (r9): ONE idempotent `PUBBATCH` per task, not one `PUB`
  * round trip per row — row-at-a-time publishing pays a full RPC wait
  * per row (~3 ms even with TCP_NODELAY; a 1M-row DLQ replay would
  * spend ~an hour in latency alone). The batch key is
  * (publish-call id, 0, partitionId), so a Spark TASK RETRY or a
  * speculative duplicate re-offers a byte-identical batch and the
  * broker's ledger drops it: each publish() call delivers its rows
  * EXACTLY ONCE even through task failures — strictly stronger than
  * the old per-row at-least-once. A *new* publish() call is a new
  * logical job (fresh call id) and appends again, as re-enqueue
  * semantics require. The consumer-side `message_id` dedup remains
  * the end-to-end backstop for replays above this layer.
  *
  * Each task buffers its slice before the send — PUBBATCH needs the
  * whole frame up front (the broker dedups/digests it atomically), the
  * same commit-time buffer contract as the DSv2 sink — and opens one
  * broker connection. The publish frame is coalesced to at most 8
  * tasks so a 10k-partition retry frame doesn't open 10k sockets
  * against one broker. The trade is explicit: fewer tasks = fewer
  * connections but LARGER per-task buffers (~|rows|/8 each,
  * broker-side too). Coalesce is narrow (no shuffle).
  */
object QueuePublisher {

  def publish(df: DataFrame, host: String, port: Int,
              payload: Column, key: Column): Long = {
    val acc = df.sparkSession.sparkContext.longAccumulator("queue_published")
    val parts = {
      val c = new QueueBroker.Client(host, port)
      try c.numPartitions finally c.close()
    }
    // fresh id per logical publish; tasks of ONE call share it so their
    // retries dedup, while a later call is a new job (no whitespace —
    // PUBBATCH keys are space-delimited on the wire)
    val callId = "pub-" + java.util.UUID.randomUUID().toString
    df.select(payload.cast("string").as("__p"), pmod(hash(key), lit(parts)).as("__bp"))
      .filter(col("__p").isNotNull)
      .coalesce(8)
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val rows = it.map(r => (r.getInt(1), r.getString(0))).toVector
          val c = new QueueBroker.Client(host, port)
          try {
            c.publishBatch(callId, 0L, pid, rows)
            acc.add(rows.size.toLong)
          } finally c.close()
        }
      }
    acc.value
  }
}
