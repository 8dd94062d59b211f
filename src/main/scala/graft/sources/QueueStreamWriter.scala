package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** The WRITE half of the `graft-queue` connector — a streaming
  * `format("graft-queue")` sink — making the broker surface
  * symmetric with Kafka's both ways (reference: main.ts:388-409, the
  * producer half of the retry loop). Shape:
  *
  *  - each partition task buffers its (trigger-bounded) rows and
  *    publishes them as ONE idempotent `PUBBATCH` at task commit —
  *    nothing reaches the broker from uncommitted tasks, so `abort`
  *    is a local buffer drop;
  *  - the broker dedups on (queryId, epochId, partitionId) — the
  *    Kafka producer-id/sequence model — so a task retry, a
  *    speculative duplicate, or a whole EPOCH replay after restart
  *    re-offers the same batch and appends nothing: exactly-once into
  *    the log without a broker-side transaction log
  *    (StreamingBrokerSinkSpec forces both retries and asserts it);
  *  - input schema: `value STRING` required; optional `partition INT`
  *    routes explicitly (pmod into broker partitions), else rows
  *    route by a deterministic hash of the value — retries must land
  *    on the same partitions for the dedup to be byte-equivalent.
  *
  * CONSTRAINT: the dedup key is (queryId, epochId, partitionId), so a
  * replayed epoch must re-offer byte-identical batches under the same
  * writer ids. That holds when the upstream plan is deterministic and
  * the sink's partition layout is stable across restarts (do NOT
  * change `spark.sql.shuffle.partitions` between a crash and its
  * recovery). The broker enforces it: each accepted batch's content
  * digest is remembered, and a key replay with different content is
  * REFUSED with an error (fail-loud) rather than silently dropped —
  * see [[QueueBroker.batchDigest]].
  */
private[sources] final class QueueStreamingWrite(
    host: String, port: Int, info: LogicalWriteInfo)
    extends StreamingWrite {

  private val schema: StructType = info.schema()
  private val valueIdx = schema.fieldIndex("value")
  require(schema(valueIdx).dataType == StringType,
    s"graft-queue sink: 'value' must be STRING, got ${schema(valueIdx).dataType}")
  private val partIdx: Int =
    if (schema.fieldNames.contains("partition")) {
      val i = schema.fieldIndex("partition")
      require(schema(i).dataType == IntegerType,
        s"graft-queue sink: 'partition' must be INT, got ${schema(i).dataType}")
      i
    } else -1

  override def createStreamingWriterFactory(
      pi: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val brokerParts = {
      val c = new QueueBroker.Client(host, port)
      try c.numPartitions finally c.close()
    }
    QueueWriterFactory(host, port, info.queryId(), valueIdx, partIdx, brokerParts)
  }

  /** The broker's batch ledger is the commit protocol — by the time
    * every task committed, the epoch's rows are in the log exactly
    * once, so the epoch-level calls carry no further work. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] final case class QueueWriterFactory(
    host: String, port: Int, queryId: String,
    valueIdx: Int, partIdx: Int, brokerParts: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new QueueDataWriter(host, port, queryId, valueIdx, partIdx,
      brokerParts, partitionId, epochId)
}

private[sources] final case class QueueWriteCommitted(
    partitionId: Int, appended: Long) extends WriterCommitMessage

/** Executor-side producer: buffer → one PUBBATCH on commit. */
private[sources] final class QueueDataWriter(
    host: String, port: Int, queryId: String, valueIdx: Int, partIdx: Int,
    brokerParts: Int, partitionId: Int, epochId: Long)
    extends DataWriter[InternalRow] {

  private val buf = ArrayBuffer[(Int, String)]()

  override def write(row: InternalRow): Unit =
    if (!row.isNullAt(valueIdx)) {
      val v = row.getUTF8String(valueIdx).toString
      val bp =
        if (partIdx >= 0 && !row.isNullAt(partIdx))
          math.floorMod(row.getInt(partIdx), brokerParts)
        else
          math.floorMod(scala.util.hashing.MurmurHash3.stringHash(v), brokerParts)
      buf += ((bp, v))
    }

  override def commit(): WriterCommitMessage = {
    val c = new QueueBroker.Client(host, port)
    val appended =
      try c.publishBatch(queryId, epochId, partitionId, buf.toSeq)
      finally c.close()
    QueueWriteCommitted(partitionId, appended)
  }

  override def abort(): Unit = buf.clear() // nothing was published

  override def close(): Unit = ()
}
