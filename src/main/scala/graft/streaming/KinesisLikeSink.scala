package graft.streaming

import scala.collection.mutable

/** In-memory stand-in for the Kinesis `put_record` contract the
  * reference targets (reference lib/trike/proxy.ex:171-204 via
  * ex_aws_kinesis): a put is keyed by partition key, returns a
  * sequence number, and the caller chains the previous sequence number
  * through `sequence_number_for_ordering` so records within one key
  * are strictly ordered.
  *
  * This is the test/spec sink: it enforces the chain (a put with a
  * stale `seqForOrdering` throws, like Kinesis would reject it) and
  * records everything for assertion. A production sink would implement
  * the same `put` contract against the real service from inside
  * `foreachBatch`/`ForeachWriter` partitions.
  */
final class KinesisLikeSink extends KeyedOrderedSink.PutClient {
  final case class PutRecord(partitionKey: String, seq: Long, data: String,
    batchId: Long)

  private val records = mutable.ArrayBuffer.empty[PutRecord]
  private val lastSeq = mutable.Map.empty[String, Long]
  private val perBatch = mutable.Map.empty[(String, Long), Long]
  private var nextSeq = 0L

  /** Put one record; `seqForOrdering` must be the sequence number
    * returned by the previous put for this key (or None for the
    * first), mirroring sequence_number_for_ordering. */
  def put(partitionKey: String, data: String, seqForOrdering: Option[Long],
    batchId: Long): Long = synchronized {
    val expected = lastSeq.get(partitionKey)
    require(seqForOrdering == expected,
      s"out-of-order put for $partitionKey: got $seqForOrdering, chain is at $expected")
    nextSeq += 1
    lastSeq(partitionKey) = nextSeq
    records += PutRecord(partitionKey, nextSeq, data, batchId)
    val run = (partitionKey, batchId)
    perBatch(run) = perBatch.getOrElse(run, 0L) + 1
    nextSeq
  }

  def lastSequence(partitionKey: String): Option[Long] =
    synchronized(lastSeq.get(partitionKey))

  /** Replay cursor (KeyedOrderedSink.PutClient): the per-(key, batch)
    * committed-record count a durable service would persist alongside
    * the records themselves. */
  override def putsInBatch(partitionKey: String, batchId: Long): Long =
    synchronized(perBatch.getOrElse((partitionKey, batchId), 0L))

  def all: Seq[PutRecord] = synchronized(records.toVector)

  def byKey(partitionKey: String): Seq[PutRecord] =
    synchronized(records.filter(_.partitionKey == partitionKey).toVector)
}
