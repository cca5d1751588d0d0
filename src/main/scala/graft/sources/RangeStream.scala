package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** The position of a range source: rows [0, n) have been admitted. The
  * JSON is the plain count, so a checkpoint is one number. */
private[sources] final case class RangeOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Rows [lo, hi) of a range source, read by one task. */
private[sources] final case class RangeSlice(lo: Long, hi: Long) extends InputPartition

private[sources] object RangeSlice {
  /** [lo, hi) cut into at most `parts` contiguous non-empty slices —
    * reader parallelism is the source's job, not repartition's. */
  def slices(lo: Long, hi: Long, parts: Int): Array[InputPartition] = {
    val n = math.max(0L, hi - lo)
    val chunk = math.max(1L, (n + parts - 1) / parts)
    (0 until parts).iterator
      .map(i => RangeSlice(lo + i * chunk, math.min(hi, lo + (i + 1) * chunk)))
      .filter(p => p.lo < p.hi)
      .toArray
  }
}

/** The streaming face shared by both range connectors (SeqSource and
  * KafkaShapedSource): the fixed range [lo, hi) admitted in bounded
  * micro-batches. Implements the two interfaces a production
  * rate-limited source needs:
  *
  *  - `SupportsAdmissionControl`: each batch's end offset is
  *    min(hi, start + maxRows) — backpressure as the SOURCE's contract
  *    (the reference caps its poll loop the same way,
  *    Kafka/Consumer/consumer_etl.py:30-53).
  *  - `SupportsTriggerAvailableNow`: the target offset is `hi`, fixed
  *    at construction, so AvailableNow drains exactly the rows that
  *    existed at query start, across as many micro-batches as the
  *    admission limit implies, and terminates.
  *
  * Offsets are plain row counts — restart-safe by construction (both
  * generators are pure, so replaying [start, end) is idempotent). */
private[sources] class RangeMicroBatchStream(lo: Long, hi: Long, parts: Int,
    maxRows: Long, factory: PartitionReaderFactory) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // the range never grows: `hi` is already the pinned target
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)

  override def initialOffset(): Offset = RangeOffset(lo)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[RangeOffset].n
    val cap = limit match {
      case m: ReadMaxRows => math.min(hi, start + m.maxRows())
      case _              => hi
    }
    RangeOffset(math.max(start, cap))
  }

  override def reportLatestOffset(): Offset = RangeOffset(hi)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    RangeSlice.slices(start.asInstanceOf[RangeOffset].n,
      end.asInstanceOf[RangeOffset].n, parts)

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def deserializeOffset(json: String): Offset = RangeOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
