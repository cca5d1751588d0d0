package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Broker-free stand-in for the Kafka source that makes its RUNTIME
  * semantics testable in this image (S2, SURVEY §2.8 T1/T3): same wire
  * schema as `spark.readStream.format("kafka")` — (key BINARY,
  * value BINARY, topic STRING, partition INT, offset LONG,
  * timestamp TIMESTAMP, timestampType INT) — and the same two contracts
  * the reference's consumer loop implements
  * (/root/reference/Kafka/Consumer/consumer_etl.py:30-53):
  *
  *  - **Bounded drain**: `maxOffsetsPerTrigger` (the real Kafka option
  *    name) caps each micro-batch's admitted offsets via
  *    `SupportsAdmissionControl`/`ReadLimit.maxRows` — the reference's
  *    `len(messages) < batch_max_size` poll guard as source-side
  *    backpressure.
  *  - **Run-to-current then stop**: `SupportsTriggerAvailableNow` pins
  *    the end offset at query start, so `Trigger.AvailableNow` drains
  *    exactly the messages that existed when the run began — the
  *    reference's `max_wait_seconds` bounded session, minus the wall
  *    clock.
  *
  * Messages are deterministic telemetry JSON (same shape as the
  * reference producer, Producer.py:130-137), round-robined over
  * `parts` Kafka-style partitions; (partition, offset) are derived
  * from the global index exactly like a `roundrobin`-partitioned
  * topic, so downstream offset bookkeeping sees real Kafka geometry.
  * The stream's checkpoint offset is the global admitted count —
  * replaying any [start, end) slice regenerates identical rows, which
  * is what makes the exactly-once spec assertable. */
class KafkaShapedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaShapedSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // The real Kafka source resolves option keys case-insensitively
    // (.option("maxoffsetspertrigger", ...) works); match it so code
    // ported between the two sources keeps its admission control.
    val opts     = new CaseInsensitiveStringMap(properties)
    val messages = Option(opts.get("messages")).map(_.toLong).getOrElse(1000L)
    val parts    = Option(opts.get("parts")).map(_.toInt).getOrElse(3)
    val topic    = Option(opts.get("topic")).getOrElse("first-topic")
    val maxPer   = Option(opts.get("maxOffsetsPerTrigger"))
      .map(_.toLong).getOrElse(messages)
    new KafkaShapedTable(messages, parts, topic, maxPer)
  }
}

object KafkaShapedSource {
  /** The Kafka source's exact read schema — key AND value nullable,
    * as in format("kafka") (a tombstone message has a null value). */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("timestampType", IntegerType, nullable = false)))

  /** Uniform [0,1) from (i, salt) — plain-Scala twin of
    * TelemetryGen's hash-mix (stable under any partitioning). */
  private def u(i: Long, salt: Int): Double = {
    val h = java.lang.Long.remainderUnsigned(
      (i + 1) * 2654435761L + salt * 40503L, 1L << 32)
    (h % 1000000L).toDouble / 1000000.0
  }

  private val statuses = Array("in_transit", "delivered", "delayed")

  /** Deterministic telemetry JSON for global message index `i` —
    * exposed so specs can recompute the expected payload set. */
  def payload(i: Long): String = {
    val truck  = f"TRUCK_${(u(i, 1) * 15).toInt + 1}%03d"
    val ts     = java.time.Instant.ofEpochSecond(1700000000L + i)
      .toString.stripSuffix("Z")
    val lat    = math.round((17.38 + u(i, 2) * 0.01) * 1e6) / 1e6
    val lon    = math.round((78.48 + u(i, 3) * 0.01) * 1e6) / 1e6
    val fuel   = math.round((50.0 + u(i, 4) * 50.0) * 100) / 100.0
    val temp   = math.round((15.0 + u(i, 5) * 10.0) * 10) / 10.0
    val status = statuses((u(i, 6) * 3).toInt)
    s"""{"truck_id":"$truck","timestamp":"$ts",""" +
      s""""location":{"lat":$lat,"lon":$lon},"fuel_level":$fuel,""" +
      s""""temperature":$temp,"delivery_status":"$status"}"""
  }

  /** Event-time of message `i` in epoch µs (1 msg/s from the fixed
    * epoch — matches `payload`'s timestamp field). */
  def eventTimeMicros(i: Long): Long = (1700000000L + i) * 1000000L
}

private[sources] class KafkaShapedTable(messages: Long, parts: Int,
    topic: String, maxPer: Long) extends Table with SupportsRead {
  override def name(): String = s"kafka_shaped($topic, $messages msgs)"
  override def schema(): StructType = KafkaShapedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new KafkaShapedScan(messages, parts, topic, maxPer)
}

private[sources] class KafkaShapedScan(messages: Long, parts: Int,
    topic: String, maxPer: Long) extends Scan with Batch {
  override def readSchema(): StructType = KafkaShapedSource.schema
  override def description(): String =
    s"KafkaShaped topic=$topic messages=$messages maxOffsetsPerTrigger=$maxPer"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    RangeSlice.slices(0L, messages, parts)
  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaShapedReaderFactory(topic, parts)

  /** Bounded drain: offsets are global admitted-message counts; each
    * batch's end = min(messages, start + maxPer). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RangeMicroBatchStream(0L, messages, parts, maxPer, createReaderFactory())
}

private[sources] class KafkaShapedReaderFactory(topic: String, parts: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RangeSlice]
    val topicUtf = UTF8String.fromString(topic)
    new PartitionReader[InternalRow] {
      private var i = p.lo - 1
      // one reusable row per reader (Spark copies each row out via its
      // unsafe projection) — same allocation discipline as SeqSource
      private val row = new GenericInternalRow(7)
      override def next(): Boolean = { i += 1; i < p.hi }
      override def get(): InternalRow = {
        row.update(0, null) // key: the producer sends unkeyed messages
        row.update(1, KafkaShapedSource.payload(i).getBytes("UTF-8"))
        row.update(2, topicUtf)
        row.update(3, (i % parts).toInt)     // round-robin partition
        row.update(4, i / parts)             // per-partition offset
        row.setLong(5, KafkaShapedSource.eventTimeMicros(i))
        row.update(6, 0)                     // CreateTime
        row
      }
      override def close(): Unit = ()
    }
  }
}
