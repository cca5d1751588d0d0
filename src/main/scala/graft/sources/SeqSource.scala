package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A full DataSource V2 batch source: deterministic sequence generator
  * with REAL pushdown surfaces, the custom-source tier of SURVEY.md
  * §2.9 (the reference's only "source" beyond files is its synthetic
  * telemetry producer, /root/reference/Kafka/Producer/Producer.py:125-137
  * — this is that idea as a native Spark connector instead of an
  * external process).
  *
  * Why it matters at 100 TB: a connector is where scan-time efficiency
  * is won or lost. This source demonstrates the three mechanisms a
  * production connector must implement, end-to-end and spec-pinned:
  *
  *  - `SupportsPushDownFilters`: id-range predicates TIGHTEN THE
  *    GENERATION RANGE itself (the analog of parquet row-group/partition
  *    pruning) — a pushed `id >= x` means those rows are never produced,
  *    not produced-then-dropped. Fully-handled filters are consumed;
  *    anything else is returned as residual for Spark to re-apply.
  *  - `SupportsPushDownRequiredColumns`: only requested columns are
  *    materialized per row (column pruning reaches the reader).
  *  - `planInputPartitions`: the range splits into `parts` contiguous
  *    slices — reader parallelism is the source's job, not repartition's.
  *
  * Everything generated is exact integer arithmetic (Knuth
  * multiplicative hash mod 2^32), so a DuckDB oracle reproduces the
  * stream bit-for-bit — the source is hash-checked like every other
  * operator, not just smoke-tested.
  *
  * Columns: id BIGINT, bucket = id % 97, mval = (id*2654435761) % 2^32,
  * uval = mval / 2^32 (exact: mval < 2^32 is double-representable and
  * the divisor is a power of two).
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeqSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val rows  = Option(properties.get("rows")).map(_.toLong).getOrElse(1L << 20)
    val parts = Option(properties.get("parts")).map(_.toInt).getOrElse(8)
    val batch = Option(properties.get("batchRows")).map(_.toLong).getOrElse(rows)
    new SeqTable(rows, parts, batch)
  }
}

object SeqSource {
  val MIX = 2654435761L // Knuth's multiplicative constant
  val MOD = 1L << 32

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("mval", LongType, nullable = false),
    StructField("uval", DoubleType, nullable = false)))
}

private[sources] class SeqTable(rows: Long, parts: Int, batchRows: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_seq($rows)"
  override def schema(): StructType = SeqSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(rows, parts, batchRows)
}

private[sources] class SeqScanBuilder(rows: Long, parts: Int, batchRows: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var lo = 0L
  private var hi = rows
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SeqSource.schema

  /** id-range (and the trivially-true IsNotNull) filters are consumed
    * into [lo, hi) generation bounds; everything else is residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, residual) = filters.partition {
      case GreaterThan("id", _: java.lang.Long)        => true
      case GreaterThanOrEqual("id", _: java.lang.Long) => true
      case LessThan("id", _: java.lang.Long)           => true
      case LessThanOrEqual("id", _: java.lang.Long)    => true
      case EqualTo("id", _: java.lang.Long)            => true
      case IsNotNull(_)                                => true
      case _                                           => false
    }
    handled.foreach {
      case GreaterThan("id", v: java.lang.Long)        => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("id", v: java.lang.Long) => lo = math.max(lo, v.longValue)
      case LessThan("id", v: java.lang.Long)           => hi = math.min(hi, v.longValue)
      case LessThanOrEqual("id", v: java.lang.Long)    => hi = math.min(hi, v + 1)
      case EqualTo("id", v: java.lang.Long) =>
        lo = math.max(lo, v.longValue); hi = math.min(hi, v + 1)
      case _ => ()
    }
    pushed = handled
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new SeqScan(lo, hi, parts, required, batchRows)
}

private[sources] class SeqScan(lo: Long, hi: Long, parts: Int,
    schema: StructType, batchRows: Long) extends Scan with Batch {
  override def readSchema(): StructType = schema

  /** Pushdown state surfaces in `explain` — PlanSpec pins it. */
  override def description(): String =
    s"GraftSeq range=[$lo,$hi) cols=${schema.fieldNames.mkString(",")}"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RangeMicroBatchStream(lo, hi, parts, batchRows, createReaderFactory())

  override def planInputPartitions(): Array[InputPartition] =
    RangeSlice.slices(lo, hi, parts)

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqReaderFactory(schema.fieldNames)
}

/** Ships only the pruned column list to executors; each reader computes
  * just those fields per row. */
private[sources] class SeqReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RangeSlice]
    new PartitionReader[InternalRow] {
      private var id   = p.lo - 1
      private val row  = new GenericInternalRow(cols.length)
      override def next(): Boolean = { id += 1; id < p.hi }
      override def get(): InternalRow = {
        val mval = (id * SeqSource.MIX) % SeqSource.MOD
        var i = 0
        while (i < cols.length) {
          row.update(i, cols(i) match {
            case "id"     => id
            case "bucket" => (id % 97).toInt
            case "mval"   => mval
            case "uval"   => mval.toDouble / SeqSource.MOD
          })
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}
