package graft.streaming

import graft.analytics.Sizing
import graft.pipeline.LogisticsPipeline
import graft.schemas.Schemas
import graft.ingest.RawJsonReader
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface.
  *
  * The reference's ingestion plane is an externally orchestrated
  * micro-batch loop: Kafka poll (≤500 msgs / ≤60 s) → one S3 JSON file →
  * Airflow DAG detects the new file → Glue batch job reprocesses the
  * whole raw prefix (/root/reference/Kafka/Consumer/consumer_etl.py:
  * 43-67, airflow/dags/kafka_to_glue_dag.py:37-82). All of that
  * collapses into ONE always-on (or AvailableNow) streaming query: the
  * file source tracks processed files, checkpointing replaces XCom, and
  * `Trigger.AvailableNow` reproduces the bounded-drain semantics.
  *
  * Delivery upgrade (documented divergence): the reference is
  * at-least-once with a curated-overwrite-world per run; streaming mode
  * appends each micro-batch exactly once per checkpoint, so curated no
  * longer resets and rejected no longer accumulates cross-run
  * duplicates (SURVEY.md §2.8 T3).
  *
  * A trigger is cheap to repeat: its micro-batch runs on the caller's
  * session ([[onSession]]), and `processed_at`, the one value that
  * changes from run to run inside the plan, is fixed when the batch's
  * plan is built and held as a [[graft.functions.RunConstant]], not
  * inlined into generated code (`batch_id` is in the output path, not
  * the plan). So a warm trigger reuses every class the first one
  * compiled: code generation is paid once per JVM, not once per trigger.
  * Its task count follows the batch's bytes, so a poll-sized batch pays
  * one task's fixed cost per layer, not one per input file.
  */
object StreamingPipeline {

  /** Kafka wire rows → `value: String` lines: the projection between
    * the broker schema and the parse/validate core. Shared by the real
    * Kafka path below and the broker-free `KafkaShapedSource` spec
    * (StreamingSpec), so the tested transformation IS the production
    * one. */
  def kafkaValueLines(kafkaShaped: DataFrame): DataFrame =
    kafkaShaped.selectExpr("CAST(value AS STRING) AS value")

  /** Kafka source parity (S2): topic → `value: String` lines. The
    * `format("kafka")` line itself can't run here (no broker /
    * connector jars in this image), but its runtime semantics —
    * wire schema, bounded drain via maxOffsetsPerTrigger, AvailableNow
    * termination — are spec-tested through
    * `graft.sources.KafkaShapedSource`, which implements the same
    * contracts (SupportsAdmissionControl + SupportsTriggerAvailableNow)
    * against the same 7-column schema. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      maxPerTrigger: Long = 500): DataFrame =
    kafkaValueLines(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxPerTrigger)
      .load())

  /** File-source equivalent of the consumer's raw layer: each line is
    * one batch's JSON array (consumer_etl.py:63-67). Land each batch's
    * files in one directory: over a glob that matches more than 32
    * directories (`spark.sql.sources.parallelPartitionDiscovery.threshold`),
    * every trigger runs parallel listing jobs with one task per
    * directory, on top of the micro-batch's own tasks. */
  def rawFileSource(spark: SparkSession, rawPath: String): DataFrame =
    spark.readStream.text(rawPath)

  /** The streaming pipeline: same pure core (parse → clean → validate →
    * split) inside foreachBatch. Writes are IDEMPOTENT on replay: each
    * micro-batch overwrites its own `<layer>/batch_id=<id>` directory,
    * so a crash between the writes and the checkpoint commit replays the
    * batch into the same directory instead of duplicating rows —
    * effectively-exactly-once end to end. Readers of `<layer>` see
    * `batch_id` as a partition column.
    *
    * A batch runs [[graft.analytics.Sizing.rawBatchPartitions]] tasks
    * per layer, sized from its input bytes: one for the reference's
    * poll-sized batches, full fan-out for a backlog or a source of
    * unknown size. An empty layer still leaves its batch directory,
    * holding one zero-row part file with the layer's schema, so both
    * layers stay readable after any batch. */
  def run(spark: SparkSession, rawPath: String, outRoot: String,
      checkpoint: String): StreamingQuery =
    rawFileSource(spark, rawPath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(onSession(spark) { (batch, batchId) =>
        val tasks = Sizing.rawBatchPartitions(
          batch.queryExecution.optimizedPlan.stats.sizeInBytes,
          spark.sparkContext.defaultParallelism)
        val parsed    = RawJsonReader.parse(batch.coalesce(tasks), Schemas.telemetry)
        val validated = LogisticsPipeline.validateStage(parsed)
        val curated   = Splitter.curated(validated)
        val rejected  = Splitter.rejected(validated, LogisticsPipeline.coreCols)
        Sinks.save(curated, s"$outRoot/curated/batch_id=$batchId", SaveMode.Overwrite)
        Sinks.save(rejected, s"$outRoot/rejected/batch_id=$batchId", SaveMode.Overwrite)
      })
      .start()

  /** `body` as a `foreachBatch` function that sees each micro-batch as a
    * frame of `spark`, the session that starts the stream. Spark hands
    * `foreachBatch` a frame of the stream's own clone of that session,
    * and each `start()` clones anew: the clone's jobs carry a new
    * artifact state, so every task-side class is compiled again in a new
    * executor classloader (the codegen cache is keyed on the classloader
    * and the source). Re-rooting the batch's plan on `spark` keeps every
    * stream's jobs on one artifact state, and lets the body join the
    * batch with frames of `spark` without mixing sessions. */
  def onSession(spark: SparkSession)(body: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => body(Bridge.ofRows(spark, batch.queryExecution.logical), batchId)

  /** Event-time windowed aggregation with a watermark (T6 EXT surface):
    * per (1-hour window, event_type) counts/sums, 10-minute lateness. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  final case class Reading(truck_id: String, seq: Long, fuel_level: Double)
  final case class Refuel(truck_id: String, seq: Long, jump: Double)
  final case class FuelState(lastSeq: Long, lastFuel: Double)

  /** Stateful per-key processing (T6 EXT): detect refuels (fuel jumps
    * > `threshold` between consecutive readings per truck) with
    * flatMapGroupsWithState — the custom-state surface the reference's
    * per-truck telemetry would need. Works identically over a batch
    * Dataset (tests) and a stream. */
  def refuelDetector(readings: Dataset[Reading], threshold: Double = 10.0)
      : Dataset[Refuel] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.truck_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (truck: String, rows: Iterator[Reading], state: GroupState[FuelState]) =>
          // state persists across micro-batches; within one batch we fold
          // readings in sequence order
          val sorted = rows.toSeq.sortBy(_.seq)
          val init   = state.getOption
          val (events, last) = sorted.foldLeft(
            (Vector.empty[Refuel], init)) { case ((acc, prev), r) =>
            val jump = prev.map(p => r.fuel_level - p.lastFuel).getOrElse(0.0)
            val acc2 = if (prev.nonEmpty && jump > threshold)
              acc :+ Refuel(truck, r.seq, jump) else acc
            (acc2, Some(FuelState(r.seq, r.fuel_level)))
          }
          last.foreach(state.update)
          events.iterator
      }
  }
}
