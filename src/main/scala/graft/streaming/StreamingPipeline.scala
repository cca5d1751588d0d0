package graft.streaming

import graft.analytics.{Caches, Sizing}
import graft.functions.{perRun, RunConstant}
import graft.pipeline.LogisticsPipeline
import graft.schemas.Schemas
import graft.ingest.RawJsonReader
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{CoalesceExec, LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
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
  * A trigger is cheap to repeat. Its two layer writes are planned once
  * per session, batch schema and session conf, and held: a warm trigger
  * binds its batch's rows, task count and `processed_at` stamp into a
  * copy of each held plan, with no analysis, optimization or physical
  * planning of the stages. The stamp is a [[graft.functions.RunConstant]],
  * not inlined into generated code (`batch_id` is in the output path, not
  * the plan), and the writes run on the caller's session, so a warm
  * trigger also reuses every class the first one compiled. Its task
  * count follows the batch's bytes, so a poll-sized batch pays one
  * task's fixed cost per layer, not one per input file.
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
    * layers stay readable after any batch.
    *
    * The layers' executed plans are built once per (session, batch
    * schema, session conf) with the stage functions above, over an empty
    * placeholder input, and held in the session's memo table
    * ([[graft.analytics.Caches.SessionMemo]]): a conf change plans anew,
    * and `Caches.releaseMemos()` drops them. Each trigger writes a copy
    * bound to the `LogicalRDD` of rows that `foreachBatch` hands over. */
  def run(spark: SparkSession, rawPath: String, outRoot: String,
      checkpoint: String): StreamingQuery =
    rawFileSource(spark, rawPath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val input = batch.queryExecution.logical match {
          case rows: LogicalRDD => rows
          case other => throw new IllegalStateException(
            s"foreachBatch handed a ${other.nodeName}, not the LogicalRDD of a batch's rows")
        }
        val key = input.schema.json + spark.conf.getAll.toSeq.sorted.mkString("\n", "\n", "")
        val plans = layerPlans.getOrElseUpdate((spark, key), LayerPlans(spark, input.output))
        val tasks = Sizing.rawBatchPartitions(input.stats.sizeInBytes,
          spark.sparkContext.defaultParallelism)
        val stamp = perRun.micros("UTC")
        for ((layer, plan) <- plans.layers) {
          val bound = plans.bind(plan, input.rdd, tasks, stamp)
          Sinks.save(Bridge.ofRdd(spark, bound.output, bound.execute()),
            s"$outRoot/$layer/batch_id=$batchId", SaveMode.Overwrite)
        }
      }
      .start()

  /** The executed plans of a batch's two layer writes, by layer, planned
    * once over `placeholder`, an empty input of the batch's schema, for
    * [[bind]] to point at each batch. */
  private final class LayerPlans(placeholder: RDD[InternalRow],
      val layers: Seq[(String, SparkPlan)]) {

    /** `plan` over `rows`, coalesced to `tasks` partitions, stamped
      * `stamp`: the three inputs that change from batch to batch. */
    def bind(plan: SparkPlan, rows: RDD[InternalRow], tasks: Int, stamp: Long): SparkPlan =
      plan.transformUp {
        case scan: RDDScanExec if scan.rdd eq placeholder => scan.copy(rdd = rows)
        case coalesce: CoalesceExec => coalesce.copy(numPartitions = tasks)
      }.transformAllExpressions { case RunConstant(_, t) => RunConstant(stamp, t) }
  }

  private object LayerPlans {
    /** Parse → validate → split over a placeholder `input`, planned on
      * `spark`. A plan that [[LayerPlans.bind]] could not bind whole fails
      * here, on the first trigger: one that reads another input, holds
      * no or several stamps or coalesces, or shuffles (an exchange would
      * fix its width when planned). */
    def apply(spark: SparkSession, input: Seq[Attribute]): LayerPlans = {
      val placeholder = spark.sparkContext.emptyRDD[InternalRow]
      val validated = LogisticsPipeline.validateStage(RawJsonReader.parse(
        Bridge.ofRdd(spark, input, placeholder).coalesce(1), Schemas.telemetry))
      val layers = Seq("curated" -> Splitter.curated(validated),
        "rejected" -> Splitter.rejected(validated, LogisticsPipeline.coreCols))
      new LayerPlans(placeholder, layers.map { case (layer, df) =>
        val plan = df.queryExecution.executedPlan
        val reads = plan.collectLeaves().map {
          case s: RDDScanExec => (s.rdd eq placeholder) && s.output == input
          case _ => false
        }
        val stamps = plan.flatMap(_.expressions.flatMap(_.collect { case c: RunConstant => c }))
        require(reads == Seq(true), s"a held layer plan must read the batch's rows once:\n$plan")
        require(stamps.size == 1, s"a held layer plan must carry one stamp:\n$plan")
        require(plan.collect { case c: CoalesceExec => c }.size == 1 && plan.find {
          case _: Exchange | _: AdaptiveSparkPlanExec => true
          case _ => false
        }.isEmpty, s"a held layer plan must coalesce once and not shuffle:\n$plan")
        layer -> plan
      })
    }
  }

  private val layerPlans = new Caches.SessionMemo[LayerPlans]

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
