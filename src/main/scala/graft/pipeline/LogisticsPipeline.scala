package graft.pipeline

import graft.analytics.Caches.TrackedPersist
import graft.expect.Expectations
import graft.ingest.RawJsonReader
import graft.lineage.Lineage
import graft.rules._
import graft.schemas.Schemas
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end telemetry pipeline — raw JSON → clean → validate →
  * split → expectation gate → curated/rejected/lineage layers. Same
  * stages as /root/reference/Glue/Glue_job.py, re-planned for scale:
  *
  *  - ONE persist of the post-validation plan instead of the reference's
  *    ~8-10 full raw re-parses (one per count()/write action —
  *    Glue_job.py:95,102,124-135).
  *  - The expectation gate is a distributed single-pass aggregate, not a
  *    500-row driver-side pandas sample (Glue_job.py:102).
  *  - Lineage layer counts come from the same single pass.
  *
  * Every stage is a pure DataFrame→DataFrame function, so the batch
  * entry point, streaming foreachBatch, and tests all share this code.
  */
object LogisticsPipeline {

  /** Reference rule set (Glue_job.py:56-61, README.md:110-117). */
  val rules: Seq[ValidationRule] = Seq(
    NotNull("truck_id", "missing_truck_id"),
    Between("fuel_level", 0, 100, "fuel_level_out_of_range"),
    Between("temperature", -10, 60, "temperature_out_of_range"),
    InSet("delivery_status", Seq("in_transit", "delivered", "delayed"),
      "invalid_delivery_status"),
    NestedNotNull("location", "lat", "missing_lat"),
    NestedNotNull("location", "lon", "missing_lon"))

  val coreCols: Seq[String] = Seq("truck_id", "timestamp", "location",
    "fuel_level", "temperature", "delivery_status", "processed_at")

  final case class Result(
      curated: DataFrame,
      rejected: DataFrame,
      lineage: DataFrame,
      geStatus: String)

  /** Clean + validate + stamp: the narrow-transform core. */
  def validateStage(parsed: DataFrame, zone: String = "UTC"): DataFrame = {
    val clean = Validator.cleanNanNull(parsed, Seq("fuel_level", "temperature"))
    Validator.validate(clean, rules)
      .withColumn("processed_at", from_utc_timestamp(current_timestamp(), zone))
  }

  /** Full run from a raw directory; the gate runs on all rows.
    * `suitePath`: Some(file) loads the quality gate DECLARATIVELY from
    * a Great Expectations JSON document (the reference's
    * Validation_checks.json format, parsed by
    * [[graft.expect.SuiteLoader]]) — editing the JSON changes the gate
    * with no code change, exactly the reference's workflow; None keeps
    * the code-defined [[Expectations.referenceSuite]] (identical
    * semantics, spec-pinned). A malformed or unknown-typed suite file
    * fails the RUN loudly rather than gating on nothing. */
  def run(spark: SparkSession, rawPath: String, outRoot: String,
      zone: String = "UTC", suitePath: Option[String] = None): Result = {
    val loaded = suitePath.fold(
      graft.expect.SuiteLoader.LoadedSuite(Expectations.referenceSuite, Nil))(
      graft.expect.SuiteLoader.loadFile)
    val parsed    = RawJsonReader.read(spark, rawPath, Schemas.telemetry)
    val validated = validateStage(parsed, zone).persistTracked(StorageLevel.MEMORY_AND_DISK)
    try {
      val curated  = Splitter.curated(validated)
      val rejected = Splitter.rejected(validated, coreCols)

      val ge       = Expectations.verdictFull(curated, loaded.rowWise, loaded.agg)
      val (curatedF, rejectedF) = Expectations.applyVerdict(curated, rejected, ge)
      val lineage  = Lineage.record(validated, ge, zone)

      Sinks.writeCurated(curatedF, s"$outRoot/curated")
      Sinks.writeAppend(rejectedF, s"$outRoot/rejected")
      Sinks.writeAppend(lineage, s"$outRoot/validated")
      Result(curatedF, rejectedF, lineage, ge)
    } finally {
      validated.unpersist()
    }
  }
}
