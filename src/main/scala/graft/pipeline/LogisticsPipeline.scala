package graft.pipeline

import graft.analytics.Caches.TrackedPersist
import graft.expect.Expectations
import graft.ingest.RawJsonReader
import graft.lineage.Lineage
import graft.rules._
import graft.schemas.Schemas
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end telemetry pipeline — raw JSON → clean → validate →
  * split → expectation gate → curated/rejected/lineage layers. Same
  * stages as /root/reference/Glue/Glue_job.py, re-planned for scale:
  *
  *  - ONE parse per record (see [[RawJsonReader]]) and ONE persist of
  *    the post-validation plan instead of the reference's ~8-10 full raw
  *    re-parses (one per count()/write action —
  *    Glue_job.py:95,102,124-135).
  *  - ONE Spark action over that persisted set ([[tally]]): the
  *    expectation gate as a distributed aggregate over the rule-valid
  *    rows (not the reference's 500-row pandas sample, Glue_job.py:102),
  *    the raw and valid counts, and each rule's rejection count. The
  *    lineage record is built from those counts, and the sinks skip an
  *    empty layer on them, so no write needs a guard job.
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

  /** `ruleRejections`: records each rule rejected, keyed by the rule's
    * reason (a record failing two rules counts under both). */
  final case class Result(
      curated: DataFrame,
      rejected: DataFrame,
      lineage: DataFrame,
      geStatus: String,
      ruleRejections: Map[String, Long])

  /** What the one pass over the validated set tells a run. */
  final case class Tally(raw: Long, valid: Long, geStatus: String,
      ruleRejections: Map[String, Long])

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
      val t = tally(validated, loaded)
      val (curatedF, rejectedF) = Expectations.applyVerdict(
        Splitter.curated(validated), Splitter.rejected(validated, coreCols), t.geStatus)
      val lineage = Lineage.fromCounts(spark, t.raw, t.valid, t.geStatus, zone)
      val (curatedN, rejectedN) = Lineage.written(t.raw, t.valid, t.geStatus)

      if (curatedN > 0) Sinks.save(curatedF, s"$outRoot/curated", SaveMode.Overwrite)
      if (rejectedN > 0) Sinks.save(rejectedF, s"$outRoot/rejected", SaveMode.Append)
      Sinks.save(lineage, s"$outRoot/validated", SaveMode.Append)
      Result(curatedF, rejectedF, lineage, t.geStatus, t.ruleRejections)
    } finally {
      validated.unpersist()
    }
  }

  /** The run's one Spark action over `validated` (which must carry
    * `is_valid`): the gate over the rule-valid rows as they read in the
    * curated layer (the same verdict as `Expectations.verdictFull` on
    * [[Splitter.curated]]; aggregate-tier expectations scan those rows
    * in their own passes), the raw and valid counts, and one `count_if`
    * per rule over its null-strict flag. */
  def tally(validated: DataFrame,
      suite: graft.expect.SuiteLoader.LoadedSuite): Tally = {
    val isValid = col("is_valid") === true
    val perRule = rules.map(r => count_if(!Validator.flag(r)).as(s"_rule_${r.reason}"))
    val row = Expectations.gateReport(Splitter.stamped(validated), isValid,
      suite.rowWise, suite.agg,
      Seq(count(lit(1)).as("_raw"), count_if(isValid).as("_valid")) ++ perRule).first()
    Tally(row.getAs[Long]("_raw"), row.getAs[Long]("_valid"), row.getAs[String]("verdict"),
      rules.map(r => r.reason -> row.getAs[Long](s"_rule_${r.reason}")).toMap)
  }
}
