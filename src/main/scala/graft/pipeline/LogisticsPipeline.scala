package graft.pipeline

import graft.analytics.Caches
import graft.analytics.Caches.TrackedPersist
import graft.expect.Expectations
import graft.functions.perRun
import graft.ingest.RawJsonReader
import graft.lineage.Lineage
import graft.rules._
import graft.schemas.Schemas
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end telemetry pipeline — raw JSON → clean → validate →
  * split → expectation gate → curated/rejected/lineage layers. Same
  * stages as /root/reference/Glue/Glue_job.py, re-planned for scale:
  *
  *  - ONE parse per record (see [[RawJsonReader]]) and ONE hold of the
  *    checked records ([[checkStage]]: parsed, NaN-cleaned, `is_valid`)
  *    as deserialized rows, instead of the reference's ~8-10 full raw
  *    re-parses (one per count()/write action —
  *    Glue_job.py:95,102,124-135). `rejection_reasons` and
  *    `processed_at` are added above the hold ([[stampStage]]), so the
  *    rejected write builds reasons only for the rows its pushed-down
  *    `is_valid = false` filter keeps.
  *  - ONE Spark action over that held set ([[tally]]): the
  *    expectation gate as a distributed aggregate over the rule-valid
  *    rows (not the reference's 500-row pandas sample, Glue_job.py:102),
  *    the raw and valid counts, and each rule's rejection count. The
  *    lineage record is built from those counts. Every layer is written
  *    on every run, an empty one as a zero-row file, so no write needs a
  *    guard job and the record always equals what the layers hold.
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

  /** Clean + validate + stamp: the narrow-transform core,
    * [[stampStage]] over [[checkStage]]. */
  def validateStage(parsed: DataFrame, zone: String = "UTC"): DataFrame =
    stampStage(checkStage(parsed), perRun.now(zone))

  /** The parsed records with NaN→null numerics and `is_valid`. */
  def checkStage(parsed: DataFrame): DataFrame =
    Validator.cleanNanNull(parsed, Seq("fuel_level", "temperature"))
      .withColumn("is_valid", Validator.isValid(rules))

  /** `checked` plus `rejection_reasons` and `processed_at`. `stamp` is a
    * [[graft.functions.perRun]] value fixed when it was made (one value
    * for every row and every action on it, so one micro-batch's curated
    * and rejected rows carry the same stamp) and held as a
    * [[graft.functions.RunConstant]], not inlined into generated code, so
    * the next run's plan compiles to the same classes. */
  def stampStage(checked: DataFrame, stamp: Column): DataFrame =
    checked.withColumn("rejection_reasons", Validator.rejectionReasons(rules))
      .withColumn("processed_at", stamp)

  /** Full run from a raw directory; the gate runs on all rows.
    * `suitePath`: Some(file) loads the quality gate DECLARATIVELY from
    * a Great Expectations JSON document (the reference's
    * Validation_checks.json format, parsed by
    * [[graft.expect.SuiteLoader]]) — editing the JSON changes the gate
    * with no code change, exactly the reference's workflow; None keeps
    * the code-defined [[Expectations.referenceSuite]] (identical
    * semantics, spec-pinned). A malformed or unknown-typed suite file
    * fails the RUN loudly rather than gating on nothing.
    *
    * A FAILED gate empties curated: the run overwrites it with zero rows
    * and appends every record to rejected, as its lineage record says.
    *
    * The run frees its held records when it returns, so the returned
    * curated and rejected frames are planned over the raw input: an
    * action on them parses it again. */
  def run(spark: SparkSession, rawPath: String, outRoot: String,
      zone: String = "UTC", suitePath: Option[String] = None): Result = {
    val loaded = suitePath.fold(
      graft.expect.SuiteLoader.LoadedSuite(Expectations.referenceSuite, Nil))(
      graft.expect.SuiteLoader.loadFile)
    val checked = checkStage(RawJsonReader.read(spark, rawPath, Schemas.telemetry))
    val stamp   = perRun.now(zone)
    def split(validated: DataFrame, geStatus: String) = Expectations.applyVerdict(
      Splitter.curated(validated), Splitter.rejected(validated, coreCols), geStatus)
    val held = checked.holdTracked(StorageLevel.MEMORY_AND_DISK)
    try {
      val validated = stampStage(held, stamp)
      val t = tally(validated, loaded)
      val (curatedH, rejectedH) = split(validated, t.geStatus)
      val lineage = Lineage.fromCounts(spark, t.raw, t.valid, t.geStatus, zone)
      Sinks.save(curatedH, s"$outRoot/curated", SaveMode.Overwrite)
      Sinks.save(rejectedH, s"$outRoot/rejected", SaveMode.Append)
      Sinks.save(lineage, s"$outRoot/validated", SaveMode.Append)
      val (curatedF, rejectedF) = split(stampStage(checked, stamp), t.geStatus)
      Result(curatedF, rejectedF, lineage, t.geStatus, t.ruleRejections)
    } finally {
      Caches.free(held)
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
