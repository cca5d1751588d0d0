package graft.lineage

import graft.functions.perRun
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lineage/governance record-keeping
  * (/root/reference/Glue/Glue_job.py:131-142).
  *
  * The reference issues four separate `count()` actions — each a full
  * re-read and re-parse of the raw layer. At 100 TB that is four extra
  * table scans; here all layer counts come from ONE aggregate over the
  * validated plan (raw = curated + rejected is the reference's own
  * conservation invariant), pivoted to rows with `stack`. The pipeline
  * takes the two counts in its one fused pass instead and builds the
  * same rows from them ([[fromCounts]]). This object alone counts the
  * layers; the sinks write every layer on every run, so the record
  * always equals the layers' rows.
  *
  * `run_timestamp` is fixed when the record's plan is built and held as
  * a [[graft.functions.RunConstant]]: it is not inlined into generated
  * code, so a warm run writes its record with the classes the last run
  * compiled.
  */
object Lineage {

  val pipelineName = "green_tech_raw_to_curated_job"

  /** The pipeline's governance record with run metadata
    * (Glue_job.py:131-140): the reference's four layer names, counted
    * in one pass over `validated` and adjusted for the all-or-nothing
    * gate — a FAILED `geStatus` sends every record to rejected. Zone is
    * a parameter (reference hardcodes Asia/Kolkata; default UTC for
    * determinism — SURVEY.md §7.4). */
  def record(validated: DataFrame, geStatus: String = "PASSED",
      zone: String = "UTC"): DataFrame =
    layers(validated.agg(
      count(lit(1)).as("raw"),
      count_if(col("is_valid")).as("ok")), geStatus, zone)

  /** The same record from counts a caller already holds (`raw` records,
    * `ok` of them rule-valid): a one-row local frame, so writing it is
    * one task and one file, and it scans nothing. */
  def fromCounts(spark: SparkSession, raw: Long, ok: Long,
      geStatus: String = "PASSED", zone: String = "UTC"): DataFrame =
    layers(spark.createDataFrame(Seq((raw, ok))).toDF("raw", "ok"), geStatus, zone)

  /** One (raw, ok) row → the four layer rows with run metadata. */
  private def layers(counts: DataFrame, geStatus: String, zone: String): DataFrame = {
    val failed = geStatus == "FAILED"
    counts
      .selectExpr(
        "stack(4, 'raw', raw, 'validated_total', raw, " +
          s"'curated', ${if (failed) "0L" else "ok"}, " +
          s"'rejected', ${if (failed) "raw" else "raw - ok"}) " +
          "AS (layer, record_count)")
      .withColumn("pipeline_name", lit(pipelineName))
      .withColumn("run_timestamp", perRun.now(zone))
  }
}
