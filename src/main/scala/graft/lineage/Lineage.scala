package graft.lineage

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
  * same rows from them ([[fromCounts]]).
  */
object Lineage {

  val pipelineName = "green_tech_raw_to_curated_job"

  /** Single-pass layer counts as (layer, record_count) rows.
    * `validated` must carry `is_valid`. */
  def layerCounts(validated: DataFrame): DataFrame =
    validated
      .agg(
        count(lit(1)).as("raw"),
        sum(when(col("is_valid") === true, 1L).otherwise(0L)).as("curated"),
        sum(when(!(col("is_valid") === true), 1L).otherwise(0L)).as("rejected"))
      .selectExpr(
        "stack(3, 'raw', raw, 'curated', curated, 'rejected', rejected) " +
          "AS (layer, record_count)")

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
      sum(when(col("is_valid") === true, 1L).otherwise(0L)).as("ok")), geStatus, zone)

  /** The same record from counts a caller already holds (`raw` records,
    * `ok` of them rule-valid): a one-row local frame, so writing it is
    * one task and one file, and it scans nothing. */
  def fromCounts(spark: SparkSession, raw: Long, ok: Long,
      geStatus: String = "PASSED", zone: String = "UTC"): DataFrame =
    layers(spark.createDataFrame(Seq((raw, ok))).toDF("raw", "ok"), geStatus, zone)

  /** Records per written layer under the all-or-nothing gate:
    * (curated, rejected). */
  def written(raw: Long, ok: Long, geStatus: String): (Long, Long) =
    if (geStatus == "FAILED") (0L, raw) else (ok, raw - ok)

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
      .withColumn("run_timestamp", from_utc_timestamp(current_timestamp(), zone))
  }
}
