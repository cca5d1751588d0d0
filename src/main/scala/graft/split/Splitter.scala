package graft.split

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curated/rejected split off one validated plan
  * (/root/reference/Glue/Glue_job.py:84-93).
  *
  * Both sides are filters over the same parent. A caller that runs both
  * should hold the parent's rows once (the reference recomputes the full
  * parse per action; `pipeline.LogisticsPipeline.run` holds the checked
  * records and adds the reasons above the hold, so they are built only
  * for the rows [[rejected]]'s filter keeps).
  */
object Splitter {

  /** Valid records: drop bookkeeping, stamp quality flags
    * (Glue_job.py:84-88). */
  def curated(validated: DataFrame): DataFrame =
    stamped(validated.filter(col("is_valid") === true))
      .drop("is_valid", "rejection_reasons")

  /** Curated's quality stamps on every validated row, bookkeeping kept:
    * the frame an aggregate gating on `is_valid` itself reads as the
    * curated layer (see LogisticsPipeline.tally). */
  def stamped(validated: DataFrame): DataFrame =
    validated
      .withColumn("data_quality_flag", lit("VALID"))
      .withColumn("ge_validation_status", lit("PENDING"))

  /** Invalid records with machine-readable reasons (Glue_job.py:90-93). */
  def rejected(validated: DataFrame, keepCols: Seq[String]): DataFrame =
    validated
      .filter(col("is_valid") === false)
      .withColumn("data_quality_flag", lit("REJECTED"))
      .select((keepCols :+ "rejection_reasons").map(col): _*)
}
