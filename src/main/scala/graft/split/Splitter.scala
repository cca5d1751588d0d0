package graft.split

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curated/rejected split off one validated plan
  * (/root/reference/Glue/Glue_job.py:84-93).
  *
  * Both sides are filters over the same parent — at scale the parent
  * should be persisted once by the caller (the reference recomputes the
  * full parse per action; we do not copy that, see
  * pipeline.LogisticsPipeline).
  */
object Splitter {

  /** Valid records: drop bookkeeping, stamp quality flags
    * (Glue_job.py:84-88). */
  def curated(validated: DataFrame): DataFrame =
    validated
      .filter(col("is_valid") === true)
      .drop("is_valid", "rejection_reasons")
      .withColumn("data_quality_flag", lit("VALID"))
      .withColumn("ge_validation_status", lit("PENDING"))

  /** Invalid records with machine-readable reasons (Glue_job.py:90-93). */
  def rejected(validated: DataFrame, keepCols: Seq[String]): DataFrame =
    validated
      .filter(col("is_valid") === false)
      .withColumn("data_quality_flag", lit("REJECTED"))
      .select((keepCols :+ "rejection_reasons").map(col): _*)
}
