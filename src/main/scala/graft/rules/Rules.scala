package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Declarative validation-rule engine.
  *
  * Re-expresses the reference's hand-rolled flag columns
  * (/root/reference/Glue/Glue_job.py:56-80) as an ADT: each rule
  * compiles to a pure boolean `Column` plus a machine-readable rejection
  * reason, so the whole rule set stays inside whole-stage codegen as
  * narrow transformations — no UDF, no shuffle, embarrassingly parallel
  * at any scale.
  *
  * Null semantics follow the reference: a NULL input makes `between`/
  * `isin` evaluate to NULL, which fails the conjunction (record is not
  * valid) and also yields no reason from that rule's CASE WHEN — exactly
  * the PySpark behavior at Glue_job.py:57-59,71-80.
  */
sealed trait ValidationRule {
  /** Boolean validity flag for this rule (may evaluate to NULL). */
  def flag: Column
  /** Reason string recorded when the rule fails. */
  def reason: String
}

/** Column must be non-null (Glue_job.py:56). */
final case class NotNull(colName: String, reason: String) extends ValidationRule {
  def flag: Column = col(colName).isNotNull
}

/** Value within [lo, hi] (Glue_job.py:57-58). */
final case class Between(colName: String, lo: Double, hi: Double, reason: String)
    extends ValidationRule {
  def flag: Column = col(colName).between(lo, hi)
}

/** Value within an enum (Glue_job.py:59). */
final case class InSet(colName: String, values: Seq[String], reason: String)
    extends ValidationRule {
  def flag: Column = col(colName).isin(values: _*)
}

/** Struct present AND nested field present (Glue_job.py:60-61). */
final case class NestedNotNull(parent: String, field: String, reason: String)
    extends ValidationRule {
  def flag: Column = col(parent).isNotNull && col(s"$parent.$field").isNotNull
}

/** Arbitrary column predicate (engine surface beyond the reference). */
final case class Predicate(flag: Column, reason: String) extends ValidationRule

object Validator {

  /** NaN→null normalization on numeric columns (Glue_job.py:51-53):
    * `when(isnan(c) | c.isNull, null).otherwise(c)`. */
  def cleanNanNull(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, when(isnan(col(c)) || col(c).isNull, lit(null)).otherwise(col(c)))
    }

  /** One rule's validity flag; `nullStrict` turns NULL into false. */
  def flag(rule: ValidationRule, nullStrict: Boolean = true): Column =
    if (nullStrict) coalesce(rule.flag, lit(false)) else rule.flag

  private def flags(rules: Seq[ValidationRule], nullStrict: Boolean): Seq[Column] =
    rules.map(flag(_, nullStrict))

  /** Conjunction of all rule flags.
    *
    * `nullStrict = false` reproduces the reference exactly: a NULL input
    * makes the flag NULL, the conjunction NULL, and the record then
    * falls into NEITHER curated (`is_valid == true`) nor rejected
    * (`is_valid == false`) — silently dropped, breaking the reference's
    * own raw = curated + rejected lineage invariant
    * (Glue_job.py:84,90,131-135; the producer does emit such nulls,
    * Producer.py:77-80).
    *
    * `nullStrict = true` (default) treats NULL as a failure: the record
    * is rejected and carries that rule's reason. This is the deliberate,
    * documented semantic fix — no record ever vanishes. */
  def isValid(rules: Seq[ValidationRule], nullStrict: Boolean = true): Column =
    flags(rules, nullStrict).reduce(_ && _)

  /** Compacted reasons array: each failed rule's reason, in rule order,
    * duplicates kept. The reference uses
    * `array_remove(array(case..end, ...), null)` (Glue_job.py:71-80);
    * Spark's array_remove(a, NULL) returns NULL (null-unsafe equality),
    * so we produce the *intended* output — the non-null reasons. Each
    * rule contributes a one-element or an empty array and `concat` joins
    * them, so the whole array is built in generated code: a `filter`
    * lambda (or `array_compact`, which rewrites to one) is interpreted
    * row by row, and `array_except` drops a reason two rules share. The
    * type stays `array<string>` with nullable elements, the `filter`
    * spelling's type, so the layers' parquet schema does not move. */
  def rejectionReasons(rules: Seq[ValidationRule],
      nullStrict: Boolean = true): Column = {
    val none = array().cast(ReasonsType)
    val parts = flags(rules, nullStrict).zip(rules)
      .map { case (f, r) => when(!f, array(lit(r.reason))).otherwise(none) }
    concat(parts: _*)
  }

  /** `rejection_reasons`' type. */
  private val ReasonsType: ArrayType = ArrayType(StringType, containsNull = true)

  /** Adds `is_valid` and `rejection_reasons` in one narrow projection. */
  def validate(df: DataFrame, rules: Seq[ValidationRule],
      nullStrict: Boolean = true): DataFrame =
    df.withColumn("is_valid", isValid(rules, nullStrict))
      .withColumn("rejection_reasons", rejectionReasons(rules, nullStrict))
}
