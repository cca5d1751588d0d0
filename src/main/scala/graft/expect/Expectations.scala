package graft.expect

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expectation-suite quality gate, Spark-native.
  *
  * The reference gates with Great Expectations over a 500-row sample
  * collected to the driver (`limit(500).toPandas()`,
  * /root/reference/Glue/Glue_job.py:98-110, suite at
  * great_expectations/Expectations/Validation_checks.json). That driver-
  * side sample cannot scale; we keep the same four expectation kinds and
  * the same all-or-nothing verdict, but evaluate them as ONE distributed
  * full-scan aggregate — every violation count in a single job, no
  * collect (documented semantic upgrade: full data, not a sample;
  * `sample(n)` reproduces the reference's sampling when wanted).
  */
/** One row-wise expectation: `violation` is a 0/1 per-row flag summed
  * in the shared single-pass aggregate. `mostlyPpm` is GE's `mostly`
  * modifier in parts-per-million: when set, the expectation SUCCEEDS
  * as long as violations / rows ≤ 1 − mostly (spelled as the exact
  * integer comparison viol·10⁶ ≤ (10⁶ − ppm)·n — no float division to
  * drift between engines); when None the gate is zero-tolerance as
  * before. ppm resolution (6 decimal digits) covers every real GE
  * suite; the loader rounds finer values and says so in the name of
  * determinism. */
final case class Expectation(name: String, violation: Column,
    mostlyPpm: Option[Long] = None)

object Expectations {

  def notNull(c: String): Expectation =
    Expectation(s"${c}_not_null", when(col(c).isNull, 1).otherwise(0))

  def between(c: String, lo: Double, hi: Double): Expectation =
    Expectation(s"${c}_between", when(!col(c).between(lo, hi), 1).otherwise(0))

  def inSet(c: String, values: Seq[String]): Expectation =
    Expectation(s"${c}_in_set", when(!col(c).isin(values: _*), 1).otherwise(0))

  /** GE expect_column_values_to_match_regex — NULL does not match
    * (GE counts nulls as violations of a regex expectation; pair with
    * notNull to make the intent explicit). */
  def matchesRegex(c: String, regex: String): Expectation =
    Expectation(s"${c}_matches_regex",
      when(!coalesce(col(c).rlike(regex), lit(false)), 1).otherwise(0))

  /** GE expect_column_value_lengths_to_be_between (string length
    * bounds, inclusive; NULL violates — it has no length). */
  def lengthBetween(c: String, lo: Int, hi: Int): Expectation =
    Expectation(s"${c}_length_between",
      when(!coalesce(length(col(c)).between(lo, hi), lit(false)), 1)
        .otherwise(0))

  /** GE's `mostly` modifier: succeed when at least `m` of the rows
    * pass (violation rate ≤ 1 − m). Applies to any row-wise
    * expectation; rejected for the aggregate tier (GE defines mostly
    * on column-map expectations only). */
  def mostly(e: Expectation, m: Double): Expectation = {
    require(!m.isNaN && m > 0.0 && m <= 1.0,
      s"mostly must be in (0, 1], got $m")
    val ppm = math.round(m * 1e6)
    require(ppm > 0L, s"mostly $m rounds to 0 ppm — below resolution")
    e.copy(mostlyPpm = Some(ppm))
  }

  /** The reference's exact suite (Glue_job.py:105-108). */
  val referenceSuite: Seq[Expectation] = Seq(
    notNull("truck_id"),
    between("fuel_level", 0, 100),
    between("temperature", -10, 60),
    inSet("delivery_status", Seq("in_transit", "delivered", "delayed")))

  /** AGGREGATE-shaped expectation (GE's column-aggregate tier):
    * uniqueness and proportion checks can't be a per-row flag summed in
    * the shared single-pass agg — the violation count needs its own
    * grouped pass over the frame. `violations` returns a 1-ROW frame
    * whose single BIGINT column is named `viol_<name>`; the combined
    * report crossJoins these scalars onto the row-wise counts (the
    * same 1-row-broadcast shape the tfidf/cms queries use — no
    * corpus-sized broadcast, each pass is a distributed agg with
    * map-side combine). */
  final case class AggExpectation(name: String,
      violations: DataFrame => DataFrame)

  /** GE expect_column_values_to_be_unique: every non-null row whose
    * value occurs more than once is unexpected (GE counts ALL rows of
    * a duplicated value, not just the extras; nulls are ignored).
    * One groupBy(column) pass — shuffles on the checked column with
    * partial aggregation, the honest distributed spelling of a
    * uniqueness gate. */
  def unique(c: String): AggExpectation =
    AggExpectation(s"${c}_unique", df =>
      df.filter(col(c).isNotNull)
        .groupBy(col(c)).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
          .cast("long").as(s"viol_${c}_unique")))

  /** GE expect_column_proportion_of_unique_values_to_be_between:
    * distinct/non-null ratio outside [lo, hi] fails the suite (a 0/1
    * verdict flag, not a row count — GE defines this expectation on
    * the column aggregate). Empty column passes vacuously. The ratio
    * is one double division of two exact counts (cross-engine safe). */
  def uniqueProportionBetween(c: String, lo: Double, hi: Double): AggExpectation =
    AggExpectation(s"${c}_unique_proportion", df =>
      df.filter(col(c).isNotNull)
        .agg(countDistinct(col(c)).as("nd"), count(lit(1)).as("nn"))
        .select(
          when(col("nn") === 0L, 0L)
            .when((col("nd").cast("double") / col("nn").cast("double"))
              .between(lo, hi), 0L)
            .otherwise(1L).as(s"viol_${c}_unique_proportion")))

  /** GE expect_table_row_count_to_be_between: the table-level size
    * gate (an ingest that suddenly halves or doubles is broken
    * upstream even when every row passes). 0/1 flag from one exact
    * count. */
  def rowCountBetween(lo: Long, hi: Long): AggExpectation =
    AggExpectation("table_row_count", df =>
      df.agg(count(lit(1)).as("n"))
        .select(when(col("n").between(lo, hi), 0L).otherwise(1L)
          .as("viol_table_row_count")))

  /** Single-pass violation counts + PASSED/FAILED verdict as a 1-row
    * DataFrame (plan-only; composes into oracle-checked queries). */
  def report(df: DataFrame, suite: Seq[Expectation]): DataFrame =
    reportFull(df, suite, Nil)

  /** Combined gate: ONE distributed pass for every row-wise
    * expectation + one pass per aggregate-shaped expectation, stitched
    * as 1-row scalar crossJoins; all-or-nothing verdict over both
    * tiers. */
  def reportFull(df: DataFrame, suite: Seq[Expectation],
      aggSuite: Seq[AggExpectation]): DataFrame =
    gateReport(df, lit(true), suite, aggSuite, Nil)

  /** The combined gate over the rows of `df` where `gated` holds, fused
    * with `extra` aggregates over ALL rows of `df` into the row-wise
    * tier's single pass (they ride through to the report row). The
    * aggregate tier runs over the gated rows only. With every row gated
    * and no extras this is [[reportFull]]. */
  def gateReport(df: DataFrame, gated: Column, suite: Seq[Expectation],
      aggSuite: Seq[AggExpectation], extra: Seq[Column]): DataFrame = {
    require(suite.nonEmpty || aggSuite.nonEmpty,
      "empty expectation suite — an empty gate always passes")
    // `mostly` gates need the row count in the SAME single-pass agg
    // (viol·10⁶ ≤ (10⁶ − ppm)·n — exact integers, engine-portable)
    val anyMostly = suite.exists(_.mostlyPpm.nonEmpty)
    val counts =
      suite.map(e => sum(when(gated, e.violation)).as(s"viol_${e.name}")) ++
        (if (anyMostly) Seq(count(when(gated, lit(1))).as("_n_rows")) else Nil) ++
        extra
    val base = if (counts.isEmpty) null else df.agg(counts.head, counts.tail: _*)
    val scalars = aggSuite.map(a => broadcast(a.violations(df.filter(gated))))
    val joined =
      if (base == null) scalars.reduce(_.crossJoin(_))
      else scalars.foldLeft(base)(_.crossJoin(_))
    // per-expectation fail contribution: zero-tolerance gates count
    // raw violations; mostly gates contribute a 0/1 threshold flag
    def failFlag(e: Expectation): Column = e.mostlyPpm match {
      case None => col(s"viol_${e.name}")
      case Some(ppm) =>
        when(col(s"viol_${e.name}") * lit(1000000L) >
          lit(1000000L - ppm) * col("_n_rows"), lit(1L)).otherwise(lit(0L))
    }
    val total = (suite.map(failFlag) ++
      aggSuite.map(a => col(s"viol_${a.name}"))).reduce(_ + _)
    // mostly gates also surface their own verdict column (ok_<name>
    // 1/0) — the threshold comparison is oracle-pinned individually,
    // not just through the all-or-nothing verdict
    val withOk = suite.filter(_.mostlyPpm.nonEmpty).foldLeft(joined)(
      (acc, e) => acc.withColumn(s"ok_${e.name}",
        when(failFlag(e) === 0L, lit(1L)).otherwise(lit(0L))))
    withOk.withColumn("verdict",
      when(total === 0, "PASSED").otherwise("FAILED"))
      .drop("_n_rows")
  }

  /** Run the gate (one distributed job) and return the verdict string. */
  def verdict(df: DataFrame, suite: Seq[Expectation]): String =
    report(df, suite).select("verdict").first().getString(0)

  /** Combined-gate verdict (row-wise + aggregate tiers). */
  def verdictFull(df: DataFrame, suite: Seq[Expectation],
      aggSuite: Seq[AggExpectation]): String =
    reportFull(df, suite, aggSuite).select("verdict").first().getString(0)

  /** Reference's all-or-nothing outcome (Glue_job.py:110-121): stamp the
    * verdict; on FAILED, re-flag every curated row REJECTED_GE with
    * reasons ['ge_failed'], union into rejected, and empty curated. */
  def applyVerdict(
      curated: DataFrame,
      rejected: DataFrame,
      geStatus: String): (DataFrame, DataFrame) = {
    val stamped = curated.withColumn("ge_validation_status", lit(geStatus))
    if (geStatus == "PASSED" || geStatus == "SKIPPED") (stamped, rejected)
    else {
      val failed = stamped
        .withColumn("rejection_reasons", array(lit("ge_failed")))
        .withColumn("data_quality_flag", lit("REJECTED_GE"))
        .select(rejected.columns.map(col): _*)
      (stamped.limit(0), rejected.unionByName(failed, allowMissingColumns = true))
    }
  }
}
