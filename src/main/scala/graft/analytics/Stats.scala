package graft.analytics

import graft.analytics.Caches.TrackedPersist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical-testing surface over the event stream and the star
  * schema — the distribution-comparison primitives a data-quality /
  * drift-monitoring layer runs continuously (is this week's `value`
  * distribution the same as last week's? did the supplier mix shift?).
  *
  * Everything follows the repo's exact-arithmetic discipline
  * (`Tables` scaladoc): comparisons run on integers or decimals in
  * multiply-through form, with at most one final double division —
  * so every query is hash-checkable against DuckDB.
  */
object Stats {

  /** Integer EWMA (decay 1/2) of each user's event-value series, via
    * the custom `int_ewma` AggregateWindowFunction — the linear
    * recurrence `acc = cents + (acc >> 1)` folded inside the window
    * exec's running frame (see `functions.IntEwma`). One exchange on
    * `user_id`; state is one long per partition, so the operator
    * scales exactly like `row_number`. Ordering key is the µs
    * truncation of the nano timestamp (+ event_id tiebreak) — the
    * granularity DuckDB sees. The oracle re-derives the recurrence
    * with a recursive CTE over per-user row_numbers. */
  def winEwma(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.registerAll(s)
    Tables.events(s, d)
      .withColumn("cents", expr("CAST(floor(abs(value) * 100) AS BIGINT)"))
      .selectExpr("event_id", "user_id", "cents",
        // ts_ns div 1000: DuckDB reads the nano column truncated to
        // micros, so the order key must be micros on both sides
        "int_ewma(cents) OVER (PARTITION BY user_id ORDER BY ts_ns div 1000, event_id) AS ewma")
  }

  /** One-sided CUSUM change-point statistic per user — the sequential
    * drift detector (Page 1954) every telemetry/quality monitor runs:
    * `acc = max(0, acc + (cents − k))` climbs only while values run
    * persistently above the k = $250 allowance; `alarm` fires past the
    * h = $2000 decision interval. The clamped recurrence (non-linear:
    * the reset defeats even prefix-sum spellings) runs in the custom
    * `int_cusum` AggregateWindowFunction — one long of state, one
    * user_id exchange, same scaling as row_number. All-integer ⇒ the
    * oracle re-derives it with a recursive CTE. */
  def anomalyCusum(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.registerAll(s)
    Tables.events(s, d)
      .withColumn("cents", expr("CAST(floor(abs(value) * 100) AS BIGINT)"))
      .selectExpr("event_id", "user_id", "cents",
        "int_cusum(cents, 25000) OVER (PARTITION BY user_id ORDER BY ts_ns div 1000, event_id) AS cusum")
      .withColumn("alarm", (col("cusum") > lit(200000L)).cast("int"))
  }

  /** Two-sample Kolmogorov-Smirnov distance between the click and view
    * `value` distributions, computed on the floor-dollar binned CDF —
    * binning first is the scale move: the cumulative window then runs
    * over the BOUNDED bin domain (~500 rows regardless of event
    * count), not over every observation (the global-sort KS spelling
    * funnels all N rows through one partition). Multiply-through form:
    * D_num = max_b |n2·cum1(b) − n1·cum2(b)| stays in BIGINT, the
    * statistic itself is one double division at the end. */
  def statsKs(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(expr("CAST(floor(value) AS BIGINT)").as("bin"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("c1"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("c2"))
      .groupBy(col("bin"))
      .agg(sum(col("c1")).as("n1b"), sum(col("c2")).as("n2b"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned.select(
      sum(col("n1b")).over(w).as("cum1"),
      sum(col("n2b")).over(w).as("cum2"))
    val totals = binned.agg(
      sum(col("n1b")).as("n1"), sum(col("n2b")).as("n2"))
    cum.crossJoin(broadcast(totals))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("n2") * col("cum1") - col("n1") * col("cum2"))).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double")
          / (col("n1") * col("n2")).cast("double")).as("d_stat"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between the click and purchase
    * `value` distributions — the nonparametric location test that
    * completes the two-sample family: stats_ttest assumes normality,
    * stats_ks tests the whole CDF, U asks specifically "does one arm
    * stochastically dominate?" (the robust A/B read when values are
    * heavy-tailed, as revenue always is).
    *
    * Same bounded-bin scale move as stats_ks: floor-dollar binning
    * first means every later step runs over the ~bounded bin domain
    * (hundreds of rows at any SF), never a global sort of N
    * observations — and the tie-aware MIDRANK formulation is then
    * EXACT rather than approximate: the t observations tied in a bin
    * after C predecessors all take rank C + (t+1)/2, so DOUBLED
    * midranks 2C + t + 1 stay integers. 2R₁ = Σ n1b·(2C+t+1) and
    * 2U₁ = 2R₁ − 2·n1(n1+1)/2 accumulate in DECIMAL(38,0) (the
    * HUGEINT lane — 2R₁ ≤ N·(2N+1) outgrows BIGINT near N ≈ 2·10⁹,
    * i.e. exactly at the 100 TB row counts this engine targets), as
    * does the tie term Σ(t³−t). z then comes from one fixed double
    * tree over the exact integers with the standard tie-corrected
    * variance σ² = n1n2/12·((n+1) − Σ(t³−t)/(n(n−1))), NULL-guarded
    * for the degenerate all-one-bin corpus. NaN/NULL values are
    * excluded on both engines (the anomalyMad convention — floor(NaN)
    * is engine-specific). EXACTNESS BOUND (r12 advice): the 100 TB
    * claim covers the INTERNAL decimal lane and z; the EMITTED
    * r1_2/u1_2/ties3 columns are BIGINT renderings for the
    * cross-engine hash and overflow past N ≈ 2·10⁹ rows (where the
    * two engines also diverge on the overflow itself: non-ANSI Spark
    * wraps/NULLs the cast, DuckDB errors). A release at that scale
    * would emit the DECIMAL(38,0) columns directly. */
  def statsMannWhitney(s: SparkSession, d: String): DataFrame =
    statsMannWhitneyOf(Tables.events(s, d))

  private[graft] def statsMannWhitneyOf(ev: DataFrame): DataFrame = {
    val binned = ev
      .filter(col("event_type").isin("click", "purchase")
        && col("value").isNotNull && !isnan(col("value")))
      .select(expr("CAST(floor(value) AS BIGINT)").as("bin"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("c1"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("c2"))
      .groupBy(col("bin"))
      .agg(sum(col("c1")).as("n1b"), sum(col("c2")).as("n2b"))
      .withColumn("t", col("n1b") + col("n2b"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("cum", sum(col("t")).over(w))
      // doubled midrank shared by every observation in the bin
      .withColumn("midrank2",
        lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
      .agg(
        sum(col("n1b")).as("n1"),
        sum(col("n2b")).as("n2"),
        sum(col("n1b").cast("decimal(38,0)") * col("midrank2")).as("r1_2"),
        // widen BEFORE cubing: a single bin can hold ~all N rows, and
        // t³ outgrows BIGINT past t ≈ 2·10⁶ (one sf10 arm)
        sum(col("t").cast("decimal(38,0)") * col("t") * col("t")
          - col("t")).as("ties3"))
      .selectExpr("n1", "n2",
        // BIGINT renderings for the cross-engine hash (values fit at
        // any test SF; the internal lane above is what scales)
        "CAST(r1_2 AS BIGINT) AS r1_2",
        "CAST(ties3 AS BIGINT) AS ties3",
        "CAST(r1_2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT) AS u1_2")
      .selectExpr("n1", "n2", "r1_2", "ties3", "u1_2",
        // z = (U1 − n1n2/2) / sqrt(n1n2/12·((n+1) − ties3/(n(n−1))));
        // spelled over doubled U to keep the tree integer-fed:
        // U1 − n1n2/2 = (u1_2 − n1n2) / 2
        """CASE WHEN n1 > 0 AND n2 > 0
             AND CAST(n1 + n2 + 1 AS DOUBLE)
               - CAST(ties3 AS DOUBLE)
                 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)) > 0
           THEN ((CAST(u1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
               * (CAST(n1 + n2 + 1 AS DOUBLE)
                  - CAST(ties3 AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
           END AS z""")
  }

  /** Kruskal–Wallis H — the k-sample extension of [[statsMannWhitney]]
    * (one-way ANOVA's nonparametric twin, for when the normality the F
    * test assumes is exactly what heavy-tailed telemetry lacks): do
    * the event types share a location? Same bounded-bin midrank
    * machinery, pooled across ALL groups: doubled midranks stay
    * integers, per-group doubled rank sums 2Rᵢ and their squares ride
    * DECIMAL(38,0) ((2Rᵢ)² ≈ 4N⁴ needs the wide lane well before 100
    * TB), and H = [12/(n(n+1))·Σ Rᵢ²/nᵢ − 3(n+1)] / (1 − Σ(t³−t)/(n³−n))
    * comes out of fixed double trees whose Σ-over-groups is forced
    * into deterministic order by the stats_anova running-window trick
    * over the sorted bounded type domain. */
  def statsKruskal(s: SparkSession, d: String): DataFrame =
    statsKruskalOf(Tables.events(s, d))

  private[graft] def statsKruskalOf(ev: DataFrame): DataFrame = {
    val binned = ev
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"),
        expr("CAST(floor(value) AS BIGINT)").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("ng"))
      // consumed twice (pooled totals + the midrank join): persist the
      // bounded (type × bin) table so the scan+agg runs once
      .persistTracked()
    // pooled per-bin totals + doubled midranks over the bin domain
    val pooled = binned.groupBy(col("bin")).agg(sum(col("ng")).as("t"))
    val wBin = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mr = pooled
      .withColumn("cum", sum(col("t")).over(wBin))
      .withColumn("midrank2",
        lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
    val perGroup = binned.join(mr.select(col("bin"), col("midrank2")), Seq("bin"))
      .groupBy(col("event_type"))
      .agg(sum(col("ng")).as("n_i"),
        sum(col("ng").cast("decimal(38,0)") * col("midrank2")).as("r2_i"))
    val ties = mr.agg(
      sum(col("t")).as("n"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .as("ties3"))
    // Σ Rᵢ²/nᵢ with the float fold forced into sorted-type order
    val wType = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perGroup.crossJoin(broadcast(ties))
      .withColumn("term",
        (col("r2_i").cast("double") / 2.0) * (col("r2_i").cast("double") / 2.0)
          / col("n_i").cast("double"))
      .withColumn("rn", row_number().over(Window.orderBy(col("event_type"))))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("sum_terms", sum(col("term")).over(wType))
      .filter(col("rn") === col("k"))
      .selectExpr("k", "n", "CAST(ties3 AS BIGINT) AS ties3",
        """CASE WHEN n > 1
             AND 1.0 - CAST(ties3 AS DOUBLE)
               / (CAST(n AS DOUBLE) * n * n - n) > 0
           THEN (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sum_terms
               - 3.0 * (CAST(n AS DOUBLE) + 1))
             / (1.0 - CAST(ties3 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n - n))
           END AS h""")
  }

  /** Spearman rank correlation between per-supplier shipped quantity
    * and revenue. The supplier DIMENSION is SF-scaled (10k·SF — a
    * hundred million rows at 100 TB), so both rankings use
    * [[Ranking.globalRowNumber]] — range-partitioned parallel
    * row_numbers + driver-literal offsets — instead of the two
    * single-partition windows the r8 plan audit banned; the ranked
    * sides rejoin on the supplier key. Deterministic dense ranks via
    * (metric, suppkey) tie-break; ρ = 1 − 6·Σd²/(n(n²−1)) with Σd²
    * exact in BIGINT and one double division at the end. */
  def aggSpearman(s: SparkSession, d: String): DataFrame = {
    val per = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(Tables.dec2(col("l_quantity"))).as("qty"),
        sum(Tables.dec2(col("l_extendedprice"))).as("price"))
      .persistTracked()
    val rq = Ranking.globalRowNumber(per,
      Seq(col("qty"), col("l_suppkey")), "rq")
      .select(col("l_suppkey"), col("rq"))
    val rp = Ranking.globalRowNumber(per,
      Seq(col("price"), col("l_suppkey")), "rp")
      .select(col("l_suppkey"), col("rp"))
    rq.join(rp, Seq("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum((col("rq") - col("rp")) * (col("rq") - col("rp"))
          .cast("long")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        (lit(1.0) - (lit(6.0) * col("sum_d2").cast("double"))
          / (col("n") * (col("n") * col("n") - lit(1L))).cast("double"))
          .as("rho"))
  }

  /** MAD robust-outlier screen — the anomaly family's breakdown-proof
    * member (zscore's µ/σ are themselves dragged by outliers; Tukey
    * fences resist to 25% contamination; the median absolute deviation
    * resists to 50%): per type, flag |x − median| > 3·1.4826·MAD
    * (1.4826 makes MAD σ-consistent under normality). Three passes,
    * each a tiny percentile agg broadcast back over the scan — the
    * same two-pass shape as events_anomaly_iqr plus one. Interpolated
    * percentiles over identical doubles are cross-engine exact
    * (events_anomaly_iqr precedent); output is integer counts. */
  def anomalyMad(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")))
    val med = clean.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = clean.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"),
        expr("percentile(abs(value - med), 0.5)").as("mad"))
    clean.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > col("mad") * 3.0 * 1.4826,
          1L).otherwise(0L)).as("n_outliers"))
  }

  /** Chi-squared independence test between `event_type` and day-of-week
    * — the categorical drift check ("did the weekday mix of purchases
    * shift?") next to the continuous KS test. The contingency table is
    * BOUNDED (|types| × 7 cells), so after ONE keyed count of the
    * stream, everything runs on a few dozen rows: marginal tables from
    * the tiny cell table, the FULL marginal cross product re-joined to
    * the observed counts (zero cells still owe their expected count to
    * the statistic), expected counts in
    * centi-units by integer floor division (clamped to ≥1 centi-unit
    * so an o>0 cell whose expected count floors to zero still
    * contributes — dropping it biased sparse tables toward
    * independence; advisor fix, r7), and the statistic
    * χ²·100 = Σ (100·O − E_c)² div E_c accumulated EXACTLY in BIGINT —
    * order-free, so Spark's partial sums and DuckDB agree bit-for-bit
    * (a per-cell double sum would hash-drift). Day-of-week is epoch-day
    * mod 7 (pure integer arithmetic — engine dow() conventions differ).
    * Magnitude audit: E_c ≤ 100·N, diff ≤ 100·N = 6e7 at sf0.1,
    * diff² ≤ 3.6e15 — BIGINT-safe to sf ≈ 10⁴. */
  def statsChi2(s: SparkSession, d: String): DataFrame =
    statsChi2Of(Tables.events(s, d))

  private[graft] def statsChi2Of(ev: DataFrame): DataFrame = {
    val cells = ev
      .select(col("event_type"),
        expr("(ts_ns div 86400000000000) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
      .persistTracked()
    val rt = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val ct = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    // FULL marginal cross product, not just observed cells: a zero cell
    // (no rows for a type×dow combo) still contributes its expected
    // count to χ² — dropping it would bias every test toward
    // independence exactly where dependence is strongest
    rt.crossJoin(ct)
      .join(cells, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e_c", expr("(r * c * 100) div n"))
      .withColumn("diff_c", col("o") * 100L - col("e_c"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_cells"),
        // r7 (advisor): clamp E_c to ≥1 centi-unit instead of dropping
        // e_c=0 cells — on highly skewed sparse tables a cell whose
        // expected count floors to zero but has observed o>0 carries
        // the LARGEST (O−E)²/E term; dropping it biased the statistic
        // toward independence. o=0 ∧ e_c=0 cells still contribute 0
        // (diff_c=0), so the clamp only rescues the o>0 case
        sum(expr("(diff_c * diff_c) div greatest(e_c, CAST(1 AS BIGINT))"))
          .as("chi2_centi"))
      .crossJoin(broadcast(rt.agg((count(lit(1)) - 1L).as("dr"))))
      .crossJoin(broadcast(ct.agg((count(lit(1)) - 1L).as("dc"))))
      .select(col("n"), col("n_cells"), (col("dr") * col("dc")).as("dof"),
        col("chi2_centi"),
        (col("chi2_centi").cast("double") / 100.0).as("chi2"))
  }

  /** Welch's two-sample t-test between the click and view `value`
    * distributions — the mean-shift drift gate next to KS (shape) and
    * χ² (categorical mix). Sufficient statistics (n, Σx, Σx²) are
    * EXACT BIGINTs over integer cents (floor(value·100)), reduced in
    * one conditional aggregation pass over the stream — the only
    * shuffle carries six longs. The t statistic and Welch–Satterthwaite
    * dof are then a fixed tree of IEEE double ops on those exact
    * integers, spelled identically in the oracle (×/÷ only — no pow(),
    * whose libm rounding may differ across engines), so the doubles
    * are bit-identical. Magnitude audit: Σx² ≤ 6e5·(5.6e4)² ≈ 1.9e15
    * at sf0.1 — BIGINT-safe to sf ≈ 100. */
  def statsTtest(s: SparkSession, d: String): DataFrame =
    statsTtestOf(Tables.events(s, d))

  private[graft] def statsTtestOf(ev: DataFrame): DataFrame =
    ev
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n2"),
        sum(when(col("event_type") === "click", col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("event_type") === "view", col("cents")).otherwise(0L)).as("s2"),
        sum(when(col("event_type") === "click", col("cents") * col("cents")).otherwise(0L)).as("q1"),
        sum(when(col("event_type") === "view", col("cents") * col("cents")).otherwise(0L)).as("q2"))
      .selectExpr("n1", "n2", "s1", "s2", "q1", "q2",
        "CAST(s1 AS DOUBLE) / n1 AS mean1",
        "CAST(s2 AS DOUBLE) / n2 AS mean2",
        "(CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n1) / (n1 - 1) AS v1",
        "(CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / n2) / (n2 - 1) AS v2")
      .selectExpr("n1", "n2", "s1", "s2", "q1", "q2", "mean1", "mean2",
        "v1 / n1 + v2 / n2 AS se2", "v1", "v2")
      .selectExpr("n1", "n2", "s1", "s2", "q1", "q2", "mean1", "mean2",
        "(mean1 - mean2) / sqrt(se2) AS t_stat",
        "(se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS dof_welch")

  /** Winsorized mean per event type — the robust location estimate
    * between the raw mean (unbounded breakdown) and the median
    * (discards magnitude): clamp to the [p05, p95] percentile band,
    * then average. Two passes: a tiny per-type percentile agg
    * broadcast back over the scan (the anomaly_mad shape), then the
    * clamped mean through the repo's exact lane — DECIMAL cast before
    * summing (identical doubles → identical decimals, order-free),
    * one double division. Interpolated percentiles over identical
    * doubles are cross-engine exact (anomaly_mad precedent). */
  def aggWinsorize(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")))
    val bands = clean.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    clean.join(broadcast(bands), Seq("event_type"))
      .withColumn("w", Tables.dec2(
        least(greatest(col("value"), col("p05")), col("p95"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        (sum(col("w")).cast("double") / count(lit(1))).as("win_mean"),
        (sum(Tables.dec2(col("value"))).cast("double") / count(lit(1)))
          .as("raw_mean"))
  }

  /** One-way ANOVA across ALL event types — the k-group generalization
    * closing the testing family (KS: two shapes; Welch t: two means;
    * χ²: two categoricals; ANOVA: k means at once). Per-group exact
    * sufficient statistics (nᵢ, Σᵢ, Σᵢ²) in one keyed pass, then
    * SSB = Σ Sᵢ²/nᵢ − S²/n and SSW = ΣQᵢ − Σ Sᵢ²/nᵢ and
    * F = (SSB/(k−1))/(SSW/(n−k)) as a fixed double tree over the exact
    * integers — the same engineering as stats_ttest, one group
    * dimension wider. The per-group Sᵢ²/nᵢ terms are each one double
    * division of exact ints; their sum runs over the BOUNDED type
    * domain in a deterministic single-partition fold (k rows). */
  def statsAnova(s: SparkSession, d: String): DataFrame =
    statsAnovaOf(Tables.events(s, d))

  private[graft] def statsAnovaOf(ev: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val groups = ev
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ni"),
        sum(col("cents")).as("si"),
        sum(col("cents").cast(big) * col("cents")).cast(big).as("qi"))
      .withColumn("term",
        expr("CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni"))
    // Σ Sᵢ²/nᵢ is a sum of DOUBLES (decimal division has engine-
    // specific scale/rounding rules) — forced into a DETERMINISTIC
    // accumulation order by a running window over the sorted bounded
    // type domain, so both engines execute the identical sequence of
    // IEEE adds (a plain aggregate sum would be partitioning-ordered)
    val wCum = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    groups
      .select(
        row_number().over(Window.orderBy(col("event_type"))).as("rn"),
        count(lit(1)).over(wAll).as("k"),
        sum(col("ni")).over(wAll).as("n"),
        sum(col("si")).over(wAll).as("s"),
        sum(col("qi")).over(wAll).cast(big).as("q"),
        sum(col("term")).over(wCum).as("sb_num"))
      .filter(col("rn") === col("k"))
      .selectExpr("k", "n", "s",
        "sb_num - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb",
        "CAST(q AS DOUBLE) - sb_num AS ssw")
      .selectExpr("k", "n", "s", "ssb", "ssw",
        "(ssb / (k - 1)) / (ssw / (n - k)) AS f_stat")
  }

  /** Brown–Forsythe/Levene variance-equality test — the gate run
    * BEFORE trusting any pooled-variance assumption (ANOVA's F is only
    * meaningful under homoscedasticity; Levene tests exactly that):
    * one-way ANOVA applied to the absolute deviations from each
    * group's MEDIAN (the Brown–Forsythe robust variant). Pure
    * composition: the per-type median broadcasts back over the scan
    * (the anomaly_mad shape), and the transformed frame reuses
    * statsAnovaOf verbatim — same sufficient-statistics shuffle, same
    * ordered-window float fold. */
  def statsLevene(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")))
    val med = clean.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    statsAnovaOf(clean.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("value") - col("med")).as("value")))
  }

  /** Wald–Wolfowitz runs test on the hourly value series — the
    * randomness check that catches what mean/variance tests cannot
    * (a perfectly alternating and a long-blocks series can share
    * every moment; their RUN counts differ wildly). Signs are
    * above/below the series median (exact: the median of the bounded
    * hourly rollup), runs are a gaps-and-islands count (sign ≠
    * lag(sign) starts a run — one window over the bounded series),
    * and E[R] = 2n₁n₂/n + 1 with its variance feed a fixed double
    * tree for z. Ties-on-median are assigned below (documented,
    * deterministic both engines). */
  def statsRuns(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr("ts_ns div 3600000000000").as("bucket"),
        expr("CAST(floor(abs(value) * 100) AS BIGINT)").as("cents"))
      .groupBy(col("bucket")).agg(sum(col("cents")).as("cents"))
    val med = hourly.agg(expr("percentile(cents, 0.5)").as("med"))
    val w = Window.orderBy(col("bucket"))
    hourly.crossJoin(broadcast(med))
      .withColumn("sign", (col("cents") > col("med")).cast("int"))
      .withColumn("run_start",
        when(lag(col("sign"), 1).over(w).isNull ||
          lag(col("sign"), 1).over(w) =!= col("sign"), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n"),
        sum(col("sign").cast("long")).as("n1"),
        sum(lit(1L) - col("sign")).as("n2"),
        sum(col("run_start")).as("runs"))
      .selectExpr("n", "n1", "n2", "runs",
        "2.0 * CAST(n1 * n2 AS DOUBLE) / n + 1.0 AS e_runs",
        """(CAST(runs AS DOUBLE) - (2.0 * CAST(n1 * n2 AS DOUBLE) / n + 1.0))
          / sqrt(2.0 * CAST(n1 * n2 AS DOUBLE)
              * (2.0 * CAST(n1 * n2 AS DOUBLE) - n)
            / (CAST(n AS DOUBLE) * n * (n - 1))) AS z""")
  }

  /** Two-proportion z-test on an md5-bucketed A/B split — the
    * experimentation primitive: users hash into arms A/B
    * (deterministic — the same user lands in the same arm on every
    * engine/run, the dataset_split discipline), the metric is
    * click→purchase user conversion, and z comes from the pooled
    * proportion via a fixed double tree over four exact counts. */
  def statsAbTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      // metric with real variance on this corpus: purchase-heavy users
      // (every user has SOME purchase here, so has-any would be the
      // degenerate p = 1 — div-by-zero under ANSI)
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          > sum(when(col("event_type") === "click", 1L).otherwise(0L)), 1L)
        .otherwise(0L).as("converted"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B"))
    users.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "A", col("converted")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === "B", col("converted")).otherwise(0L)).as("c_b"))
      .selectExpr("n_a", "n_b", "c_a", "c_b",
        "CAST(c_a AS DOUBLE) / n_a AS p_a",
        "CAST(c_b AS DOUBLE) / n_b AS p_b",
        "CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool")
      .selectExpr("n_a", "n_b", "c_a", "c_b", "p_a", "p_b",
        // zero-variance guard: a degenerate pool yields NULL, never an
        // ANSI divide-by-zero or an engine-specific NaN
        """CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
          THEN (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
            * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
          END AS z""")
  }

  val registry: Map[String, QueryDef] = Map(
    // same gaps-and-islands run count + fixed double tree
    "stats_runs" -> QueryDef(statsRuns _,
      """WITH h AS (
          SELECT epoch_ns(ts) // 3600000000000 AS bucket,
            CAST(sum(CAST(floor(abs(value) * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM events GROUP BY 1),
        med AS (SELECT quantile_cont(cents, 0.5) AS med FROM h),
        sg AS (
          SELECT bucket, CASE WHEN cents > med THEN 1 ELSE 0 END AS sign
          FROM h, med),
        rs AS (
          SELECT sign,
            CASE WHEN lag(sign, 1) OVER (ORDER BY bucket) IS NULL
              OR lag(sign, 1) OVER (ORDER BY bucket) <> sign
              THEN 1 ELSE 0 END AS run_start
          FROM sg),
        agg AS (
          SELECT count(*) AS n,
            CAST(sum(sign) AS BIGINT) AS n1,
            CAST(sum(1 - sign) AS BIGINT) AS n2,
            CAST(sum(run_start) AS BIGINT) AS runs
          FROM rs)
        SELECT n, n1, n2, runs,
          2.0 * CAST(n1 * n2 AS DOUBLE) / n + 1.0 AS e_runs,
          (CAST(runs AS DOUBLE) - (2.0 * CAST(n1 * n2 AS DOUBLE) / n + 1.0))
          / sqrt(2.0 * CAST(n1 * n2 AS DOUBLE)
              * (2.0 * CAST(n1 * n2 AS DOUBLE) - n)
            / (CAST(n AS DOUBLE) * n * (n - 1))) AS z
        FROM agg"""),
    // same md5-arm assignment and pooled-proportion tree
    "stats_abtest" -> QueryDef(statsAbTest _,
      """WITH u AS (
          SELECT user_id,
            CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              > sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS converted,
            CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END
              AS arm
          FROM events GROUP BY user_id),
        agg AS (
          SELECT
            CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
              AS BIGINT) AS c_a,
            CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
              AS BIGINT) AS c_b
          FROM u),
        p AS (
          SELECT n_a, n_b, c_a, c_b,
            CAST(c_a AS DOUBLE) / n_a AS p_a,
            CAST(c_b AS DOUBLE) / n_b AS p_b,
            CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS p_pool
          FROM agg)
        SELECT n_a, n_b, c_a, c_b, p_a, p_b,
          CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
            THEN (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
              * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
          END AS z
        FROM p"""),
    // Brown–Forsythe: |x − group median| fed through the same ANOVA
    // chain (quantile_cont == Spark percentile on identical doubles)
    "stats_levene" -> QueryDef(statsLevene _,
      """WITH e AS (
          SELECT event_type, value FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM e GROUP BY 1),
        tv AS (
          SELECT e.event_type, abs(e.value - med.med) AS value
          FROM e JOIN med USING (event_type)),
        g AS (
          SELECT event_type, count(*) AS ni,
            CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS si,
            sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
              * CAST(floor(value * 100) AS BIGINT)) AS qi
          FROM tv GROUP BY 1),
        t AS (
          SELECT event_type, ni, si, qi,
            CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni AS term
          FROM g),
        w AS (
          SELECT
            row_number() OVER (ORDER BY event_type) AS rn,
            count(*) OVER wa AS k,
            CAST(sum(ni) OVER wa AS BIGINT) AS n,
            CAST(sum(si) OVER wa AS BIGINT) AS s,
            sum(qi) OVER wa AS q,
            sum(term) OVER (ORDER BY event_type
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb_num
          FROM t
          WINDOW wa AS (ORDER BY event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        last_ AS (SELECT * FROM w WHERE rn = k),
        ss AS (
          SELECT k, n, s,
            sb_num - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
            CAST(q AS DOUBLE) - sb_num AS ssw
          FROM last_)
        SELECT k, n, s, ssb, ssw,
          (ssb / (k - 1)) / (ssw / (n - k)) AS f_stat
        FROM ss"""),
    // same ordered-window-forced summation over the sorted type domain
    "stats_anova" -> QueryDef(statsAnova _,
      """WITH g AS (
          SELECT event_type, count(*) AS ni,
            CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS si,
            sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
              * CAST(floor(value * 100) AS BIGINT)) AS qi
          FROM events GROUP BY 1),
        t AS (
          SELECT event_type, ni, si, qi,
            CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni AS term
          FROM g),
        w AS (
          SELECT
            row_number() OVER (ORDER BY event_type) AS rn,
            count(*) OVER wa AS k,
            CAST(sum(ni) OVER wa AS BIGINT) AS n,
            CAST(sum(si) OVER wa AS BIGINT) AS s,
            sum(qi) OVER wa AS q,
            sum(term) OVER (ORDER BY event_type
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb_num
          FROM t
          WINDOW wa AS (ORDER BY event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        last_ AS (SELECT * FROM w WHERE rn = k),
        ss AS (
          SELECT k, n, s,
            sb_num - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
            CAST(q AS DOUBLE) - sb_num AS ssw
          FROM last_)
        SELECT k, n, s, ssb, ssw,
          (ssb / (k - 1)) / (ssw / (n - k)) AS f_stat
        FROM ss"""),
    // same two-pass clamp; quantile_cont == Spark's interpolated
    // percentile on identical doubles (anomaly_mad precedent)
    "agg_winsorize" -> QueryDef(aggWinsorize _,
      """WITH e AS (
          SELECT event_type, value FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        b AS (
          SELECT event_type, quantile_cont(value, 0.05) AS p05,
            quantile_cont(value, 0.95) AS p95
          FROM e GROUP BY 1)
        SELECT e.event_type, count(*) AS n,
          max(b.p05) AS p05, max(b.p95) AS p95,
          CAST(sum(CAST(least(greatest(e.value, b.p05), b.p95)
            AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS win_mean,
          CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            AS raw_mean
        FROM e JOIN b USING (event_type) GROUP BY 1"""),
    // same bounded-cell spelling: one contingency count, window-sum
    // marginals, centi-unit integer expected counts, exact BIGINT χ²
    // accumulation; `//` == Spark's `div` (all operands nonnegative)
    "stats_chi2" -> QueryDef(statsChi2 _,
      """WITH cells AS (
          SELECT event_type,
            (epoch_ns(ts) // 86400000000000) % 7 AS dow,
            count(*) AS o
          FROM events GROUP BY 1, 2),
        rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
               FROM cells GROUP BY 1),
        ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
               FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        -- FULL marginal cross product: zero cells still owe E to χ²
        grid AS (
          SELECT rt.event_type, ct.dow, rt.r, ct.c, COALESCE(cells.o, 0) AS o
          FROM rt CROSS JOIN ct
          LEFT JOIN cells ON cells.event_type = rt.event_type
            AND cells.dow = ct.dow),
        terms AS (
          SELECT o, n, (r * c * 100) // n AS e_c,
            o * 100 - (r * c * 100) // n AS diff_c
          FROM grid CROSS JOIN tot),
        stat AS (
          -- E_c clamped to >=1 centi-unit (matches the engine): an
          -- o>0 cell whose expected count floors to 0 must contribute
          SELECT n, count(*) AS n_cells,
            CAST(sum((diff_c * diff_c) // greatest(e_c, 1)) AS BIGINT)
              AS chi2_centi
          FROM terms GROUP BY n),
        d AS (
          SELECT ((SELECT count(*) FROM rt) - 1)
            * ((SELECT count(*) FROM ct) - 1) AS dof
          FROM (SELECT 1))
        SELECT n, n_cells, dof, chi2_centi,
          CAST(chi2_centi AS DOUBLE) / 100.0 AS chi2
        FROM stat, d"""),
    // identical double-op tree on identical exact integers (see scaladoc)
    "stats_ttest" -> QueryDef(statsTtest _,
      """WITH cents AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type IN ('click', 'view')),
        suff AS (
          SELECT
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS BIGINT) AS s1,
            CAST(sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS BIGINT) AS s2,
            CAST(sum(CASE WHEN event_type = 'click' THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
            CAST(sum(CASE WHEN event_type = 'view' THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
          FROM cents),
        moments AS (
          SELECT n1, n2, s1, s2, q1, q2,
            CAST(s1 AS DOUBLE) / n1 AS mean1,
            CAST(s2 AS DOUBLE) / n2 AS mean2,
            (CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n1) / (n1 - 1) AS v1,
            (CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / n2) / (n2 - 1) AS v2
          FROM suff),
        se AS (
          SELECT n1, n2, s1, s2, q1, q2, mean1, mean2, v1, v2,
            v1 / n1 + v2 / n2 AS se2
          FROM moments)
        SELECT n1, n2, s1, s2, q1, q2, mean1, mean2,
          (mean1 - mean2) / sqrt(se2) AS t_stat,
          (se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1)
            + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS dof_welch
        FROM se"""),
    // same 3-pass shape; quantile_cont == Spark's interpolated
    // percentile on identical doubles; threshold arithmetic mirrored
    "anomaly_mad" -> QueryDef(anomalyMad _,
      """WITH e AS (
          SELECT event_type, value FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        m AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM e GROUP BY 1),
        md AS (
          SELECT e.event_type, max(m.med) AS med,
            quantile_cont(abs(e.value - m.med), 0.5) AS mad
          FROM e JOIN m USING (event_type) GROUP BY 1)
        SELECT e.event_type, count(*) AS n,
          CAST(sum(CASE WHEN abs(e.value - md.med) > md.mad * 3.0 * 1.4826
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM e JOIN md USING (event_type) GROUP BY 1"""),
    // the recurrence re-derived sequentially: recursive CTE over
    // per-user row_numbers; `//` (floor div) == the >> 1 shift because
    // the accumulator never goes negative
    "win_ewma" -> QueryDef(winEwma _,
      """WITH RECURSIVE base AS (
          SELECT event_id, user_id,
            CAST(floor(abs(value) * 100) AS BIGINT) AS cents,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events),
        rec AS (
          SELECT event_id, user_id, cents, rn, cents AS ewma
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.event_id, b.user_id, b.cents, b.rn,
            b.cents + (r.ewma // 2) AS ewma
          FROM base b JOIN rec r
            ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        SELECT event_id, user_id, cents, ewma FROM rec"""),
    "anomaly_cusum" -> QueryDef(anomalyCusum _,
      """WITH RECURSIVE base AS (
          SELECT event_id, user_id,
            CAST(floor(abs(value) * 100) AS BIGINT) AS cents,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events),
        rec AS (
          SELECT event_id, user_id, cents, rn,
            greatest(0, cents - 25000) AS cusum
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.event_id, b.user_id, b.cents, b.rn,
            greatest(0, r.cusum + b.cents - 25000) AS cusum
          FROM base b JOIN rec r
            ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        SELECT event_id, user_id, cents, cusum, (cusum > 200000)::INT AS alarm
        FROM rec"""),
    // pooled midranks + per-group HUGEINT rank sums; the Σ-over-groups
    // float fold rides the same sorted-type running window as
    // stats_anova, so the double summation order is pinned
    "stats_kruskal" -> QueryDef(statsKruskal _,
      """WITH binned AS (
          SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS ng
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)
          GROUP BY 1, 2),
        pooled AS (
          SELECT bin, CAST(sum(ng) AS BIGINT) AS t
          FROM binned GROUP BY 1),
        mr AS (
          SELECT bin, t,
            2 * (sum(t) OVER (ORDER BY bin) - t) + t + 1 AS midrank2
          FROM pooled),
        per_group AS (
          SELECT event_type,
            CAST(sum(ng) AS BIGINT) AS n_i,
            sum(CAST(ng AS HUGEINT) * midrank2) AS r2_i
          FROM binned JOIN mr USING (bin)
          GROUP BY 1),
        ties AS (
          SELECT CAST(sum(t) AS BIGINT) AS n,
            sum(CAST(t AS HUGEINT) * t * t - t) AS ties3
          FROM pooled),
        terms AS (
          SELECT event_type, n_i,
            (CAST(r2_i AS DOUBLE) / 2.0) * (CAST(r2_i AS DOUBLE) / 2.0)
              / CAST(n_i AS DOUBLE) AS term
          FROM per_group),
        w AS (
          SELECT
            row_number() OVER (ORDER BY event_type) AS rn,
            count(*) OVER wa AS k,
            sum(term) OVER (ORDER BY event_type
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_terms
          FROM terms
          WINDOW wa AS (ORDER BY event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        last_ AS (SELECT * FROM w WHERE rn = k)
        SELECT k, n, CAST(ties3 AS BIGINT) AS ties3,
          CASE WHEN n > 1
            AND 1.0 - CAST(ties3 AS DOUBLE)
              / (CAST(n AS DOUBLE) * n * n - n) > 0
          THEN (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sum_terms
              - 3.0 * (CAST(n AS DOUBLE) + 1))
            / (1.0 - CAST(ties3 AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * n - n))
          END AS h
        FROM last_, ties"""),
    // same binned midrank algebra: doubled midranks stay integers, the
    // big sums ride HUGEINT, one fixed double tree for z
    "stats_mannwhitney" -> QueryDef(statsMannWhitney _,
      """WITH binned AS (
          SELECT CAST(floor(value) AS BIGINT) AS bin,
            CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
              AS BIGINT) AS n1b,
            CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
              AS BIGINT) AS n2b
          FROM events
          WHERE event_type IN ('click', 'purchase')
            AND value IS NOT NULL AND NOT isnan(value)
          GROUP BY 1),
        t AS (SELECT bin, n1b, n2b, n1b + n2b AS t FROM binned),
        mr AS (
          SELECT n1b, n2b, t,
            2 * (sum(t) OVER (ORDER BY bin) - t) + t + 1 AS midrank2
          FROM t),
        agg AS (
          SELECT
            CAST(sum(n1b) AS BIGINT) AS n1,
            CAST(sum(n2b) AS BIGINT) AS n2,
            sum(CAST(n1b AS HUGEINT) * midrank2) AS r1_2h,
            sum(CAST(t AS HUGEINT) * t * t - t) AS ties3h
          FROM mr),
        fin AS (
          SELECT n1, n2,
            CAST(r1_2h AS BIGINT) AS r1_2,
            CAST(ties3h AS BIGINT) AS ties3,
            CAST(r1_2h - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_2
          FROM agg)
        SELECT n1, n2, r1_2, ties3, u1_2,
          CASE WHEN n1 > 0 AND n2 > 0
            AND CAST(n1 + n2 + 1 AS DOUBLE)
              - CAST(ties3 AS DOUBLE)
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)) > 0
          THEN ((CAST(u1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / 2.0)
            / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
              * (CAST(n1 + n2 + 1 AS DOUBLE)
                 - CAST(ties3 AS DOUBLE)
                   / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
          END AS z
        FROM fin"""),
    "stats_ks" -> QueryDef(statsKs _,
      """WITH binned AS (
          SELECT CAST(floor(value) AS BIGINT) AS bin,
            count(CASE WHEN event_type = 'click' THEN 1 END) AS n1b,
            count(CASE WHEN event_type = 'view' THEN 1 END) AS n2b
          FROM events WHERE event_type IN ('click', 'view')
          GROUP BY 1),
        cum AS (
          SELECT sum(n1b) OVER (ORDER BY bin) AS cum1,
            sum(n2b) OVER (ORDER BY bin) AS cum2
          FROM binned),
        totals AS (
          SELECT CAST(sum(n1b) AS BIGINT) AS n1,
            CAST(sum(n2b) AS BIGINT) AS n2
          FROM binned)
        SELECT n1, n2,
          CAST(max(abs(n2 * cum1 - n1 * cum2)) AS BIGINT) AS d_num,
          CAST(max(abs(n2 * cum1 - n1 * cum2)) AS BIGINT)
            / CAST(n1 * n2 AS DOUBLE) AS d_stat
        FROM cum, totals GROUP BY n1, n2"""),
    "agg_spearman" -> QueryDef(aggSpearman _,
      """WITH per AS (
          SELECT l_suppkey,
            sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
            sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS price
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT row_number() OVER (ORDER BY qty, l_suppkey) AS rq,
            row_number() OVER (ORDER BY price, l_suppkey) AS rp
          FROM per)
        SELECT count(*) AS n,
          CAST(sum((rq - rp) * (rq - rp)) AS BIGINT) AS sum_d2,
          1.0 - (6.0 * CAST(sum((rq - rp) * (rq - rp)) AS DOUBLE))
            / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE) AS rho
        FROM ranked"""),
  )
}
