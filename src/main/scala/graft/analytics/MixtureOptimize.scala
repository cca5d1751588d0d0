package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative mixture optimization (r14) — the constrained reweighting
  * a release mix actually ships, next to the open-loop knobs the
  * engine already owns (mixture_temperature's fixed α, token_budget's
  * raw proportions). DoReMi (Xie et al. 2023) iterates domain weights
  * against a per-domain signal under a reference distribution; the
  * exact-integer lane here spells the constrained variant every
  * public mix publishes (The Pile/Dolma-style rules): target weights
  * PROPORTIONAL TO QUALITY-SURVIVING TOKEN MASS (the Gopher-gated
  * token count — the engine's own per-source quality signal), subject
  * to a per-source CAP so no single domain dominates, solved by the
  * cap-cascade fixed point:
  *
  *   round k: re-apportion the uncapped mass among free sources in
  *   proportion to their signal; any free source whose trial share
  *   exceeds [[CapPpm]] joins the capped set (capping one source
  *   raises everyone else's share — the cascade the iteration exists
  *   for). A fixed point is reached when no trial share violates.
  *
  * [[Rounds]] = ⌊10⁶/CapPpm⌋ + 1 bounds the cascade depth at ANY
  * corpus (each effective round caps ≥ 1 source and at most
  * ⌊10⁶/Cap⌋ sources can ever be capped), so the unrolled chain is
  * provably converged at the end — the receipt's final max_over_ppm
  * is 0 by theorem, and the board row pins it in data.
  *
  * The final allocation is EXACT largest-remainder apportionment
  * (Hamilton's method): free shares are truncating divisions, and the
  * leftover dust ppm go to the largest remainders (ties by source) —
  * Σ opt_ppm = 10⁶ exactly, integer end-to-end (no float division
  * anywhere, the no-ln rule trivially satisfied).
  *
  * Declared queries (the unigram_rounds receipt pattern):
  *   - `mixture_optimize`   — the final per-source allocation: signal
  *                            mass, raw proportional ppm, optimized
  *                            ppm, capped flag
  *   - `mixture_opt_rounds` — the per-round receipt: capped-set size
  *                            (monotone ↑), free mass, and the largest
  *                            cap violation among free sources
  *                            (reaches 0 and stays — convergence
  *                            visible in data)
  *
  * Scale shape: ONE corpus scan builds the per-source gated token
  * mass (the gopher gate is a scan-side fold); every round after that
  * runs on the bounded source table (≤ tens of rows — the
  * mixture_temperature domain), as 1-row scalar aggregates crossJoined
  * back. Optimizing a 100 TB mix costs one aggregation pass. */
object MixtureOptimize {

  /** No source may exceed 11% of the optimized mix. */
  private[graft] val CapPpm = 110000L

  /** Worst-case cascade depth: at most ⌊10⁶/Cap⌋ sources can be
    * capped, each effective round caps at least one. */
  private[graft] val Rounds = (1000000L / CapPpm).toInt + 1

  /** (source, b): per-source token mass surviving the Gopher gate —
    * the quality-weighted signal the weights chase. */
  private def qualityMass(s: SparkSession, d: String): DataFrame = {
    // full-width fan-out before the interpreted gopher HOF stack: the
    // documents parquet is a single split at test SF (the PlanSpec
    // mustFan rule). The gate is spelled as AGGREGATION ARITHMETIC,
    // not a row filter — Catalyst pushes deterministic filters THROUGH
    // a repartition onto the single-split scan (measured: the whole
    // gopher stack serialized on one task, 15 s at sf1), whereas the
    // metric projection + partial agg stay above the exchange.
    val docs = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    TextAnalysis.qualityGopherOf(
        docs.select(col("doc_id"), col("source"), col("text")),
        carry = Seq("source", "text"))
      .groupBy(col("source"))
      .agg(sum(when(col("gopher_keep") === 1,
        size(split(col("text"), " ")).cast("long")).otherwise(0L)).as("b"))
      // sources with zero surviving mass leave the mixture here, AFTER
      // the rollup (same result as the filtered spelling, never pushed)
      .filter(col("b") > 0)
  }

  /** The unrolled cascade: per-round (state, trial) frames over the
    * bounded source table. state = (source, b, capped); trial adds
    * (m, free_b, v). Severed per round — the frames are rows-of-a-
    * domain tiny, and severing keeps the receipt's per-round
    * aggregates from re-compiling the whole accumulated chain (the
    * corpus_build lesson). */
  private def cascade(s: SparkSession, d: String): Seq[(DataFrame, DataFrame)] = {
    var st = qualityMass(s, d).withColumn("capped", lit(false))
      .localCheckpoint(true)
    // Feasibility gate (r15 advice): with n massive sources, the cap
    // constraint is satisfiable iff n·CapPpm ≥ 10⁶ — otherwise the
    // cascade caps EVERY source and the "Σ opt_ppm = 10⁶" theorem
    // silently fails (the shipped allocation would sum to n·CapPpm).
    // Feasibility also implies the free set never empties at a fixed
    // point: f free sources all violating would force
    // 10⁶ − nc·Cap > f·Cap, i.e. n·Cap < 10⁶. The count is the
    // bounded source domain — a driver-side scalar, not a corpus scan.
    val nMass = st.count()
    require(nMass * CapPpm >= 1000000L,
      s"infeasible cap: $nMass sources x $CapPpm ppm < 1e6 - " +
        "every source would be capped and the mix under-allocated; " +
        "raise CapPpm or merge sources")
    val out = Seq.newBuilder[(DataFrame, DataFrame)]
    for (_ <- 1 to Rounds) {
      val scal = st.agg(
        sum(when(col("capped"), 0L).otherwise(col("b"))).as("free_b"),
        sum(when(col("capped"), 1L).otherwise(0L)).as("nc"))
      val trial = st.crossJoin(broadcast(scal))
        .withColumn("m", lit(1000000L) - col("nc") * CapPpm)
        .withColumn("v", when(col("capped"), lit(CapPpm))
          .otherwise(expr("CAST(b AS DECIMAL(28,0)) * m div free_b")
            .cast("long")))
        .localCheckpoint(true)
      st = trial
        .select(col("source"), col("b"),
          (col("capped") || col("v") > CapPpm).as("capped"))
        .localCheckpoint(true)
      out += ((st, trial))
    }
    out.result()
  }

  private val memo = new Caches.SessionMemo[Seq[(DataFrame, DataFrame)]]

  private def rounds(s: SparkSession, d: String): Seq[(DataFrame, DataFrame)] =
    memo.getOrElseUpdate((s, d), cascade(s, d))

  /** The convergence receipt: one row per round. */
  def mixtureOptRounds(s: SparkSession, d: String): DataFrame =
    rounds(s, d).zipWithIndex.map { case ((_, trial), i) =>
      trial.agg(
        max(col("nc")).as("n_capped"),
        max(col("m")).as("free_mass_ppm"),
        coalesce(max(when(!col("capped") && col("v") > CapPpm,
          col("v") - CapPpm)), lit(0L)).as("max_over_ppm"))
        .select(lit(i + 1).as("round"), col("n_capped"),
          col("free_mass_ppm"), col("max_over_ppm"))
    }.reduce(_ unionByName _)

  /** The shipped allocation: capped sources at [[CapPpm]], free
    * sources by largest-remainder exact apportionment of the free
    * mass — Σ opt_ppm = 10⁶ exactly. */
  def mixtureOptimize(s: SparkSession, d: String): DataFrame = {
    val st = rounds(s, d).last._1
    val scal = st.agg(
      sum(when(col("capped"), 0L).otherwise(col("b"))).as("free_b"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("nc"),
      sum(col("b")).as("tot_b"))
    val fv = st.crossJoin(broadcast(scal))
      .withColumn("m", lit(1000000L) - col("nc") * CapPpm)
      .withColumn("v", when(col("capped"), lit(CapPpm))
        .otherwise(expr("CAST(b AS DECIMAL(28,0)) * m div free_b")
          .cast("long")))
      .withColumn("rem", when(col("capped"), lit(-1L))
        .otherwise(expr(
          // both products in the DECIMAL lane: v·free_b would overflow
          // a BIGINT multiply at 100 TB token masses
          "CAST(CAST(b AS DECIMAL(28,0)) * m - CAST(v AS DECIMAL(28,0)) * free_b AS BIGINT)")))
    val dust = fv.agg((max(col("m")) -
      sum(when(col("capped"), 0L).otherwise(col("v")))).as("dust"))
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    fv.withColumn("rk", row_number().over(wRem))
      .crossJoin(broadcast(dust))
      .select(col("source"), col("b").as("b_tokens"),
        expr("CAST(b AS DECIMAL(28,0)) * 1000000 div tot_b").cast("long")
          .as("raw_ppm"),
        (when(col("capped"), lit(CapPpm)).otherwise(col("v")) +
          when(!col("capped") && col("rk") <= col("dust"), 1L)
            .otherwise(0L)).as("opt_ppm"),
        col("capped").cast("int").as("is_capped"))
  }

  /** MATERIALIZE the optimized mixture (r14, the step after the
    * optimizer: a mixture table is only useful if a sample can
    * realize it): per-source deterministic Bernoulli downsampling
    * with keep ratio f_s ∝ opt_ppm(s) / raw_mass(s), normalized so
    * the most-boosted source keeps everything (pure downsampling — no
    * document repeats; achieved token mass is then EXACTLY
    * proportional to the optimized shares in expectation). The keep
    * decision is the sample_weighted md5 lane (first 6 hex digits of
    * md5(doc_id) under a 24-bit threshold) — deterministic per doc on
    * both engines, so the achieved mixture is hash-pinned, not just
    * statistically close. Thresholds are exact integers: with m the
    * max-ratio source, thresh_s = (opt_s·b_m·2²⁴) div (b_s·opt_m) —
    * all products in the DECIMAL/HUGEINT lane. m itself is selected
    * by an integer quotient key ((opt·10¹²) div b, ties by source) so
    * both engines pick the same normalizer.
    *
    * Output: per source, the threshold, kept doc/token volumes, and
    * achieved-vs-target ppm side by side — the receipt a mix release
    * publishes. Scale shape: one gated corpus scan (the cascade memo)
    * + one md5-filtered scan; the threshold table is bounded and
    * broadcast. */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val alloc = mixtureOptimize(s, d)
      .select(col("source"), col("b_tokens"), col("opt_ppm"))
      .withColumn("q", expr(
        "CAST(CAST(opt_ppm AS DECIMAL(28,0)) * 1000000000000 div b_tokens AS BIGINT)"))
    val m = alloc.orderBy(col("q").desc, col("source")).limit(1)
      .select(col("opt_ppm").as("om"), col("b_tokens").as("bm"))
    val withM = alloc.crossJoin(broadcast(m))
      .withColumn("thresh", expr(
        """CAST(least(CAST(opt_ppm AS DECIMAL(38,0)) * bm * 16777216
             div (CAST(b_tokens AS DECIMAL(38,0)) * om),
           CAST(16777216 AS DECIMAL(38,0))) AS BIGINT)"""))
      .select(col("source"), col("b_tokens"), col("opt_ppm"), col("thresh"))
    // fanned single-scan gate (the qualityMass spelling): gopher
    // verdict, source and token count in one pass. The gopher gate and
    // the md5 keep decision are AGGREGATION ARITHMETIC, not row
    // filters — a filter would be pushed through the repartition onto
    // the single-split scan and serialize the HOF stack (see
    // qualityMass); sources absent from the allocation drop at the
    // bounded broadcast join instead
    val gated = TextAnalysis.qualityGopherOf(
        documents(s, d).repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("source"), col("text")),
        carry = Seq("source", "text"))
      .select(col("doc_id"), col("source"), col("gopher_keep"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val kept = gated.join(broadcast(withM), Seq("source"))
      // the max-ratio source keeps everything: its threshold saturates
      // at 2^24 and the sentinel 'g' sorts above every hex digit (the
      // sample_weighted keep_prob >= 1 spelling)
      .withColumn("tstr", when(col("thresh") >= 16777216L, lit("g"))
        .otherwise(format_string("%06x", col("thresh").cast("int"))))
      .withColumn("keep", col("gopher_keep") *
        (substring(md5(col("doc_id").cast("string")), 1, 6) <
          col("tstr")).cast("int"))
      .groupBy(col("source"))
      .agg(max(col("thresh")).as("thresh"),
        sum(col("gopher_keep")).cast("long").as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("keep") * col("nt")).as("tok_kept"),
        max(col("opt_ppm")).as("target_ppm"))
      // domain-sized, consumed by BOTH the totals branch and the final
      // projection — without persisting, the whole gopher scan above
      // runs twice (measured 12.8 -> 6.5 s at sf1)
      .persistTracked()
    val tot = kept.agg(sum(col("tok_kept")).as("tot_kept"))
    kept.crossJoin(broadcast(tot))
      .select(col("source"), col("thresh"), col("n_docs"), col("n_kept"),
        col("tok_kept"), col("target_ppm"),
        expr("CAST(CAST(tok_kept AS DECIMAL(28,0)) * 1000000 div tot_kept AS BIGINT)")
          .as("achieved_ppm"))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle: gopher gate + the FULL unrolled cascade + the
  // largest-remainder apportionment re-derived from scratch — a hash
  // match pins every round's capped set and the exact dust placement.
  // ---------------------------------------------------------------

  private def roundCtes: String =
    (1 to Rounds).map { k =>
      s"""a$k AS (
          SELECT sum(CASE WHEN capped THEN 0 ELSE b END) AS free_b,
            sum(CASE WHEN capped THEN 1 ELSE 0 END) AS nc
          FROM s${k - 1}),
        v$k AS MATERIALIZED (
          SELECT s.source, s.b, s.capped, a.nc,
            1000000 - a.nc * $CapPpm AS m, a.free_b,
            CASE WHEN s.capped THEN $CapPpm
              ELSE CAST((CAST(s.b AS HUGEINT) * (1000000 - a.nc * $CapPpm))
                // a.free_b AS BIGINT) END AS v
          FROM s${k - 1} s CROSS JOIN a$k a),
        s$k AS MATERIALIZED (
          SELECT source, b, capped OR v > $CapPpm AS capped FROM v$k)"""
    }.mkString(",\n        ")

  private def baseCtes: String =
    s"""WITH gm AS MATERIALIZED (${TextAnalysis.gopherSqlFrom("documents")}),
        mass AS (
          SELECT d.source,
            CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS b
          FROM documents d
          JOIN gm ON gm.doc_id = d.doc_id AND gm.gopher_keep = 1
          GROUP BY 1),
        s0 AS (SELECT source, b, FALSE AS capped FROM mass),
        $roundCtes"""

  val registry: Map[String, QueryDef] = Map(
    "mixture_opt_rounds" -> QueryDef(mixtureOptRounds _,
      (baseCtes + "\n" +
      (1 to Rounds).map { k =>
        s"""SELECT $k AS round,
          (SELECT CAST(nc AS BIGINT) FROM a$k) AS n_capped,
          (SELECT CAST(1000000 - nc * $CapPpm AS BIGINT) FROM a$k)
            AS free_mass_ppm,
          (SELECT CAST(coalesce(max(CASE WHEN NOT capped AND v > $CapPpm
              THEN v - $CapPpm END), 0) AS BIGINT) FROM v$k) AS max_over_ppm"""
      }.mkString(" UNION ALL "))),
    "mixture_optimize" -> QueryDef(mixtureOptimize _,
      (allocCtes + """
      SELECT source, b_tokens, raw_ppm, opt_ppm, is_capped FROM fin""")),
    // the sampling chain over the allocation: max-ratio normalizer by
    // the same integer quotient key, exact 24-bit thresholds, and the
    // md5 keep decision replayed per document
    "mixture_sample" -> QueryDef(mixtureSample _,
      (allocCtes + s""",
      aq AS (
        SELECT source, b_tokens, opt_ppm,
          CAST((CAST(opt_ppm AS HUGEINT) * 1000000000000) // b_tokens
            AS BIGINT) AS q
        FROM fin),
      mx AS (SELECT opt_ppm AS om, b_tokens AS bm FROM aq
             ORDER BY q DESC, source LIMIT 1),
      th AS (
        SELECT a.source, a.opt_ppm,
          CAST(least((CAST(a.opt_ppm AS HUGEINT) * m.bm * 16777216)
            // (CAST(a.b_tokens AS HUGEINT) * m.om), 16777216) AS BIGINT)
            AS thresh
        FROM aq a CROSS JOIN mx m),
      gated AS (
        SELECT d.doc_id, d.source,
          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt
        FROM documents d
        JOIN gm ON gm.doc_id = d.doc_id AND gm.gopher_keep = 1),
      kp AS (
        SELECT g.source, t.thresh, t.opt_ppm, g.nt,
          CASE WHEN t.thresh >= 16777216 THEN 1
            WHEN substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 6)
              < printf('%06x', t.thresh) THEN 1 ELSE 0 END AS keep
        FROM gated g JOIN th t USING (source)),
      ks AS (
        SELECT source, max(thresh) AS thresh, count(*) AS n_docs,
          CAST(sum(keep) AS BIGINT) AS n_kept,
          CAST(sum(keep * nt) AS BIGINT) AS tok_kept,
          max(opt_ppm) AS target_ppm
        FROM kp GROUP BY source),
      kt AS (SELECT sum(tok_kept) AS tot_kept FROM ks)
      SELECT source, thresh, n_docs, n_kept, tok_kept, target_ppm,
        CAST((CAST(tok_kept AS HUGEINT) * 1000000) // kt.tot_kept
          AS BIGINT) AS achieved_ppm
      FROM ks CROSS JOIN kt""")),
  )

  /** Shared final-allocation CTE chain ending in
    * `fin(source, b_tokens, raw_ppm, opt_ppm, is_capped)`. */
  private def allocCtes: String = baseCtes + s""",
      fa AS (
        SELECT sum(CASE WHEN capped THEN 0 ELSE b END) AS free_b,
          sum(CASE WHEN capped THEN 1 ELSE 0 END) AS nc,
          sum(b) AS tot_b
        FROM s$Rounds),
      fv AS (
        SELECT s.source, s.b, s.capped, a.free_b, a.tot_b,
          1000000 - a.nc * $CapPpm AS m,
          CASE WHEN s.capped THEN $CapPpm
            ELSE CAST((CAST(s.b AS HUGEINT) * (1000000 - a.nc * $CapPpm))
              // a.free_b AS BIGINT) END AS v
        FROM s$Rounds s CROSS JOIN fa a),
      fr AS (
        SELECT *, CASE WHEN capped THEN -1
            ELSE CAST(CAST(b AS HUGEINT) * m - CAST(v AS HUGEINT) * free_b
              AS BIGINT) END AS rem,
          row_number() OVER (ORDER BY (CASE WHEN capped THEN -1
            ELSE CAST(CAST(b AS HUGEINT) * m - CAST(v AS HUGEINT) * free_b
              AS BIGINT) END) DESC, source) AS rk
        FROM fv),
      du AS (
        SELECT max(m) - sum(CASE WHEN capped THEN 0 ELSE v END) AS dust
        FROM fr),
      fin AS (
        SELECT source, b AS b_tokens,
          CAST((CAST(b AS HUGEINT) * 1000000) // tot_b AS BIGINT) AS raw_ppm,
          CAST(v + CASE WHEN NOT capped AND rk <= du.dust THEN 1 ELSE 0 END
            AS BIGINT) AS opt_ppm,
          CAST(capped AS INT) AS is_capped
        FROM fr CROSS JOIN du)"""
}
