package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-set selection and corpus-curation operators. NOTE
  * (r13): `training_select` below is the r5-era FOUR-GATE selector,
  * kept as the minimal composition demo; the full-stack composed
  * pipeline — unicode repair, exact/near/paragraph dedup, Gopher,
  * the trained classifier, eval decontamination, PII scrub, packing
  * and mixture, with an exactly-reconciling drop ledger — is
  * [[CorpusBuild]] (`corpus_build*`), which is what a production run
  * executes. The four gates of training_select:
  *
  *   1. quality gate    — Gopher/C4-style heuristics (textQuality)
  *   2. language gate   — marker-token language ID == 'en' (langId)
  *   3. exact dedup     — keep each content fingerprint's min doc_id
  *   4. near dedup      — keep only each MinHash-LSH connected
  *                        component's canonical (min) doc, so A~B~C
  *                        chains collapse to one survivor (dedupClusters)
  *
  * Scale shape: gates 1-2 are scan-speed projections; gate 3 is one
  * shuffle on a 32-byte fingerprint; gate 4 reuses the LSH + label
  * propagation machinery. The final assembly is two left-semi joins and
  * one left-anti join on doc_id — at 100 TB the document text never
  * shuffles at all (only ids and fingerprints move).
  */
object Curation {

  private val toks = split(col("text"), " ")

  def trainingSelect(s: SparkSession, d: String): DataFrame = {
    val docs  = documents(s, d)
    val nTok  = size(toks)
    val nStop = size(filter(toks, t => t === "a" || t === "the"))
    val qualityOk =
      nTok.between(20, 400) &&
        (nStop.cast("double") / nTok.cast("double")) < lit(0.3)
    val english = TextAnalysis.langId(s, d)
      .filter(col("pred_lang") === "en").select(col("doc_id"))
    val exactCanon = docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nearDupLosers = Dedup.dedupClusters(s, d)
      .filter(col("cluster_id") =!= col("doc_id")).select(col("doc_id"))
    docs
      .filter(qualityOk)
      .join(english, Seq("doc_id"), "left_semi")
      .join(exactCanon, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), nTok.as("n_tokens"))
  }

  // PII patterns: simple email and 555-prefixed phone shapes, written in
  // the regex subset Java regex and RE2 (DuckDB) agree on
  private val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val phoneRe = "555-[0-9]{4}"

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before text leaves curation. The synthetic corpus carries no
    * digits, so deterministic PII is injected first (doc_id-keyed email
    * / alt-email / phone decorations), then detected with
    * regexp_extract_all counts and redacted with global regexp_replace;
    * the output carries the redaction counts and the scrubbed-text
    * fingerprint. Scale shape: pure per-row projection — scan-speed,
    * zero shuffles, whole-stage codegen end to end. */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    piiScrubFull(documents(s, d)).select(
      col("doc_id"), col("n_emails"), col("n_phones"),
      md5(col("scrubbed")).as("scrub_fp"),
      length(col("scrubbed")).cast("long").as("scrub_len"))

  /** Spec surface: the scrubbed text itself (the declared query emits
    * only its fingerprint/length to keep the oracle compact). */
  private[graft] def piiScrubFull(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val injected = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), id, lit("@example.com"))).otherwise(""),
      when(col("doc_id") % 6 === 0,
        concat(lit(" or u"), id, lit("b@alt.org"))).otherwise(""),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(injected, lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(injected, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(injected, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        .as("scrubbed"))
  }

  /** Corpus-health report — the per-source dashboard a curation run
    * opens with: volume, exact-dup rate (distinct content fingerprints
    * vs docs), mean length, and the dominant declared language
    * (explicit argmax — count desc, lang asc — because built-in mode()
    * tie-breaks engine-specifically). Two aggregations on `source` +
    * one tiny join; fingerprints are 32-byte md5, the text itself never
    * shuffles. */
  def curationReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = documents(s, d).select(col("source"), col("lang"),
      col("n_chars"), md5(col("text")).as("fp"))
    val stats = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_unique"),
      (lit(1.0) - countDistinct(col("fp")).cast("double")
        / count(lit(1))).as("dup_rate"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"))
    val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("lang"))
    val top = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    stats.join(top, Seq("source"))
  }

  /** Deterministic train/val/test split — the standard 80/10/10 cohort
    * assignment every training run starts from, spelled so the SAME
    * doc lands in the SAME split on every engine, run, and cluster
    * layout: the first two md5 hex chars of the doc id give 256
    * uniform buckets, cut at 0xcc (204 ≈ 80%) and 0xe6 (230 ≈ 90%) by
    * plain string comparison (lowercase hex compares identically
    * everywhere). No rand(), no sample() — reshuffling the corpus
    * cannot move a document across splits, which is what makes the
    * split reproducible AND leak-free under incremental ingest.
    * Output is the per-split audit: doc/token/language counts. */
  /** The md5 split rule shared by dataset_split and split_leakage. */
  private def splitCol: Column = {
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
  }

  def datasetSplit(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("split", splitCol)
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long")).as("n_tokens"),
        countDistinct(col("lang")).cast("int").as("n_langs"))
  }

  /** Split-leakage audit (r14) — the evaluation-integrity check every
    * split ships with: no NEAR-DUPLICATE pair may straddle the
    * train/val/test boundary, or the held-out score is partly
    * memorization (the Lewis et al. 2021 test-set-overlap finding as
    * an operator). Candidate pairs come from the production MinHash
    * banding (dedup_minhash — the same pair set the dedup passes act
    * on), each side tagged with the md5 split rule, rolled up per
    * unordered split pair with an is_leak flag on the off-diagonal
    * rows. A clean split shows zero off-diagonal mass; the md5 split
    * is content-blind BY DESIGN, so the planted duplicate families
    * make the leak rows provably nonzero here — exactly the failure
    * the audit exists to surface (dedup-THEN-split, never the
    * reverse). Scale shape: the pair table carries bare ids; the two
    * split lookups are id joins (text never moves); the rollup domain
    * is 3×3. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = documents(s, d).select(col("doc_id"), splitCol.as("sp"))
      .persistTracked()
    Dedup.dedupMinhash(s, d)
      .join(sp.select(col("doc_id").as("doc_a"), col("sp").as("sa")),
        Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("sp").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_x"),
        greatest(col("sa"), col("sb")).as("split_y"))
      .groupBy(col("split_x"), col("split_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("split_x"), col("split_y"), col("n_pairs"),
        (col("split_x") =!= col("split_y")).cast("int").as("is_leak"))
  }

  /** k-anonymity audit (k=5) over the event stream: how much of each
    * event type survives quasi-identifier generalization? The QID is
    * (event_type, hour-of-day, 50-dollar value band) — the shape of a
    * release table after generalizing timestamps and amounts; any QID
    * group smaller than k is suppressed. One exchange on the BOUNDED
    * QID domain (5×24×~10 cells) carrying counts only, then a rollup
    * to event_type — the raw stream never shuffles, which is what
    * makes the audit runnable on every release at 100 TB. */
  def privacyKanon(s: SparkSession, d: String): DataFrame = {
    val k = lit(5L)
    val groups = events(s, d)
      .select(col("event_type"), hour(col("ts")).as("hh"),
        expr("CAST(floor(value) AS BIGINT) div 50").as("vb"))
      .groupBy(col("event_type"), col("hh"), col("vb"))
      .agg(count(lit(1)).as("n"))
    groups.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("suppressed_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("suppressed_rows"),
        sum(when(col("n") >= k, col("n")).otherwise(0L)).as("kept_rows"))
  }

  /** l-diversity audit — k-anonymity's sharper sibling: a QID group can
    * be k-large yet leak everything if all its members share one
    * sensitive value. Over the same (event_type, hour, value-band) QID
    * groups as `privacy_kanon`, count DISTINCT sensitive values
    * (user-cohort = user_id % 10) per group and roll up the groups
    * failing l < 3 — the release gate a training-data pipeline runs
    * before publishing grouped telemetry. Same scale shape as kanon:
    * two keyed aggregations, integer-only output (the countDistinct is
    * the only addition — a two-phase agg, no wider shuffle). */
  def privacyLdiversity(s: SparkSession, d: String): DataFrame = {
    val l = lit(3L)
    val groups = events(s, d)
      .select(col("event_type"), hour(col("ts")).as("hh"),
        expr("CAST(floor(value) AS BIGINT) div 50").as("vb"),
        (col("user_id") % 10).as("sens"))
      .groupBy(col("event_type"), col("hh"), col("vb"))
      .agg(countDistinct(col("sens")).as("l"), count(lit(1)).as("n"))
    groups.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < l, 1L).otherwise(0L)).as("weak_groups"),
        sum(when(col("l") < l, col("n")).otherwise(0L)).as("weak_rows"))
  }

  /** t-closeness audit — the third rung of the release-gate ladder
    * (k-anonymity: groups are big; l-diversity: groups are varied;
    * t-closeness: each group's sensitive DISTRIBUTION stays close to
    * the global one, killing skew attacks l-diversity misses). Over the
    * same (event_type, hour, value-band) QID groups, distance is the
    * ordered-domain Earth-Mover's Distance on the user-cohort
    * (user_id % 10, domain 0..9): EMD = (1/(m−1))·Σᵢ|CumPᵢ − CumQᵢ|.
    * The m−1 = 9 cumulative counts are NINE conditional sums inside the
    * one QID aggregation (no window, no second shuffle — the fixed tiny
    * domain makes the prefix sums free), the global distribution is a
    * broadcast 1-row table, and the EMD numerator Σ|cumᵢ·N − Gᵢ·n| is
    * EXACT BIGINT (≤ 9·6e11 at sf0.1). The t > 0.2 gate compares in
    * multiply-through integers (num·5 > n·N·9 — no double-threshold
    * edge); t itself is one double division per group. */
  def privacyTcloseness(s: SparkSession, d: String): DataFrame =
    privacyTclosenessOf(events(s, d))

  private[graft] def privacyTclosenessOf(ev: DataFrame): DataFrame = {
    val base = ev
      .select(col("event_type"), hour(col("ts")).as("hh"),
        expr("CAST(floor(value) AS BIGINT) div 50").as("vb"),
        (col("user_id") % 10).as("sens"))
    def cums(prefix: String) = (0 to 8).map(i =>
      sum(when(col("sens") <= i, 1L).otherwise(0L)).as(s"$prefix$i"))
    val groups = base.groupBy(col("event_type"), col("hh"), col("vb"))
      .agg(count(lit(1)).as("n"), cums("c"): _*)
    val global = base.agg(count(lit(1)).as("nn"), cums("g"): _*)
    val emdNum = (0 to 8).map(i =>
      abs(col(s"c$i") * col("nn") - col(s"g$i") * col("n")))
      .reduce(_ + _)
    groups.crossJoin(broadcast(global))
      .withColumn("emd_num", emdNum)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        max(col("emd_num").cast("double")
          / (col("n") * col("nn") * 9L).cast("double")).as("max_t"),
        sum(when(col("emd_num") * 5L > col("n") * col("nn") * 9L, 1L)
          .otherwise(0L)).as("weak_groups"),
        sum(when(col("emd_num") * 5L > col("n") * col("nn") * 9L, col("n"))
          .otherwise(0L)).as("weak_rows"))
  }

  /** THE shared discrete-Laplace (two-sided geometric) inverse-CDF
    * threshold table for ε = 1, sensitivity Δ = 1 (α = e^−ε/Δ):
    * T[j] = floor(CDF(j − 20)·2⁴⁸) for noise values −20..+20, with the
    * last entry clamped to 2⁴⁸ so both tails fold into the end bins
    * (P(|X| > 20) = α²¹/(1+α) ≈ 5.5·10⁻¹⁰ — the truncation that makes
    * the mechanism (ε, δ)-DP with δ below one in a billion). The
    * TABLE is the contract both engines share: noise = #{T[j] ≤ u} −
    * 20 for a 48-bit uniform u, so the draw is pure integer
    * arithmetic — no exp/ln at query time (the no-ln rule), no
    * float CDF inversion to drift between engines. Values derived
    * once from the closed forms CDF(k<0) = α^|k|/(1+α),
    * CDF(k≥0) = 1 − α^(k+1)/(1+α) at 60-digit precision. */
  private[graft] val dpLaplaceThresholds: Seq[Long] = Seq(
    424133L, 1152913L, 3133944L, 8518944L, 23156891L, 62946957L,
    171107569L, 465118597L, 1264323431L, 3436787409L, 9342156763L,
    25394614967L, 69029720408L, 187642234609L, 510064476589L,
    1386498998055L, 3768895031591L, 10244918877744L, 27848576819410L,
    75700280316650L, 205774696394005L, 253626399891245L,
    271230057832911L, 277706081679064L, 280088477712600L,
    280964912234066L, 281287334476046L, 281405946990247L,
    281449582095688L, 281465634553892L, 281471539923246L,
    281473712387224L, 281474511592058L, 281474805603086L,
    281474913763698L, 281474953553764L, 281474968191711L,
    281474973576711L, 281474975557742L, 281474976286522L,
    281474976710656L)

  /** Differentially-private release counts per event type — the
    * privacy tier's OUTPUT mechanism next to its three audit gates
    * (kanon/ldiversity/tcloseness audit what a release would leak;
    * this one actually releases): true count + discrete-Laplace noise
    * at ε = 1 for the Δ = 1 counting query. Noise is drawn by
    * inverse-CDF over [[dpLaplaceThresholds]] from a 48-bit uniform —
    * here md5-derived from the event type so the draw is REPLAYABLE
    * for the oracle and the ScalaTest distribution check; a
    * production release swaps the md5 for a CSPRNG draw per query
    * (a replayable draw is calibration plumbing, NOT private — same
    * demo-vs-production split as dedup_simhash_pairs, documented).
    * `n_true` is likewise emitted only for the oracle pin; the
    * release view is (event_type, n_noised). Scale shape: one keyed
    * count of the stream, then 5 rows of integer arithmetic. */
  def privacyDpCounts(s: SparkSession, d: String): DataFrame = {
    val th = dpLaplaceThresholds.mkString("array(", "L, ", "L)")
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        conv(substring(md5(concat(lit("dp-"), col("event_type"))), 1, 12),
          16, 10).cast("long"))
      .withColumn("noise",
        expr(s"size(filter($th, t -> t <= u)) - 20").cast("long"))
      .select(col("event_type"), col("n_true"), col("noise"),
        (col("n_true") + col("noise")).as("n_noised"))
  }

  /** The RELEASE VIEW of [[privacyDpCounts]] (r12 advice): what
    * actually leaves the engine. `privacy_dp_counts` emits
    * n_true/noise next to n_noised so the oracle can pin the draw —
    * which also means that DataFrame provides zero privacy and must
    * never be published. This view drops both: (event_type, n_noised)
    * only, so the published schema CANNOT leak the true counts
    * regardless of how the noise was seeded. (The md5-replayable seed
    * caveat still applies to the demo draw itself — a production
    * release swaps in a CSPRNG, which this projection is already
    * shaped for.) */
  def privacyDpRelease(s: SparkSession, d: String): DataFrame =
    privacyDpCounts(s, d).select(col("event_type"), col("n_noised"))

  /** Differentially-private histogram over the (event_type × hour)
    * domain — the release primitive [[privacyDpCounts]] generalizes
    * to: disjoint bins mean PARALLEL composition, so every bin gets
    * its own ε = 1 discrete-Laplace draw from the SAME
    * [[dpLaplaceThresholds]] table and the whole histogram is still
    * ε = 1 (each individual lands in exactly one bin; Δ = 1). Noised
    * counts clamp at 0 — post-processing, free under DP — because a
    * negative published bin is useless AND the clamp direction is
    * engine-deterministic. Same replayable-md5-seed caveat as
    * dp_counts (production swaps a CSPRNG; n_true emitted for the
    * oracle pin only). One keyed count of the stream, then ~120 rows
    * of table-lookup arithmetic. */
  def privacyDpHistogram(s: SparkSession, d: String): DataFrame = {
    val th = dpLaplaceThresholds.mkString("array(", "L, ", "L)")
    events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hh"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        conv(substring(md5(concat(lit("dph-"), col("event_type"),
          lit("-"), col("hh"))), 1, 12), 16, 10).cast("long"))
      .withColumn("noise",
        expr(s"size(filter($th, t -> t <= u)) - 20").cast("long"))
      .select(col("event_type"), col("hh"), col("n_true"), col("noise"),
        greatest(col("n_true") + col("noise"), lit(0L)).as("n_noised"))
  }

  /** Class-balanced downsampling over the labeled embedding corpus —
    * the classifier-training prerequisite (a 10:1 label skew trains a
    * majority-class predictor): every label keeps exactly min-class
    * rows, chosen by md5(vec_id) order so the SAME rows survive on
    * every run/engine/partitioning (a random sample would be
    * irreproducible; a take-first would bias toward ingest order).
    * The min-class size is a broadcast scalar from the tiny per-label
    * count; the keep decision is one per-label rank window — the
    * standard salted-window shape, state bounded by rows-per-label. */
  def sampleBalanced(s: SparkSession, d: String): DataFrame = {
    val lab = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        md5(col("vec_id").cast("string")).as("h"))
    val minN = lab.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
      .agg(min(col("n_l")).as("min_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("h"), col("vec_id"))
    lab.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .filter(col("rk") <= col("min_n"))
      .select(col("vec_id"), col("label"), col("rk").cast("long").as("rk"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much its hashed-unigram features over-index in a
    * TARGET corpus (here: the lang='en' slice) vs the raw pool, and
    * keep the top-k. DSIR's weight is the log-ratio of two hashed
    * n-gram models; logs are not cross-engine reproducible (no-ln
    * rule), so the score is the exact-integer rate-difference
    * surrogate: per token, tgt_rate_ppm − raw_rate_ppm of its md5
    * feature bucket (ppm rates via truncating division — identical in
    * both engines), summed per document. Monotone in the same
    * direction as the log-ratio for each bucket; |score| ≤ 10⁶·len,
    * corpus-size-independent — no overflow at any scale.
    *
    * Scale shape: the feature model is the 256-row bucket table —
    * model METADATA, broadcast (rates computed inside it in the
    * DECIMAL(28,0)-cast exact lane — 28+7 multiply digits stays under
    * Spark's 38 cap, mirroring DuckDB's HUGEINT); docs are
    * scored with one broadcast join + one per-doc aggregation; the
    * final top-k is TakeOrderedAndProject, never a global sort. */
  def dsirSelect(s: SparkSession, d: String, topK: Int = 100): DataFrame =
    dsirSelectOf(documents(s, d), topK)

  /** Core of dsirSelect over an arbitrary (doc_id, lang, text) table —
    * target slice = lang='en' (spec-tested on planted vocabularies). */
  private[graft] def dsirSelectOf(docs: DataFrame, topK: Int): DataFrame = {
    // persisted: both the bucket-stats pass and the scoring pass read
    // the exploded+hashed token table — without the cache the corpus
    // is tokenized and digested twice (file-wide persist convention:
    // harness mains clearCache per query, see Tables)
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(toks).as("t"))
      .withColumn("b", substring(md5(col("t")), 1, 2))
      .persistTracked()
    val stats = tok.groupBy(col("b")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
    val totals = stats.agg(sum(col("n_raw")).as("tot_raw"),
      sum(col("n_tgt")).as("tot_tgt"))
    // ppm rates inside the tiny bucket table: 128-bit exact multiply,
    // truncating integral division (Spark div == DuckDB //)
    val rates = stats.crossJoin(broadcast(totals)).select(col("b"),
      expr("CAST(n_tgt AS DECIMAL(28,0)) * 1000000 div tot_tgt")
        .as("tgt_ppm"),
      expr("CAST(n_raw AS DECIMAL(28,0)) * 1000000 div tot_raw")
        .as("raw_ppm"))
    tok.join(broadcast(rates), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tgt_ppm") - col("raw_ppm")).as("score"),
        count(lit(1)).as("n_tokens"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("score"), col("n_tokens"))
  }

  // ---------------------------------------------------------------
  // Trained quality classifier (r12) — the CCNet/DCLM/FineWeb-Edu
  // step done for real: an averaged integer perceptron TRAINED
  // in-engine over hashed-unigram features (the text_feature_hash
  // buckets, length-normalized) + a bias + a capped length feature,
  // labels from the corpus's own quality tiers (textQuality's gate
  // in its exact-integer spelling). CLASS-BALANCED batch updates
  // keep it distributed AND oracle-replayable: each round is one
  // margin aggregation + one misclassified per-class-mean delta
  // (all integer sums and truncating divisions — exact in both
  // engines); plain batch updates degenerate to always-accept here
  // (the majority class outweighs the short-doc tier ~10:1 in
  // feature mass, so its round-1 blast never unwinds — measured),
  // while the balanced mean update converges to a genuinely
  // discriminating gate (≈95–96% label agreement with ZERO false
  // rejections at sf0.001–0.1; the md5 stand-in it replaces sat at
  // ≈51%). The weight vector is 34 longs of driver-side metadata
  // (the corpusPlanes discipline); prediction uses the AVERAGED
  // vote Σ_r w_r (final weights oscillate on the non-separable
  // corpus — measured 77% at one round count — the textbook reason
  // averaged perceptrons exist). DuckDB replays the whole training
  // as an unrolled 16-round CTE chain, so the learned weights are
  // hash-pinned, not asserted.
  // ---------------------------------------------------------------

  private[graft] val QualityRounds = 16
  private[graft] val QualityBuckets = 34 // 32 hashed tf + bias + length

  /** Per-token feature bucket — ONE definition with text_feature_hash
    * (TextAnalysis.featureBucket): quality_train's contract is "the
    * text_feature_hash buckets", so the two operators must not be
    * able to drift apart. */
  private def bucketOf(t: Column): Column = TextAnalysis.featureBucket(t)

  /** Integer quality label: the textQuality gate with the ratio
    * comparison in exact integers (10·n_stop < 3·n_tok ⟺
    * stop_ratio < 0.3 — no float division anywhere near training):
    * +1 keep / −1 drop. */
  private def qualityLabel: Column = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t === "a" || t === "the"))
    when(nTok.between(20, 400) && nStop * 10 < nTok * 3, 1).otherwise(-1)
  }

  /** Feature table (doc_id, bucket, x):
    *  - bucket 0..31: length-normalized hashed-unigram value
    *    cnt_b · (1000 div n_tok) — the per-TOKEN quantum (1000 div
    *    n_tok) distributes over the token array, which is what lets
    *    the trained classifier stay a scan-side fold; raw counts
    *    would also make every feature scale with doc length and the
    *    length rule unlearnable per class (measured: degenerate).
    *  - bucket 32: bias constant 10.
    *  - bucket 33: capped length feature least(n_tok, 50)·20 — the
    *    signal the corpus's quality tiers actually ride (too-short
    *    docs), on the same ~10³ scale as the tf features.
    * All integers; every value identical in both engines. */
  private def hashedFeatures(docs: DataFrame): DataFrame = {
    val nTok = size(toks).cast("long")
    val hashed = docs
      .select(col("doc_id"), nTok.as("n_tok"), explode(toks).as("tok"))
      .select(col("doc_id"), col("n_tok"), bucketOf(col("tok")).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), first(col("n_tok")).as("nt"))
      .select(col("doc_id"), col("bucket"),
        (col("cnt") * expr("1000 div nt")).as("x"))
    hashed
      .unionByName(docs.select(col("doc_id"), lit(32L).as("bucket"),
        lit(10L).as("x")))
      .unionByName(docs.select(col("doc_id"), lit(33L).as("bucket"),
        (least(nTok, lit(50L)) * 20).as("x")))
  }

  /** The previous deterministic stand-in weight rule (w(t) = ascii of
    * the first md5 hex char mod 7 − 3) — kept ONLY as the baseline the
    * trained model must beat (spec-pinned: label-agreement strictly
    * higher than this on the same corpus). */
  private[graft] def standinMargin: Column =
    aggregate(toks, lit(0L), (acc, t) =>
      acc + (ascii(substring(md5(t), 1, 1)) % 7 - 3).cast("long"))

  /** Train the averaged integer perceptron: `QualityRounds` balanced
    * batch rounds. Round r computes every document's margin under
    * w_{r−1} (one aggregation on doc_id), takes the misclassified set
    * (y·margin ≤ 0), and applies the class-balanced mean update
    *   Δ[b] = (Σ_{mis,y=+1} x_b · 1000) div max(1,|mis⁺|)
    *        − (Σ_{mis,y=−1} x_b · 1000) div max(1,|mis⁻|)
    * (one aggregation on the 34-bucket domain; the ·1000 div |class|
    * is a truncating integral mean over NON-NEGATIVE sums, identical
    * in both engines). Returns (final weights, per-round weight SUMS
    * — the averaged perceptron's vote; sign(Σ_r w_r·x) is the
    * averaged prediction, integer-exact without dividing by R).
    * Driver state is 34 longs + 2 class counts per round — bounded
    * metadata, not a data collect; every corpus-sized aggregation
    * keys on doc_id or the bucket domain, never text. */
  private[graft] def trainQualityWeightsOf(docs: DataFrame): (Array[Long], Array[Long]) = {
    val fx = hashedFeatures(docs)
      .join(docs.select(col("doc_id"), qualityLabel.as("y")), Seq("doc_id"))
      .persistTracked()
    val w = Array.fill(QualityBuckets)(0L)
    val wsum = Array.fill(QualityBuckets)(0L)
    for (_ <- 1 to QualityRounds) {
      val wCol = typedlit(w.toIndexedSeq)
      val mis = fx
        .withColumn("wv", element_at(wCol, (col("bucket") + 1).cast("int")))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("wv")).as("margin"), first(col("y")).as("y"))
        .filter(col("y") * col("margin") <= 0)
        .select(col("doc_id"), col("y"))
        .persistTracked()
      val nMis = mis.groupBy(col("y")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val np = math.max(1L, nMis.getOrElse(1, 0L))
      val nn = math.max(1L, nMis.getOrElse(-1, 0L))
      val sums = fx.join(mis.select(col("doc_id")), Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("y") === 1, col("x")).otherwise(0L)).as("sp"),
          sum(when(col("y") === -1, col("x")).otherwise(0L)).as("sn"))
        .collect() // ≤ 34 rows: the bounded weight domain
      sums.foreach { r =>
        val b = r.getLong(0).toInt
        w(b) += r.getLong(1) * 1000 / np - r.getLong(2) * 1000 / nn
      }
      var b = 0
      while (b < QualityBuckets) { wsum(b) += w(b); b += 1 }
    }
    (w, wsum)
  }

  /** Training is deterministic per corpus (spec-pinned), and the
    * learned vector is 2×34 longs of metadata — so a session trains
    * each corpus directory ONCE and the classifier reuses the result
    * (a user's workflow: one training job, then scan-speed gating;
    * without the memo a board run pays the 16 rounds twice). */
  // Deliberately keyed by DIRECTORY ONLY — exempt from the
  // (SparkSession, dir) session-key rule the DataFrame memos follow
  // (r13 advice / Caches.SessionMemo): the held value is plain driver
  // Array[Long]s, not session-bound checkpointed plans, so it stays
  // valid (and cheap) across sessions in one JVM.
  private val weightMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Array[Long], Array[Long])]

  private[graft] def trainQualityWeights(s: SparkSession, d: String): (Array[Long], Array[Long]) =
    weightMemo.getOrElseUpdate(d, trainQualityWeightsOf(documents(s, d)))

  /** Board query: the learned weight table — final weights and the
    * averaged-perceptron vote sums per bucket, both integer-exact and
    * replayed by the oracle's unrolled training CTEs. */
  def qualityTrain(s: SparkSession, d: String): DataFrame = {
    val (w, wsum) = trainQualityWeights(s, d)
    import s.implicits._
    (0 until QualityBuckets).map(b => (b.toLong, w(b), wsum(b)))
      .toDF("bucket", "w", "w_sum")
  }

  /** Model-based quality gate — the fastText/classifier filter shape
    * (CCNet, DCLM, FineWeb-Edu), now scoring with the TRAINED
    * averaged-perceptron weights (r12; the weight table was a
    * documented md5 stand-in through r11 — see [[standinMargin]]).
    * Training runs first (bounded passes over the cached feature
    * table, memoized per corpus); the 34 learned longs then ride into
    * a codegen'd fold over the token array — the 32 tf weights per
    * token, bias and length in the fold's init (functions.aggregate:
    * no explode, no join, no shuffle; the score never leaves the
    * scan), which is what makes classifier-gating 100 TB a map-only
    * pass after one training job. */
  /** Score an arbitrary (doc_id, text) relation with trained
    * averaged-perceptron vote weights — the reusable scan-side fold
    * (see [[qualityClassifier]] for the contract; corpus_build gates
    * its survivor slice through the same spelling). */
  private[graft] def classifierScored(docs: DataFrame, wsum: Array[Long],
      carry: Seq[String] = Nil): DataFrame = {
    val warr = typedlit(wsum.toIndexedSeq)
    // margin = Σ_tokens w[bucket(t)]·q  +  w[32]·10  +  w[33]·ℓ, with
    // q = 1000 div n_tok the per-token tf quantum (the reason the
    // feature was defined distributable) and ℓ the capped length
    val margin = aggregate(toks,
      lit(wsum(32) * 10L) +
        lit(wsum(33)) * least(size(toks).cast("long"), lit(50L)) * 20L,
      (acc, t) => acc + element_at(warr, (bucketOf(t) + 1).cast("int")) * col("q"))
    // materialize the fold ONCE (r13): the aggregate HOF is
    // interpreted, and projecting `margin` and `margin > 0` from the
    // same expression evaluated the whole token fold twice per row
    docs
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("q", expr("1000 div n_tok"))
      .withColumn("_margin", margin)
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        col("n_tok").as("n_tokens"),
        col("_margin").as("margin"),
        (col("_margin") > 0).cast("int").as("accept")): _*)
  }

  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    classifierScored(documents(s, d), trainQualityWeights(s, d)._2)

  /** Temperature-scaled source sampling weights (the T5/PaLM
    * multilingual mixing knob at α = 1/2): a source's sampling share is
    * proportional to n_tokens^α, which boosts small sources relative to
    * proportional sampling without letting the head dominate. α = 1/2
    * is the one temperature that is cross-engine EXACT — x^0.5 is IEEE
    * sqrt (correctly rounded in both engines), where a pow()-based
    * temperature would hit the no-ln libm rule. The share denominator
    * Σ√nₛ is a float sum over the BOUNDED source domain, forced into
    * the identical sequential order both engines via the running-window
    * trick (the stats_anova technique); √ is monotone, so max(run) IS
    * the final prefix. Output carries the exact proportional ppm next
    * to the temperature share — the before/after a mixture review
    * compares. Scale shape: one corpus aggregation to the source key;
    * everything after runs on the bounded source table. */
  def mixtureTemperature(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(toks).cast("long")).as("n_tokens"))
    val wRun = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sq = per
      .withColumn("sq", sqrt(col("n_tokens").cast("double")))
      .withColumn("run", sum(col("sq")).over(wRun))
    val tot = sq.agg(max(col("run")).as("sq_tot"),
      sum(col("n_tokens")).as("tot_n"))
    sq.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("CAST(n_tokens AS DECIMAL(28,0)) * 1000000 div tot_n")
          .as("prop_ppm"),
        (col("sq") / col("sq_tot")).as("temp_share"))
  }


  /** The whole averaged-perceptron training replayed in SQL: hashed
    * features + integer labels, then `QualityRounds` unrolled
    * (margin → misclassified-delta → weight) CTE rounds — the same
    * integer sums the engine computes, so the learned weights
    * hash-match exactly. `wavg` exposes (bucket, w = final,
    * w_sum = Σ_r w_r, the averaged-perceptron vote). */
  private[analytics] def qualityTrainCtes: String = {
    val rounds = (1 to QualityRounds).map { r =>
      s"""m$r AS MATERIALIZED (
          SELECT fx.doc_id, any_value(fx.y) AS y,
            sum(fx.x * w${r - 1}.w) AS margin
          FROM fx JOIN w${r - 1} ON fx.bucket = w${r - 1}.bucket
          GROUP BY fx.doc_id),
        c$r AS (
          SELECT coalesce(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END), 0) AS np,
            coalesce(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END), 0) AS nn
          FROM m$r WHERE y * margin <= 0),
        d$r AS (
          SELECT fx.bucket,
            CAST((sum(CASE WHEN fx.y = 1 THEN fx.x ELSE 0 END) * 1000)
                // greatest(1, max(c.np))
              - (sum(CASE WHEN fx.y = -1 THEN fx.x ELSE 0 END) * 1000)
                // greatest(1, max(c.nn)) AS BIGINT) AS delta
          FROM fx JOIN m$r ON fx.doc_id = m$r.doc_id
            AND m$r.y * m$r.margin <= 0
          CROSS JOIN c$r c
          GROUP BY fx.bucket),
        w$r AS MATERIALIZED (
          SELECT w${r - 1}.bucket,
            CAST(w${r - 1}.w + coalesce(d$r.delta, 0) AS BIGINT) AS w
          FROM w${r - 1} LEFT JOIN d$r ON d$r.bucket = w${r - 1}.bucket)"""
    }.mkString(",\n        ")
    val wavgSum = (1 to QualityRounds).map(r => s"w$r.w").mkString(" + ")
    val wavgJoin = (2 to QualityRounds)
      .map(r => s"JOIN w$r ON w$r.bucket = w1.bucket").mkString(" ")
    s"""feats AS MATERIALIZED (
        SELECT doc_id, bucket, CAST(cnt * (1000 // nt) AS BIGINT) AS x
        FROM (
          SELECT doc_id,
            ('0x' || substr(md5(tok), 1, 6))::BIGINT % 32 AS bucket,
            count(*) AS cnt, any_value(nt) AS nt
          FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
                  unnest(string_split(text, ' ')) AS tok
                FROM documents)
          GROUP BY 1, 2)
        UNION ALL
        SELECT doc_id, 32, 10 FROM documents
        UNION ALL
        SELECT doc_id, 33,
          least(len(string_split(text, ' ')), 50) * 20 FROM documents),
      lab AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN n_tok BETWEEN 20 AND 400 AND 10 * n_stop < 3 * n_tok
            THEN 1 ELSE -1 END AS y
        FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
                len(list_filter(string_split(text, ' '),
                  t -> t = 'a' OR t = 'the')) AS n_stop
              FROM documents)),
      fx AS MATERIALIZED (
        SELECT f.doc_id, f.bucket, f.x, l.y
        FROM feats f JOIN lab l USING (doc_id)),
      w0 AS MATERIALIZED (
        SELECT unnest(generate_series(0, ${QualityBuckets - 1})) AS bucket,
          CAST(0 AS BIGINT) AS w),
      $rounds,
      wavg AS (
        SELECT w1.bucket, w$QualityRounds.w AS w,
          CAST($wavgSum AS BIGINT) AS w_sum
        FROM w1 $wavgJoin)"""
  }

  /** The PII inject + detect + redact CTE pair (the SQL twin of
    * [[piiScrubFull]]) over an arbitrary (doc_id, text) relation —
    * exposes `scrub(doc_id, t, n_emails, n_phones, st)` where `st` is
    * the scrubbed text. One spelling for the board pii_scrub entry and
    * corpus_build's final redaction stage. */
  private[analytics] def piiCtesFrom(rel: String, prefix: String = ""): String =
    raw"""${prefix}inj AS (
          SELECT doc_id,
            text ||
            CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
            CASE WHEN doc_id % 6 = 0
              THEN ' or u' || CAST(doc_id AS VARCHAR) || 'b@alt.org'
              ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS t
          FROM $rel),
        ${prefix}scrub AS (
          SELECT doc_id, t,
            CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+'))
              AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(t, '555-[0-9]{4}'))
              AS BIGINT) AS n_phones,
            regexp_replace(regexp_replace(t,
              '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
              '555-[0-9]{4}', '<PHONE>', 'g') AS st
          FROM ${prefix}inj)"""

  /** The averaged-perceptron SCORING chain over an arbitrary
    * (doc_id, text) relation — expects `wavg` (the trained vote
    * weights) in CTE scope; the board quality_classifier entry is
    * classifierScoreSqlFrom("documents") and corpus_build feeds its
    * repaired survivor slice through the same spelling. Emitted as a
    * comma-led CTE continuation + final SELECT. */
  private[analytics] def classifierScoreSqlFrom(rel: String): String =
    s""",
        tokb AS (
          SELECT doc_id, 1000 // nt AS q,
            ('0x' || substr(md5(tok), 1, 6))::BIGINT % 32 AS bucket
          FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
                  unnest(string_split(text, ' ')) AS tok
                FROM $rel)),
        tm AS (
          SELECT t.doc_id, sum(v.w_sum * t.q) AS m
          FROM tokb t JOIN wavg v USING (bucket)
          GROUP BY t.doc_id),
        sc AS (
          SELECT d.doc_id,
            CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
            CAST((SELECT w_sum FROM wavg WHERE bucket = 32) * 10
              + (SELECT w_sum FROM wavg WHERE bucket = 33)
                * least(len(string_split(d.text, ' ')), 50) * 20
              + coalesce(tm.m, 0) AS BIGINT) AS margin
          FROM $rel d LEFT JOIN tm ON tm.doc_id = d.doc_id)
        SELECT doc_id, n_tokens, margin,
          CAST(margin > 0 AS INT) AS accept
        FROM sc"""

  val registry: Map[String, QueryDef] = Map(
    // ppm rates via HUGEINT multiply + // (== Spark DECIMAL(28,0) div);
    // sums over per-token small ints, projected as BIGINT
    "dsir_select" -> QueryDef(dsirSelect(_, _),
      """WITH tb AS (
          SELECT doc_id, lang, substr(md5(t), 1, 2) AS b FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
            FROM documents)),
        stats AS (
          SELECT b, count(*) AS n_raw,
            sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
          FROM tb GROUP BY b),
        tot AS (
          SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt FROM stats),
        rates AS (
          SELECT b,
            (CAST(n_tgt AS HUGEINT) * 1000000) // tot_tgt AS tgt_ppm,
            (CAST(n_raw AS HUGEINT) * 1000000) // tot_raw AS raw_ppm
          FROM stats CROSS JOIN tot)
        SELECT doc_id,
          CAST(sum(tgt_ppm - raw_ppm) AS BIGINT) AS score,
          count(*) AS n_tokens
        FROM tb JOIN rates USING (b)
        GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 100"""),
    // α=1/2 temperature via IEEE sqrt; denominator forced sequential
    // with the running-window trick; proportional ppm in the exact lane
    "mixture_temperature" -> QueryDef(mixtureTemperature _,
      """WITH per AS (
          SELECT source,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        sq AS (
          SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS sq,
            sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM per),
        tot AS (
          SELECT max(run) AS sq_tot, sum(n_tokens) AS tot_n FROM sq)
        SELECT source, n_tokens,
          CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tot_n AS BIGINT)
            AS prop_ppm,
          sq / sq_tot AS temp_share
        FROM sq CROSS JOIN tot"""),
    // the TRAINED classifier (r12): replay the full training CTE
    // chain, then score every document with the averaged-perceptron
    // vote weights (bias = bucket 32) — all integer sums
    "quality_classifier" -> QueryDef(qualityClassifier _,
      s"""WITH $qualityTrainCtes
        ${classifierScoreSqlFrom("documents")}"""),
    // the learned weight table itself: final + averaged-vote weights
    "quality_train" -> QueryDef(qualityTrain _,
      s"""WITH $qualityTrainCtes
        SELECT bucket, w, w_sum FROM wavg"""),
    // identical md5 rank order and broadcast min-class scalar
    "sample_balanced" -> QueryDef(sampleBalanced _,
      """WITH lab AS (
          SELECT vec_id, label, md5(CAST(vec_id AS VARCHAR)) AS h
          FROM embeddings),
        mn AS (
          SELECT min(n_l) AS min_n FROM (
            SELECT label, count(*) AS n_l FROM lab GROUP BY label)),
        rk AS (
          SELECT vec_id, label,
            row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rk
          FROM lab)
        SELECT vec_id, label, CAST(rk AS BIGINT) AS rk
        FROM rk, mn WHERE rk <= min_n"""),
    // same nine conditional cumulative sums + broadcast global + exact
    // integer EMD numerator and gate (see privacyTcloseness scaladoc)
    "privacy_tcloseness" -> QueryDef(privacyTcloseness _, {
      val gc = (0 to 8).map(i =>
        s"sum(CASE WHEN sens <= $i THEN 1 ELSE 0 END) AS c$i").mkString(", ")
      val gg = (0 to 8).map(i =>
        s"sum(CASE WHEN sens <= $i THEN 1 ELSE 0 END) AS g$i").mkString(", ")
      val num = (0 to 8).map(i => s"abs(c$i * nn - g$i * n)").mkString(" + ")
      s"""WITH base AS (
          SELECT event_type, hour(ts) AS hh,
            CAST(floor(value) AS BIGINT) // 50 AS vb,
            user_id % 10 AS sens
          FROM events),
        grp AS (
          SELECT event_type, hh, vb, count(*) AS n, $gc
          FROM base GROUP BY 1, 2, 3),
        gdist AS (SELECT count(*) AS nn, $gg FROM base),
        terms AS (
          SELECT event_type, n, nn, $num AS emd_num
          FROM grp CROSS JOIN gdist)
        SELECT event_type, count(*) AS n_groups,
          max(CAST(emd_num AS DOUBLE) / CAST(n * nn * 9 AS DOUBLE)) AS max_t,
          CAST(sum(CASE WHEN emd_num * 5 > n * nn * 9 THEN 1 ELSE 0 END)
            AS BIGINT) AS weak_groups,
          CAST(sum(CASE WHEN emd_num * 5 > n * nn * 9 THEN n ELSE 0 END)
            AS BIGINT) AS weak_rows
        FROM terms GROUP BY event_type"""
    }),
    "curation_report" -> QueryDef(curationReport _,
      """WITH base AS (
          SELECT source, lang, n_chars, md5(text) AS fp FROM documents),
        stats AS (
          SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
            CAST(1 AS DOUBLE) - CAST(count(DISTINCT fp) AS DOUBLE) / count(*)
              AS dup_rate,
            CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
          FROM base GROUP BY source),
        top AS (
          SELECT source, lang AS top_lang FROM (
            SELECT source, lang, row_number() OVER (PARTITION BY source
              ORDER BY count(*) DESC, lang) AS rn
            FROM base GROUP BY source, lang) WHERE rn = 1)
        SELECT s.source, s.n_docs, s.n_unique, s.dup_rate, s.mean_chars,
          t.top_lang
        FROM stats s JOIN top t USING (source)"""),
    // same four gates: quality predicate inline, language CTE nested
    // (standard SQL allows WITH inside a derived table), exact-canonical
    // group-min, and the recursive-CTE connected components from
    // Dedup.registry("dedup_clusters").oracle
    "training_select" -> QueryDef(trainingSelect _,
      s"""${Dedup.shCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, ${Dedup.minhashCtes},
        ${Dedup.clusterCtes},
        losers AS (
          SELECT doc_id FROM clusters WHERE cluster_id <> doc_id),
        en AS (
          SELECT doc_id FROM (${TextAnalysis.registry("lang_id").oracle})
          WHERE pred_lang = 'en'),
        canon AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) BETWEEN 20 AND 400
          AND CAST(len(list_filter(string_split(text, ' '),
                t -> t = 'a' OR t = 'the')) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.3
          AND doc_id IN (SELECT doc_id FROM en)
          AND doc_id IN (SELECT doc_id FROM canon)
          AND doc_id NOT IN (SELECT doc_id FROM losers)"""),
    // same injection, RE2 spelling; DuckDB regexp_replace needs the 'g'
    // option to match Spark's replace-all default
    "pii_scrub" -> QueryDef(piiScrub _,
      s"""WITH ${piiCtesFrom("documents")}
        SELECT doc_id, n_emails, n_phones,
          md5(st) AS scrub_fp,
          CAST(len(st) AS BIGINT) AS scrub_len
        FROM scrub"""),
    // same QID grouping as kanon + a count(DISTINCT cohort) per group
    "privacy_ldiversity" -> QueryDef(privacyLdiversity _,
      """WITH groups AS (
          SELECT event_type, hour(ts) AS hh,
            CAST(floor(value) AS BIGINT) // 50 AS vb,
            count(DISTINCT user_id % 10) AS l, count(*) AS n
          FROM events GROUP BY 1, 2, 3)
        SELECT event_type, count(*) AS n_groups,
          CAST(min(l) AS BIGINT) AS min_l,
          CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS weak_groups,
          CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
            AS weak_rows
        FROM groups GROUP BY 1"""),
    // parallel composition over the disjoint (type × hour) bins: the
    // same threshold table per bin, zero-clamped post-processing
    "privacy_dp_histogram" -> QueryDef(privacyDpHistogram _,
      """WITH c AS (
          SELECT event_type, CAST(hour(ts) AS INT) AS hh,
            CAST(count(*) AS BIGINT) AS n_true,
            CAST(('0x' || substr(md5('dph-' || event_type || '-'
              || hour(ts)), 1, 12)) AS BIGINT) AS u
          FROM events GROUP BY 1, 2, hour(ts)),
        n AS (
          SELECT event_type, hh, n_true,
            CAST(len(list_filter([424133, 1152913, 3133944, 8518944,
              23156891, 62946957, 171107569, 465118597, 1264323431,
              3436787409, 9342156763, 25394614967, 69029720408,
              187642234609, 510064476589, 1386498998055, 3768895031591,
              10244918877744, 27848576819410, 75700280316650,
              205774696394005, 253626399891245, 271230057832911,
              277706081679064, 280088477712600, 280964912234066,
              281287334476046, 281405946990247, 281449582095688,
              281465634553892, 281471539923246, 281473712387224,
              281474511592058, 281474805603086, 281474913763698,
              281474953553764, 281474968191711, 281474973576711,
              281474975557742, 281474976286522, 281474976710656],
              t -> t <= u)) - 20 AS BIGINT) AS noise
          FROM c)
        SELECT event_type, hh, n_true, noise,
          greatest(n_true + noise, 0) AS n_noised
        FROM n"""),
    // same md5-derived 48-bit uniform and the SAME literal
    // discrete-Laplace threshold table (ε = 1) — the noise draw is
    // table lookup arithmetic on both engines
    "privacy_dp_counts" -> QueryDef(privacyDpCounts _,
      """WITH c AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_true,
            CAST(('0x' || substr(md5('dp-' || event_type), 1, 12))
              AS BIGINT) AS u
          FROM events GROUP BY 1),
        n AS (
          SELECT event_type, n_true,
            CAST(len(list_filter([424133, 1152913, 3133944, 8518944,
              23156891, 62946957, 171107569, 465118597, 1264323431,
              3436787409, 9342156763, 25394614967, 69029720408,
              187642234609, 510064476589, 1386498998055, 3768895031591,
              10244918877744, 27848576819410, 75700280316650,
              205774696394005, 253626399891245, 271230057832911,
              277706081679064, 280088477712600, 280964912234066,
              281287334476046, 281405946990247, 281449582095688,
              281465634553892, 281471539923246, 281473712387224,
              281474511592058, 281474805603086, 281474913763698,
              281474953553764, 281474968191711, 281474973576711,
              281474975557742, 281474976286522, 281474976710656],
              t -> t <= u)) - 20 AS BIGINT) AS noise
          FROM c)
        SELECT event_type, n_true, noise, n_true + noise AS n_noised
        FROM n"""),
    // the release projection: noised counts ONLY (no n_true/noise)
    "privacy_dp_release" -> QueryDef(privacyDpRelease _,
      """WITH c AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_true,
            CAST(('0x' || substr(md5('dp-' || event_type), 1, 12))
              AS BIGINT) AS u
          FROM events GROUP BY 1)
        SELECT event_type,
          n_true + CAST(len(list_filter([424133, 1152913, 3133944,
            8518944, 23156891, 62946957, 171107569, 465118597,
            1264323431, 3436787409, 9342156763, 25394614967,
            69029720408, 187642234609, 510064476589, 1386498998055,
            3768895031591, 10244918877744, 27848576819410,
            75700280316650, 205774696394005, 253626399891245,
            271230057832911, 277706081679064, 280088477712600,
            280964912234066, 281287334476046, 281405946990247,
            281449582095688, 281465634553892, 281471539923246,
            281473712387224, 281474511592058, 281474805603086,
            281474913763698, 281474953553764, 281474968191711,
            281474973576711, 281474975557742, 281474976286522,
            281474976710656], t -> t <= u)) - 20 AS BIGINT) AS n_noised
        FROM c"""),
    "privacy_kanon" -> QueryDef(privacyKanon _,
      """WITH groups AS (
          SELECT event_type, hour(ts) AS hh,
            CAST(floor(value) AS BIGINT) // 50 AS vb, count(*) AS n
          FROM events GROUP BY 1, 2, 3)
        SELECT event_type, count(*) AS n_groups,
          CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS suppressed_groups,
          CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
            AS suppressed_rows,
          CAST(sum(CASE WHEN n >= 5 THEN n ELSE 0 END) AS BIGINT)
            AS kept_rows
        FROM groups GROUP BY 1"""),
    "dataset_split" -> QueryDef(datasetSplit _,
      """SELECT
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
            THEN 'train'
          WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'val' ELSE 'test' END AS split,
          count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
          CAST(count(DISTINCT lang) AS INT) AS n_langs
        FROM documents GROUP BY 1"""),
    // the production MinHash candidate pairs (dedup_minhash's exact
    // CTE chain) x the same md5 split rule, rolled per unordered pair
    "split_leakage" -> QueryDef(splitLeakage _,
      s"""${Dedup.shCte}, ${Dedup.minhashCtes},
        mp AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
        spl AS (
          SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS sp
          FROM documents)
        SELECT least(x.sp, y.sp) AS split_x, greatest(x.sp, y.sp) AS split_y,
          count(*) AS n_pairs,
          CAST(least(x.sp, y.sp) <> greatest(x.sp, y.sp) AS INT) AS is_leak
        FROM mp JOIN spl x ON x.doc_id = mp.doc_a
        JOIN spl y ON y.doc_id = mp.doc_b
        GROUP BY 1, 2, 4"""),
  )
}
