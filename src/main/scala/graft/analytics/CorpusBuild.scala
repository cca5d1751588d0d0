package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed end-to-end corpus build — the query a real LLM-data
  * user actually runs, chaining the FULL gate stack this engine owns
  * into ONE pipeline with an exactly-reconciling drop ledger (the
  * reference's own lineage invariant — valid + rejected = input,
  * `Glue_job.py:131-135` — elevated to the training-data pipeline:
  * every input document is either a survivor or attributed to exactly
  * one drop stage).
  *
  * Stage order is the CCNet/RefinedWeb shape (Wenzek et al. 2020;
  * Penedo et al. 2023), cheap scan gates first, set-dependent dedup in
  * the middle, model/eval gates last:
  *
  *   1. eval_holdout    — the held-out benchmark slice (doc_id <
  *                        [[EvalMax]]) never enters the training pool
  *   2. unicode         — ftfy repair (mojibake + NFC fold), then the
  *                        U+FFFD byte-damage gate (text_unicode_fix)
  *   3. exact           — keep each repaired-text fingerprint's min
  *                        doc_id (dedup_exact's rule, on FIXED text —
  *                        the fold's point: composed/decomposed
  *                        spellings of one document share a key)
  *   4. neardup         — MinHash-LSH clusters, keep-BEST member
  *                        (most tokens, ties min id — dedup_keep_best)
  *   5. paragraph       — drop documents that are ≥ half
  *                        already-seen paragraphs (dedup_paragraphs'
  *                        keep-first rule as a boilerplate-share gate)
  *   6. gopher          — the named Gopher rule bundle (Rae et al.
  *                        2021; quality_gopher's declarative suite)
  *   7. license         — (r14) drop pages declaring a restrictive
  *                        license — any [[License.rules]] match of
  *                        rank ≥ [[License.RestrictiveRank]] (cc-by-nc,
  *                        GPL, all-rights-reserved); markers are a
  *                        VIRTUAL ck-keyed decoration of the raw page
  *                        (see [[licDecor]]) so the calibrated
  *                        unicode/gopher/classifier plant text is
  *                        untouched and duplicate families always
  *                        carry identical grants
  *   8. classifier      — the TRAINED averaged-perceptron quality
  *                        model (quality_train/quality_classifier)
  *   9. contamination   — drop documents sharing any 5-gram shingle
  *                        with the eval slice (the GPT-3 appendix-C
  *                        n-gram screen; `contamination`'s plan)
  *  10. semantic        — (r14) drop documents whose EMBEDDING sits at
  *                        cosine ≥ τ to any eval item — the paraphrase
  *                        leak the n-gram screen provably misses
  *                        (contamination_semantic's screen; doc and
  *                        vector ids coincide by data-model contract,
  *                        and [[vecsOf]] plants scaled eval-base
  *                        vectors on a doc_id rotation so the stage
  *                        provably fires)
  *
  * then the surviving corpus is PII-scrubbed (pii_scrub), priced, and
  * packed into fixed token budgets per source (pack_sequences), with
  * per-source temperature mixture shares (mixture_temperature) — the
  * declared queries:
  *
  *   - `corpus_build`      — the 10-row ledger (stage, n_in, n_dropped,
  *                           n_out); n_out(k) ≡ n_in(k+1) and
  *                           input = survivors + Σ drops BY
  *                           CONSTRUCTION, and the DuckDB oracle
  *                           re-derives every count from scratch
  *   - `corpus_build_docs` — the released documents: redaction counts,
  *                           scrubbed-text fingerprint, token price,
  *                           pack assignment
  *   - `corpus_build_mix`  — the per-source mixture table over the
  *                           CLEANED corpus (α=1/2 temperature)
  *   - `corpus_datasheet`  — (r14) the one-artifact release notes
  *                           (Gebru et al. 2021, Datasheets for
  *                           Datasets): per source, the mixture
  *                           volumes and shares NEXT TO the license
  *                           mix and the trained-classifier quality
  *                           stats of what actually shipped
  *   - `corpus_manifest`   — (r14) the two-level content-address
  *                           integrity tree over the release
  *   - `curriculum_order`  — (r14) the pack-level training schedule
  *                           by word-MDL difficulty
  *
  * Plants (the calibration content that makes every gate provably
  * fire, the url_canon/pii_scrub discipline): re-crawl duplicates
  * (doc_id % 50 = 3 re-enters under doc_id + [[CopyBase]] — same
  * text, new id, the page crawled twice), and the unicode/boilerplate
  * decorations keyed on a CONTENT hash ([[contentKey]]) rather than
  * doc_id, so identical texts decorate identically and plants can
  * never split a duplicate family (a re-crawled EVAL page survives
  * dedup — its twin is held out — and is caught by stage 9, exactly
  * the leak decontamination exists for).
  *
  * Scale shape (the reason each stage is spelled the way it is):
  * stages 1–2 are scan-side predicates; stage 3 shuffles a 32-byte
  * fingerprint + id; stage 4 is the banded MinHash candidate join
  * (ids only); stage 5 shuffles paragraph hashes + bounded index
  * lists; stages 6–8 are scan-side predicate stacks / folds (the
  * license rules compile to contains/regex, the classifier's 34
  * learned longs ride in as literals); stage 9 broadcast-joins the
  * small-by-construction eval shingle set; stage 10 broadcasts the
  * bounded eval VECTORS and streams only the survivors' embeddings
  * against them. Stage membership flows as ID-ONLY cached sets
  * semi-joined back to the one cached repaired corpus — document text
  * never shuffles in any stage, which is what makes the composed
  * pipeline the same 100 TB contract as its parts.
  */
object CorpusBuild {

  /** Documents below this id are the held-out eval slice. Embeddings
    * share the id space (vec_id = doc_id — the data-model contract the
    * semantic stage rides), so vec_id < EvalMax is the eval slice's
    * vector view. */
  private[graft] val EvalMax = 25L

  /** Planted re-crawl copies re-enter under doc_id + CopyBase. */
  private[graft] val CopyBase = 100000L

  private val PackBudget = 512

  /** Semantic-leak plant rotation: train docs with
    * doc_id % SemPlantMod = SemPlantRes carry an embedding that is a
    * per-coordinate scaled copy of eval item (doc_id % EvalMax) — the
    * PARAPHRASED benchmark page (cos ≈ 0.994 to its eval twin, no
    * shared 5-gram), constructed with dedup_embedding's binary-exact
    * plant arithmetic so the oracle replays it bit-for-bit. */
  private[graft] val SemPlantMod = 7L
  private[graft] val SemPlantRes = 2L

  private def toksF = split(col("ftext"), " ")

  /** 24-bit content key — the decoration-class selector. Content-keyed
    * (not doc_id-keyed) so exact duplicates decorate identically. */
  private def contentKey(text: Column): Column =
    conv(substring(md5(text), 1, 6), 16, 10).cast("long")

  private[analytics] val ckSql = "('0x' || substr(md5(text), 1, 6))::BIGINT"

  /** License-marker plant, keyed on the CONTENT hash like every other
    * corpus_build decoration (identical texts declare identical
    * grants, so a license verdict can never split a duplicate family)
    * and applied VIRTUALLY inside the gate predicate — the repaired
    * training text `ftext` never carries the markers, so the
    * unicode/gopher/classifier plant calibration is untouched. Traps
    * mirror the board `text_license` plant: a bare-word decoy
    * (ck % 13) that must match NO rule, and a dual-grant arm (ck % 19)
    * whose permissive second grant must not mask a restrictive
    * primary. */
  private[graft] def licDecor(raw: Column, ck: Column): Column =
    concat(raw,
      when(ck % 17 === 1, lit(" released under the mit license")).otherwise(""),
      when(ck % 17 === 2, lit(" licensed under creative commons attribution" +
        " see https://creativecommons.org/licenses/by/4.0/")).otherwise(""),
      when(ck % 17 === 3, lit(" this work is distributed under the" +
        " gnu general public license")).otherwise(""),
      when(ck % 17 === 4, lit(" all rights reserved unauthorized" +
        " reproduction prohibited")).otherwise(""),
      when(ck % 17 === 5, lit(" spdx-license-identifier: apache-2.0")).otherwise(""),
      when(ck % 17 === 6, lit(" source https://creativecommons.org/licenses/by-nc/4.0/" +
        " archive")).otherwise(""),
      when(ck % 13 === 0, lit(" the word license appears here without" +
        " any grant")).otherwise(""),
      when(ck % 19 === 0, lit(" mirror copy also released under the" +
        " mit license")).otherwise(""))

  /** SQL twin of [[licDecor]] over columns `raw`/`ck`. */
  private[analytics] val licDecSql: String =
    """raw
      || CASE WHEN ck % 17 = 1 THEN ' released under the mit license' ELSE '' END
      || CASE WHEN ck % 17 = 2 THEN ' licensed under creative commons attribution see https://creativecommons.org/licenses/by/4.0/' ELSE '' END
      || CASE WHEN ck % 17 = 3 THEN ' this work is distributed under the gnu general public license' ELSE '' END
      || CASE WHEN ck % 17 = 4 THEN ' all rights reserved unauthorized reproduction prohibited' ELSE '' END
      || CASE WHEN ck % 17 = 5 THEN ' spdx-license-identifier: apache-2.0' ELSE '' END
      || CASE WHEN ck % 17 = 6 THEN ' source https://creativecommons.org/licenses/by-nc/4.0/ archive' ELSE '' END
      || CASE WHEN ck % 13 = 0 THEN ' the word license appears here without any grant' ELSE '' END
      || CASE WHEN ck % 19 = 0 THEN ' mirror copy also released under the mit license' ELSE '' END"""

  /** The corpus's embedding view with the semantic-leak plant applied:
    * (vec_id, v, nrm), where planted train rows (see [[SemPlantMod]])
    * carry eval base (vec_id % EvalMax) scaled per-coordinate by
    * 1 + 0.125·s, s = (vec_id·31 + k·7) % 3 − 1 ∈ {−1,0,1} — the
    * dedup_embedding plant shape: every factor ∈ {0.875, 1, 1.125} is
    * binary-exact, one IEEE multiply per coordinate on both engines.
    * The eval bases are a bounded broadcast; the plant is a map pass. */
  private[graft] def vecsOf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val bases = e.filter(col("vec_id") < EvalMax)
      .select(col("vec_id").as("bid"), col("v").as("bv"))
    val isPlant = col("vec_id") >= EvalMax && col("vec_id") % SemPlantMod === SemPlantRes
    e.join(broadcast(bases),
        when(isPlant, col("vec_id") % EvalMax).otherwise(lit(-1L)) === col("bid"),
        "left")
      .select(col("vec_id"),
        when(col("bid").isNotNull,
          transform(col("bv"), (x, k) =>
            x * (lit(1.0) + lit(Dedup.EmbPlantEps) *
              ((col("vec_id") * 31 + k * 7) % 3 - 1).cast("double"))))
          .otherwise(col("v")).as("v"))
      .withColumn("nrm", graft.functions.vec.l2norm(col("v")))
  }

  /** Content-keyed decoration + repair over an arbitrary planted
    * (doc_id, source, lang, text) frame →
    * (doc_id, source, lang, raw, ck, ftext). One definition shared by
    * the v2 pipeline and [[IncrementalBuild]]'s snapshot-delta corpus,
    * so both builds see byte-identical repaired text for the same
    * planted page. */
  private[analytics] def decorate(planted: DataFrame): DataFrame =
    decorateAt(planted,
      planted.sparkSession.sparkContext.defaultParallelism)

  /** [[decorate]] with an explicit fan-out — the streamed ingest sizes
    * its micro-batch repartition to the batch row count (r17,
    * [[Sizing.batchDocPartitions]]); the corpus-wide paths keep the
    * defaultParallelism spelling. */
  private[analytics] def decorateAt(planted: DataFrame, parts: Int): DataFrame = {
    val ck = contentKey(col("text"))
    planted
      .repartition(parts)
      .select(col("doc_id"), col("source"), col("lang"),
        col("text").as("raw"), ck.as("ck"),
        TextAnalysis.unicodeFoldCol(
          TextAnalysis.unicodeDecoratedOf(col("text"), ck)).as("ftext"))
  }

  /** The U+FFFD byte-damage keep predicate over `ftext` (stage 2) —
    * shared with the incremental build's unicode stage. */
  private[analytics] def unicodeKeepCol: Column = {
    val nBad = length(col("ftext")) -
      length(regexp_replace(col("ftext"), TextAnalysis.Replacement, ""))
    nBad * 1000 <= length(col("ftext"))
  }

  /** The supplied-vector semantic screen's GLOBAL verdict set (the
    * [[vecsOf]] plant rotation vs the broadcast eval slice) — the
    * per-doc rule is population-independent, so one spelling serves
    * stage 10's anti-join, IncrementalBuild's three stack replays and
    * DocEmbed's recall receipt. */
  private[analytics] def semDropOf(s: SparkSession, d: String): DataFrame = {
    val vecs = vecsOf(s, d)
    val evv = vecs.filter(col("vec_id") < EvalMax)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"),
        col("nrm").as("en"))
    vecs.filter(col("vec_id") >= EvalMax)
      .crossJoin(broadcast(evv))
      .filter(graft.functions.vec.dot(col("v"), col("ev")) /
        (col("nrm") * col("en")) >= Dedup.EmbProdThreshold)
      .select(col("vec_id").as("doc_id")).distinct()
  }

  /** The v2 plant set (pre-decoration): naturals + the re-crawl arm.
    * Exposed so the computed-gate variant ([[ReleaseComputed]]) plants
    * ON TOP of the same corpus instead of forking it. */
  private[analytics] def v2Planted(docs: DataFrame): DataFrame = {
    val cols = Seq("doc_id", "source", "lang", "text").map(col)
    docs.select(cols: _*).unionByName(
      docs.filter(col("doc_id") % 50 === 3)
        .select((col("doc_id") + CopyBase).as("doc_id"),
          col("source"), col("lang"), col("text")))
  }

  /** The planted + decorated + repaired corpus:
    * (doc_id, source, lang, raw, ck, ftext). */
  private[graft] def baseOf(docs: DataFrame): DataFrame =
    decorate(v2Planted(docs))

  /** One run of the pipeline: the cached base, the per-stage survivor
    * id-sets (index 0 = all input ids), and the stage names.
    *
    * Every id-set is localCheckpoint'd EAGERLY (the dedup_clusters /
    * graph-loop precedent, here for a different reason): the ledger
    * declares 16 aggregates over these sets and each downstream stage
    * embeds its predecessors, so without severing, Catalyst re-compiles
    * the WHOLE accumulated plan (cluster loop + Gopher/classifier
    * expression trees) once per aggregate — measured 20+ s of pure
    * driver-side plan compilation at sf0.1 against ~3 s of actual
    * executor work. The sets are id-only (bounded width), so the
    * checkpoint is the cheap side of that trade at any scale. */
  private[graft] def build(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    buildMemo.getOrElseUpdate((s, d), buildOnce(s, d))

  /** The pipeline materializes ONCE per (session, corpus directory) and
    * the report queries (ledger / released docs / mixture / datasheet)
    * read the same materialized stage sets — a user's workflow: one
    * pipeline job, then cheap reporting (the trainQualityWeights memo
    * precedent). The held state is the id-only checkpointed sets —
    * bounded width, one long per surviving document. Keyed by the
    * OWNING SparkSession too (r13 advice): checkpointed DataFrames are
    * bound to the session that materialized them, so a later session
    * in the same JVM must rebuild rather than receive dead plans. */
  private val buildMemo =
    new Caches.SessionMemo[(DataFrame, Seq[DataFrame])]

  /** The v2 stage-10 screen (supplied vectors): survivors' planted
    * embeddings stream once against the broadcast eval slice. */
  private def v2SemOf(s: SparkSession, d: String)(
      base: DataFrame, ids9: DataFrame): DataFrame = {
    val vecs = vecsOf(s, d)
    val evv = vecs.filter(col("vec_id") < EvalMax)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
    val trv = vecs.filter(col("vec_id") >= EvalMax)
      .join(ids9.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    trv.crossJoin(broadcast(evv))
      .filter(graft.functions.vec.dot(col("v"), col("ev")) /
        (col("nrm") * col("en")) >= Dedup.EmbProdThreshold)
      .select(col("vec_id").as("doc_id")).distinct()
  }

  private def buildOnce(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    stagedBuild(s, d, baseOf(documents(s, d)), v2SemOf(s, d))

  /** The ten-stage stack over an arbitrary planted+decorated corpus,
    * parameterized by the stage-10 screen `semOf(base, ids9) → drop
    * ids` — ONE spelling shared by the v2 pipeline (supplied-vector
    * screen) and [[ReleaseComputed]] (computed embeddings under the
    * pinned IDF artifact). Stages 1–9 are byte-identical between the
    * two. */
  private[analytics] def stagedBuild(s: SparkSession, d: String,
      base0: DataFrame,
      semOf: (DataFrame, DataFrame) => DataFrame): (DataFrame, Seq[DataFrame]) = {
    def sever(df: DataFrame): DataFrame = df.localCheckpoint(true)
    // the repaired corpus is checkpointed too — it is what a real
    // pipeline writes back to storage after the repair pass, and every
    // stage (and the release projections) reads it
    val base = sever(base0)
    val ids0 = sever(base.select(col("doc_id")))

    // 1. eval holdout — scan predicate
    val ids1 = sever(base.filter(col("doc_id") >= EvalMax)
      .select(col("doc_id")))

    // 2. unicode damage gate — scan predicate on the repaired text
    val ids2 = sever(base.join(ids1, Seq("doc_id"), "left_semi")
      .filter(unicodeKeepCol)
      .select(col("doc_id")))
    val s2 = base.join(ids2, Seq("doc_id"), "left_semi")

    // 3. exact dedup on the REPAIRED text — 32-byte fp shuffle
    val ids3 = sever(s2.select(col("doc_id"), md5(col("ftext")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")))
    val s3 = base.join(ids3, Seq("doc_id"), "left_semi")

    // 4. near dedup: MinHash-LSH clusters, keep-best representative
    val sh3 = s3.filter(size(toksF) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.text.shingles(toksF, 5)).as("shingle"))
      .distinct()
    val clusters = Dedup.clustersOf(Dedup.minhashPairsOf(sh3))
    val wBest = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val losers = clusters
      .join(s3.select(col("doc_id"), size(toksF).cast("long").as("n_tokens")),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") =!= 1).select(col("doc_id"))
    val ids4 = sever(ids3.join(losers, Seq("doc_id"), "left_anti"))
    val s4 = base.join(ids4, Seq("doc_id"), "left_semi")

    // 5. boilerplate-share gate: ≥ half already-seen paragraphs drops
    val pa = s4.select(col("doc_id"),
      Chunking.paraArrayOf(col("ftext"), col("ck")).as("pa")).persistTracked()
    val ph = pa
      .select(col("doc_id"), posexplode(col("pa")).as(Seq("idx", "para")))
      .select(col("doc_id"), col("idx"), md5(col("para")).as("h"))
    val g = ph.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(col("doc_id") * 1000 + col("idx")).as("first_key"))
    val removed = ph.join(g, Seq("h"))
      .filter(col("n_occ") > 1 &&
        col("doc_id") * 1000 + col("idx") =!= col("first_key"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    val ids5 = sever(pa.select(col("doc_id"), size(col("pa")).cast("long").as("n_paras"))
      .join(removed, Seq("doc_id"), "left")
      .filter(coalesce(col("n_removed"), lit(0L)) * 2 < col("n_paras"))
      .select(col("doc_id")))
    val s5 = base.join(ids5, Seq("doc_id"), "left_semi")

    // 6. Gopher rule bundle over the repaired text
    val ids6 = sever(TextAnalysis.qualityGopherOf(
        s5.select(col("doc_id"), col("ftext").as("text")))
      .filter(col("gopher_keep") === 1)
      .select(col("doc_id")))
    val s6 = base.join(ids6, Seq("doc_id"), "left_semi")

    // 7. license gate — the markers decorate the RAW page virtually
    // inside the predicate (ck-keyed: dup families match identically);
    // any restrictive-rank rule match drops (≡ primary rank ≥ 3, the
    // max-rank-primary identity). Scan-side contains/regex stack —
    // a map pass at any scale.
    val ids7 = sever(s6
      .filter(!License.restrictiveCol(licDecor(col("raw"), col("ck"))))
      .select(col("doc_id")))
    val s7 = base.join(ids7, Seq("doc_id"), "left_semi")

    // 8. trained quality classifier (averaged-perceptron vote)
    val (_, wsum) = Curation.trainQualityWeights(s, d)
    val ids8 = sever(Curation.classifierScored(
        s7.select(col("doc_id"), col("ftext").as("text")), wsum)
      .filter(col("margin") > 0)
      .select(col("doc_id")))
    val s8 = base.join(ids8, Seq("doc_id"), "left_semi")

    // 9. eval decontamination: any shared 5-gram with the raw eval
    // slice drops (the eval side is small by construction → broadcast)
    val rawToks = split(col("raw"), " ")
    val evsh = base.filter(col("doc_id") < EvalMax)
      .filter(size(rawToks) >= 5)
      .select(explode(graft.functions.text.shingles(rawToks, 5)).as("shingle"))
      .distinct()
    val sh8 = s8.filter(size(toksF) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.text.shingles(toksF, 5)).as("shingle"))
      .distinct()
    val contam = sh8.join(broadcast(evsh), Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
    val ids9 = sever(ids8.join(contam, Seq("doc_id"), "left_anti"))

    // 10. semantic decontamination — the paraphrase leak: any survivor
    // whose embedding sits at cos ≥ τ to an eval item drops. The
    // screen itself is the injected `semOf`: the v2 instance streams
    // survivors' SUPPLIED vectors against the broadcast eval slice
    // (docs past the natural id range carry no embedding row and pass
    // un-scored — embedding coverage is its own expectation); the
    // computed instance embeds the repaired text under the pinned IDF
    // artifact and screens that.
    val ids10 = sever(ids9.join(semOf(base, ids9), Seq("doc_id"), "left_anti"))

    (base, Seq(ids0, ids1, ids2, ids3, ids4, ids5, ids6, ids7, ids8,
      ids9, ids10))
  }

  private[analytics] val StageNames = Seq("eval_holdout", "unicode", "exact",
    "neardup", "paragraph", "gopher", "license", "classifier",
    "contamination", "semantic")

  /** The (stage_rank, stage, n_in, n_dropped, n_out) ledger over a
    * stage-set sequence — shared by the v2 and computed-gate
    * pipelines. */
  private[analytics] def ledgerOf(ids: Seq[DataFrame],
      names: Seq[String]): DataFrame =
    names.zipWithIndex.map { case (name, i) =>
      ids(i).agg(count(lit(1)).as("n_in"))
        .crossJoin(ids(i + 1).agg(count(lit(1)).as("n_out")))
        .select(lit(i + 1).as("stage_rank"), lit(name).as("stage"),
          col("n_in"), (col("n_in") - col("n_out")).as("n_dropped"),
          col("n_out"))
    }.reduce(_ unionByName _)

  /** The drop ledger: 10 rows of (stage_rank, stage, n_in, n_dropped,
    * n_out). Reconciliation is structural — n_out(k) = n_in(k) −
    * n_dropped(k) and n_in(k+1) = n_out(k) because the stages consume
    * each other's id-sets; the oracle hash-pins every count. */
  def corpusBuild(s: SparkSession, d: String): DataFrame =
    ledgerOf(build(s, d)._2, StageNames)

  /** The release tail over an arbitrary survivor slice
    * (doc_id, source, …, ftext): PII scrub, token pricing, and the
    * per-source [[PackBudget]]-token pack window. ONE definition
    * shared by the v2 release and [[IncrementalBuild]]'s monthly
    * re-ship receipt. */
  private[analytics] def releaseDocsOf(surv: DataFrame): DataFrame =
    releaseDocsFromScrub(surv, scrubOf(surv))

  /** The release tail over a PRE-SCRUBBED slice — the seam that lets
    * the curriculum queries run one scrub pass for both consumers. */
  private def releaseDocsFromScrub(surv: DataFrame,
      scrub: DataFrame): DataFrame = {
    val scrubbed = scrub
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("scrubbed")).as("clean_fp"),
        size(split(col("scrubbed"), " ")).cast("long").as("n_tokens"))
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv.select(col("doc_id"), col("source"))
      .join(scrubbed, Seq("doc_id"))
      .withColumn("cum", sum(col("n_tokens")).over(wPack))
      .selectExpr("doc_id", "source", "n_tokens", "n_emails", "n_phones",
        "clean_fp", s"(cum - n_tokens) div $PackBudget AS pack_id")
  }

  /** The released corpus: survivors PII-scrubbed (redaction counts +
    * scrubbed-text fingerprint — the text that actually ships), priced
    * in scrubbed tokens, and packed into [[PackBudget]]-token training
    * packs per source (pack_sequences' per-shard running window). */
  def corpusBuildDocs(s: SparkSession, d: String): DataFrame = {
    val (base, ids) = build(s, d)
    releaseDocsOf(base.join(ids.last, Seq("doc_id"), "left_semi"))
  }

  /** The per-source mixture table over the CLEANED corpus: document
    * and scrubbed-token volumes, exact proportional ppm, and the
    * α = 1/2 temperature share (mixture_temperature's IEEE-sqrt lane
    * with the running-window sequential-sum trick). */
  def corpusBuildMix(s: SparkSession, d: String): DataFrame = {
    val (base, ids) = build(s, d)
    val surv = base.join(ids.last, Seq("doc_id"), "left_semi")
    val per = Curation.piiScrubFull(
        surv.select(col("doc_id"), col("ftext").as("text")))
      .select(col("doc_id"), size(split(col("scrubbed"), " "))
        .cast("long").as("n_tokens"))
      .join(surv.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val wRun = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sq = per
      .withColumn("sq", sqrt(col("n_tokens").cast("double")))
      .withColumn("run", sum(col("sq")).over(wRun))
    val tot = sq.agg(max(col("run")).as("sq_tot"),
      sum(col("n_tokens")).as("tot_n"))
    sq.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_tokens AS DECIMAL(28,0)) * 1000000 div tot_n")
          .as("prop_ppm"),
        (col("sq") / col("sq_tot")).as("temp_share"))
  }

  /** The release datasheet (Gebru et al. 2021) — ONE per-source
    * artifact a corpus release publishes: the mixture table (docs,
    * scrubbed tokens, exact proportional ppm, α=1/2 temperature
    * share), the license mix of what shipped (count of
    * positively-licensed docs + the modal primary license — every
    * restrictive grant was dropped at stage 7, so the survivors'
    * licenses are permissive-or-unknown by construction), and the
    * trained classifier's per-source quality stats (total and per-doc
    * margin — every survivor's margin is > 0 by the stage-8 gate, so
    * the integer ppm lanes never see a negative dividend). All exact
    * lanes are DECIMAL(28,0)·10⁶ div (the token_budget overflow-free
    * spelling); everything runs on the bounded source domain after
    * one survivor-slice scan. */
  def corpusDatasheet(s: SparkSession, d: String): DataFrame = {
    val (base, ids) = build(s, d)
    val surv = base.join(ids.last, Seq("doc_id"), "left_semi")
    val priced = Curation.piiScrubFull(
        surv.select(col("doc_id"), col("ftext").as("text")))
      .select(col("doc_id"),
        size(split(col("scrubbed"), " ")).cast("long").as("n_tokens"))
    val lic = surv.select(col("doc_id"),
      License.primaryCol(licDecor(col("raw"), col("ck"))).as("pl"))
    val (_, wsum) = Curation.trainQualityWeights(s, d)
    val marg = Curation.classifierScored(
        surv.select(col("doc_id"), col("ftext").as("text")), wsum)
      .select(col("doc_id"), col("margin"))
    val per = surv.select(col("doc_id"), col("source"))
      .join(priced, Seq("doc_id")).join(lic, Seq("doc_id"))
      .join(marg, Seq("doc_id"))
      .persistTracked()
    val bySrc = per.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(when(col("pl") =!= "unknown", 1L).otherwise(0L)).as("n_licensed"),
      sum(col("margin")).as("sum_margin"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("pl"))
    val top = per.groupBy(col("source"), col("pl"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") === 1)
      .select(col("source"), col("pl").as("top_license"))
    val wRun = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sq = bySrc
      .withColumn("sq", sqrt(col("n_tokens").cast("double")))
      .withColumn("run", sum(col("sq")).over(wRun))
    val tot = sq.agg(max(col("run")).as("sq_tot"),
      sum(col("n_tokens")).as("tot_n"))
    sq.join(top, Seq("source")).crossJoin(broadcast(tot))
      .selectExpr("source", "n_docs", "n_tokens",
        "CAST(n_tokens AS DECIMAL(28,0)) * 1000000 div tot_n AS prop_ppm",
        "sq / sq_tot AS temp_share",
        "n_licensed", "top_license", "sum_margin",
        "CAST(sum_margin AS DECIMAL(28,0)) * 1000000 div n_docs AS margin_per_doc_ppm",
        "CAST(n_tokens AS DECIMAL(28,0)) * 1000000 div n_docs AS tok_per_doc_ppm")
  }

  /** Release integrity manifest (r14) — the two-level content-address
    * tree a reproducible corpus release ships: per (source, pack) the
    * doc/token volumes and a PACK FINGERPRINT (md5 of the member
    * documents' scrubbed-text fingerprints in doc_id order), plus ONE
    * root row ('*', -1) whose fingerprint folds every pack fingerprint
    * in (source, pack) order — verify the root to trust the release,
    * verify one pack to locate a corruption, without re-hashing 100 TB
    * of text (the fps were already computed by the release pass; the
    * manifest is pack-table-sized). Both levels are order-pinned so
    * the DuckDB oracle reproduces them byte-for-byte. */
  def corpusManifest(s: SparkSession, d: String): DataFrame = {
    val docs = corpusBuildDocs(s, d)
    val packs = docs.groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id"), col("clean_fp")))),
          x => x.getField("clean_fp")))).as("pack_fp"))
    val root = packs
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(
            struct(col("source"), col("pack_id"), col("pack_fp")))),
          x => x.getField("pack_fp")))).as("pack_fp"))
      .select(lit("*").as("source"), lit(-1L).as("pack_id"),
        col("n_docs"), col("n_tokens"), col("pack_fp"))
    packs.unionByName(root)
  }

  /** Curriculum schedule over the release (r14) — the data-ORDERING
    * artifact next to the mixture (Bengio et al. 2009 curricula;
    * quality-annealing schedules read the same ranking reversed): rank
    * every training pack by its mean per-token MDL code length under
    * the release's own word distribution, bits(w) = bitlen(T div c(w))
    * — the [[Unigram]] cost rule at piece = word, so "difficulty" is
    * literally the word-level LM surprisal surrogate in the exact
    * integer lane (rare-word-dense packs rank hard). Output: one row
    * per pack, rank 1 = easiest, with the exact mean-bits ppm the
    * rank was derived from.
    *
    * Scale shape: one scrubbed-corpus scan builds (word, count), one
    * more prices documents against the vocab-sized bits table, the
    * rollup is pack-keyed; the schedule rank itself is corpus-sized/
    * PackBudget, so it uses [[Ranking.globalRowNumber]] (per-partition
    * local ranks + collected offsets — no single-partition window). */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val (base, ids) = build(s, d)
    val surv = base.join(ids.last, Seq("doc_id"), "left_semi")
    // ONE scrub pass (r16): the schedule prices the scrubbed text AND
    // the pack table fingerprints it — computing releaseDocsOf
    // separately re-ran the 4-regex PII scrub over the whole release
    val scrub = scrubOf(surv).persistTracked()
    curriculumOrderOf(releaseDocsFromScrub(surv, scrub), scrub)
  }

  /** One PII-scrub pass over a survivor slice — the shared input of
    * [[releaseDocsFromScrub]] and the curriculum pricer. */
  private def scrubOf(surv: DataFrame): DataFrame =
    Curation.piiScrubFull(
      surv.select(col("doc_id"), col("ftext").as("text")))

  /** The schedule over an arbitrary packed-docs frame + its scrubbed
    * text — the seam [[shardExportCurriculum]] and [[curriculumOrder]]
    * use to SHARE one release tail and ONE scrub pass between the
    * schedule and the pack fingerprints. */
  private def curriculumOrderOf(packedDocs: DataFrame,
      scrub: DataFrame): DataFrame = {
    val toks = scrub
      .select(col("doc_id"), explode(split(col("scrubbed"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("t"))
    val bits = freq.crossJoin(broadcast(tot))
      .select(col("w"),
        expr("CAST(length(bin(t div c)) AS BIGINT)").as("bits"))
    val docBits = toks.join(bits, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bits")).as("sbits"), count(lit(1)).as("ntok"))
    val perPack = packedDocs
      .select(col("doc_id"), col("source"), col("pack_id"))
      .join(docBits, Seq("doc_id"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        sum(col("sbits")).as("sum_bits"))
      .withColumn("mean_bits_ppm",
        expr("CAST(CAST(sum_bits AS DECIMAL(28,0)) * 1000000 div n_tokens AS BIGINT)"))
    Ranking.globalRowNumber(perPack,
        Seq(col("mean_bits_ppm").asc, col("source").asc, col("pack_id").asc),
        "rank_pos")
      .select(col("rank_pos"), col("source"), col("pack_id"), col("n_docs"),
        col("n_tokens"), col("mean_bits_ppm"))
  }

  /** Difficulty-bucket count for the curriculum-aware shard cursor. */
  private[graft] val DifficultyBuckets = 4L

  /** The trainer-facing export (r15): a deterministic hash-based
    * GLOBAL PSEUDO-SHUFFLE of the release's training packs into
    * [[Sizing.numShards]]-many numbered shards — the "global shuffle at 100 TB
    * without a global sort" spelling. shard = md5(source|pack) mod N
    * and the within-shard order is the same hash key (ties by
    * (source, pack)), so the full training order is reconstructible
    * from keys alone: a trainer's resume cursor is (shard_id, hk) and
    * re-exporting after an append rewrites ONLY the shards whose
    * pack set changed (spec-pinned). Each shard row carries the pack
    * fold of [[corpusManifest]]'s pack fingerprints in cursor order,
    * and one root row (-1) folds the shard fps — the manifest's
    * integrity tree extended one level to the shard artifact.
    *
    * Scale shape: the rollup is pack-table-sized (corpus / PackBudget
    * rows); no sort or window ever sees corpus-sized data, and the
    * fold inside each shard aggregates a bounded (1/N) slice. */
  def shardExport(s: SparkSession, d: String): DataFrame =
    shardExportOf(corpusBuildDocs(s, d))

  /** The export over an arbitrary packed-docs frame (doc_id, source,
    * n_tokens, clean_fp, pack_id) — the seam the resume spec uses to
    * prove append-locality. */
  /** Per-pack rollup with fingerprint + hash key — shared by the shard
    * export and the curriculum-aware cursor. */
  private[analytics] def packFpsOf(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id"), col("clean_fp")))),
          x => x.getField("clean_fp")))).as("pack_fp"))
      .withColumn("hk",
        md5(concat(col("source"), lit("|"), col("pack_id").cast("string"))))

  private[graft] def shardExportOf(docs: DataFrame): DataFrame = {
    val packs = packFpsOf(docs)
    // DERIVED shard count (r16, the [[Sizing.numShards]] rule — the
    // df-cap/band-width precedent): 16 on every driver corpus
    // (committed hashes unchanged), growing with the pack table so the
    // per-shard fp fold below never holds more than a bounded slice.
    // Spelled IN-PLAN as a 1-row scalar broadcast (the oracle's scalar
    // subquery, exactly Sizing.numShards in SQL arithmetic): an eager
    // driver-side count() forced a checkpoint of the pack rollup and
    // split the export into extra jobs, where the lazy spelling lets
    // ReusedExchange share ONE pack rollup between the shard and root
    // branches (shard_export_incremental runs this twice per query —
    // measured 1.07 s vs 0.46 s with the eager spelling).
    val ns = packs.agg(count(lit(1)).as("np"))
      .select(expr("greatest(CAST(16 AS BIGINT), " +
        "least(CAST(1048576 AS BIGINT), np div 4096))").as("ns"))
    val shards = packs.crossJoin(broadcast(ns))
      .withColumn("shard_id",
        conv(substring(col("hk"), 1, 6), 16, 10).cast("long") % col("ns"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(
            struct(col("hk"), col("source"), col("pack_id"), col("pack_fp")))),
          x => x.getField("pack_fp")))).as("shard_fp"))
    val root = shards
      .agg(sum(col("n_packs")).as("n_packs"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct(col("shard_id"), col("shard_fp")))),
          x => x.getField("shard_fp")))).as("shard_fp"))
      .select(lit(-1L).as("shard_id"), col("n_packs"), col("n_docs"),
        col("n_tokens"), col("shard_fp"))
    shards.unionByName(root)
  }

  /** Curriculum-aware shard cursor (r16 — r15 verdict item 3):
    * [[curriculumOrder]] schedules packs by difficulty and
    * [[shardExport]] orders by hash key, but nothing reconciled them —
    * a trainer consuming shards in cursor order got a RANDOM
    * curriculum. Here each pack's curriculum rank maps to a difficulty
    * bucket (rank-quantile over [[DifficultyBuckets]]; easiest quarter
    * = bucket 0) and the within-shard cursor becomes (bucket, hk):
    * reading any shard in cursor order sees difficulty non-decreasing
    * BY CONSTRUCTION, and hash-order within a bucket keeps the
    * append-locality / resume-cursor contract segment-wise. The
    * receipt is one row per (shard, bucket) segment: volumes + the
    * segment fold of pack fps in cursor order (the shard fp of
    * [[shardExport]] becomes the ordered fold of its segments).
    *
    * Scale shape: one bounded-key rollup on top of the curriculum and
    * pack tables; the global rank is [[Ranking.globalRowNumber]] (no
    * single-partition window), bucket and the derived shard count are
    * rank arithmetic against one broadcast 1-row pack count. */
  def shardExportCurriculum(s: SparkSession, d: String): DataFrame = {
    // ONE release tail and ONE scrub pass for all consumers (r16): the
    // schedule, the packed-docs frame and the pack fingerprints share
    // the scrub + packing window — the un-shared spelling re-derived
    // the whole PII-scrub + packing window once per consumer.
    // localCheckpoint on the packed docs rather than persist: same
    // single materialization, but the downstream plan reads a
    // checkpoint scan instead of an InMemoryRelation that re-prints
    // (and on cache eviction would re-run) the whole release tail per
    // reference.
    val (base, ids) = build(s, d)
    val surv = base.join(ids.last, Seq("doc_id"), "left_semi")
    val scrub = scrubOf(surv).persistTracked()
    val docs = releaseDocsFromScrub(surv, scrub).localCheckpoint(true)
    // the schedule is pack-table-sized and read only by the reconcile
    // join — checkpoint it too, so the receipt plan joins two bounded
    // materialized tables instead of replaying the schedule chain
    val cur = curriculumOrderOf(docs, scrub)
      .select(col("source"), col("pack_id"), col("rank_pos"))
      .localCheckpoint(true)
    val packs = packFpsOf(docs)
    val np = cur.agg(count(lit(1)).as("np"))
    packs.join(cur, Seq("source", "pack_id"))
      .crossJoin(broadcast(np))
      .withColumn("bucket",
        expr(s"(rank_pos - 1) * $DifficultyBuckets div np"))
      .withColumn("shard_id", expr(
        "CAST(conv(substring(hk, 1, 6), 16, 10) AS BIGINT)" +
          " % greatest(CAST(16 AS BIGINT)," +
          " least(CAST(1048576 AS BIGINT), np div 4096))"))
      .groupBy(col("shard_id"), col("bucket"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws("", transform(
          array_sort(collect_list(
            struct(col("hk"), col("source"), col("pack_id"), col("pack_fp")))),
          x => x.getField("pack_fp")))).as("seg_fp"))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle — the ENTIRE pipeline re-derived from scratch:
  // plants, repair, all eight stage sets (each MATERIALIZED — the
  // ledger's count subqueries would otherwise re-inline the whole
  // upstream chain once per stage), the recursive connected
  // components, the unrolled classifier training, and the release
  // projections. Every stage reuses the owning operator's oracle
  // generator (one SQL spelling per operator across the board).
  // ---------------------------------------------------------------

  /** The v2 plant SQL (the body of `pdocs`) — shared with the
    * computed-gate variant, which UNIONs its paraphrase arm on top. */
  private[analytics] val v2PdocsSql: String =
    s"""SELECT doc_id, source, lang, text FROM documents
          UNION ALL
          SELECT doc_id + $CopyBase, source, lang, text FROM documents
          WHERE doc_id % 50 = 3"""

  /** CTE chain from the planted corpus through stage sets s1..s9,
    * assuming `wavg` (classifier training) in scope — stage 10 is the
    * variant-specific screen the two callers append. */
  private[analytics] def stageCtesTo9(pdocsBody: String): String = {
    val classifierSelect = Curation
      .classifierScoreSqlFrom("(SELECT doc_id, ftext AS text FROM s7)")
      .trim.stripPrefix(",")
    s"""pdocs AS (
          $pdocsBody),
        keyed AS (
          SELECT doc_id, source, lang, text, $ckSql AS ck FROM pdocs),
        fixd AS MATERIALIZED (
          SELECT doc_id, source, lang, text AS raw, ck,
            ${TextAnalysis.unicodeFoldSqlExpr(
              TextAnalysis.unicodeDecSqlExpr("text", "ck"))} AS ftext
          FROM keyed),
        s1 AS MATERIALIZED (SELECT * FROM fixd WHERE doc_id >= $EvalMax),
        s2 AS MATERIALIZED (
          SELECT * FROM s1
          WHERE (length(ftext) - length(replace(ftext, chr(65533), '')))
            * 1000 <= length(ftext)),
        canon AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(ftext)),
        s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN canon USING (doc_id)),
        sh AS MATERIALIZED (${Dedup.shingleSqlFrom("s3", "ftext")}),
        ${Dedup.minhashCtes},
        ${Dedup.clusterCtes},
        reps AS (
          SELECT cluster_id, doc_id AS rep FROM (
            SELECT c.cluster_id, c.doc_id,
              row_number() OVER (PARTITION BY c.cluster_id
                ORDER BY len(string_split(s3.ftext, ' ')) DESC, c.doc_id) AS rk
            FROM clusters c JOIN s3 ON s3.doc_id = c.doc_id) z
          WHERE rk = 1),
        losers AS (
          SELECT c.doc_id FROM clusters c
          JOIN reps r ON r.cluster_id = c.cluster_id
          WHERE c.doc_id <> r.rep),
        s4 AS MATERIALIZED (
          SELECT * FROM s3
          WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        ${Chunking.paraCtesFrom("s4", "ftext", "ck")},
        prm AS (
          SELECT px.doc_id, count(*) AS n_removed
          FROM px JOIN g ON g.h = md5(px.para)
          WHERE g.n_occ > 1 AND px.doc_id * 1000 + px.idx <> g.first_key
          GROUP BY 1),
        pstat AS (
          SELECT pa.doc_id, len(pa.pa) AS n_paras,
            coalesce(prm.n_removed, 0) AS n_removed
          FROM pa LEFT JOIN prm USING (doc_id)),
        s5 AS MATERIALIZED (
          SELECT s4.* FROM s4 JOIN pstat USING (doc_id)
          WHERE 2 * pstat.n_removed < pstat.n_paras),
        gm AS MATERIALIZED (
          ${TextAnalysis.gopherSqlFrom("(SELECT doc_id, ftext AS text FROM s5)")}),
        s6 AS MATERIALIZED (
          SELECT s5.* FROM s5 JOIN gm USING (doc_id)
          WHERE gm.gopher_keep = 1),
        licd AS (SELECT doc_id, $licDecSql AS t FROM s6),
        s7 AS MATERIALIZED (
          SELECT s6.* FROM s6 JOIN licd USING (doc_id)
          WHERE NOT ${License.restrictiveSqlOn("licd.t")}),
        cm AS MATERIALIZED (WITH $classifierSelect),
        s8 AS MATERIALIZED (
          SELECT s7.* FROM s7 JOIN cm USING (doc_id) WHERE cm.margin > 0),
        evsh AS MATERIALIZED (
          SELECT DISTINCT shingle FROM (${Dedup.shingleSqlFrom(
            s"(SELECT doc_id, raw FROM fixd WHERE doc_id < $EvalMax)", "raw")}) ev),
        sh8 AS (${Dedup.shingleSqlFrom("s8", "ftext")}),
        contam AS (SELECT DISTINCT doc_id FROM sh8 JOIN evsh USING (shingle)),
        s9 AS MATERIALIZED (
          SELECT * FROM s8
          WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""
  }

  /** The full v2 chain: stages 1–9 over the v2 plants + the supplied-
    * vector stage 10. */
  private def stageCtes: String =
    s"""${stageCtesTo9(v2PdocsSql)},
        $vecCtes,
        s10 AS MATERIALIZED (
          SELECT * FROM s9
          WHERE doc_id NOT IN (SELECT doc_id FROM semdrop))"""

  /** The planted-embedding CTE chain (the SQL twin of [[vecsOf]]) +
    * the global semantic screen: ev0 → semp → pvec → nvec → evv →
    * `semdrop(doc_id)`. Shared with [[IncrementalBuild]] — the screen
    * is per-document (a doc is a semantic leak independently of any
    * population), so one spelling serves every stack replay. */
  private[analytics] def vecCtes: String =
    s"""ev0 AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        semp AS (
          SELECT e.vec_id,
            list(b.v[g.k + 1]
                * (1 + ${Dedup.EmbPlantEps} * ((e.vec_id * 31 + g.k * 7) % 3 - 1))
              ORDER BY g.k) AS v
          FROM ev0 e JOIN ev0 b ON b.vec_id = e.vec_id % $EvalMax
          CROSS JOIN generate_series(0, 63) g(k)
          WHERE e.vec_id >= $EvalMax AND e.vec_id % $SemPlantMod = $SemPlantRes
          GROUP BY e.vec_id),
        pvec AS (
          SELECT vec_id, v FROM ev0
          WHERE NOT (vec_id >= $EvalMax AND vec_id % $SemPlantMod = $SemPlantRes)
          UNION ALL SELECT vec_id, v FROM semp),
        nvec AS MATERIALIZED (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM pvec),
        evv AS (SELECT vec_id, v, nrm FROM nvec WHERE vec_id < $EvalMax),
        semdrop AS (
          SELECT DISTINCT t.vec_id AS doc_id
          FROM (SELECT * FROM nvec WHERE vec_id >= $EvalMax) t
          CROSS JOIN evv
          WHERE list_dot_product(t.v, evv.v) / (t.nrm * evv.nrm)
            >= ${Dedup.EmbProdThreshold})"""

  private def withChain: String =
    s"WITH RECURSIVE ${Curation.qualityTrainCtes},\n        $stageCtes"

  /** PII + pricing + packing over an arbitrary survivor relation
    * (doc_id, source, ftext), CTE-prefixed — exposes ${p}packed.
    * The SQL twin of [[releaseDocsOf]], shared with the incremental
    * re-ship oracle. */
  private[analytics] def releaseCtesFrom(rel: String, p: String): String =
    s"""${Curation.piiCtesFrom(s"(SELECT doc_id, ftext AS text FROM $rel)", p)},
        ${p}priced AS (
          SELECT $rel.doc_id, $rel.source, ${p}scrub.n_emails,
            ${p}scrub.n_phones,
            md5(${p}scrub.st) AS clean_fp,
            CAST(len(string_split(${p}scrub.st, ' ')) AS BIGINT) AS n_tokens
          FROM $rel JOIN ${p}scrub ON ${p}scrub.doc_id = $rel.doc_id),
        ${p}packed AS (
          SELECT doc_id, source, n_tokens, n_emails, n_phones, clean_fp,
            (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // $PackBudget AS pack_id
          FROM ${p}priced)"""

  /** The docs/mix queries' shared tail (exposes scrub/packed). */
  private def releaseCtes: String =
    s""",
        ${releaseCtesFrom("s10", "")}"""

  /** The shard rollup over an arbitrary packed relation — exposes
    * ${p}shd(shard_id, n_packs, n_docs, n_tokens, shard_fp); data
    * shards only (callers add the root fold where they ship one). */
  private[analytics] def shardCtesFrom(packedRel: String, p: String): String =
    s"""${p}spk AS (
          SELECT source, pack_id, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            md5(string_agg(clean_fp, '' ORDER BY doc_id)) AS pack_fp,
            md5(source || '|' || CAST(pack_id AS BIGINT)) AS hk
          FROM $packedRel GROUP BY source, pack_id),
        ${p}ns AS (
          SELECT greatest(16, least(1048576, count(*) // 4096)) AS ns
          FROM ${p}spk),
        ${p}shd AS (
          SELECT ('0x' || substr(hk, 1, 6))::BIGINT % (SELECT ns FROM ${p}ns)
            AS shard_id,
            count(*) AS n_packs, CAST(sum(n_docs) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            md5(string_agg(pack_fp, '' ORDER BY hk, source, pack_id))
              AS shard_fp
          FROM ${p}spk GROUP BY 1)"""

  /** Word-MDL curriculum CTEs over the release (`ctok`..`cpm`) —
    * shared by curriculum_order and the curriculum-aware cursor. */
  private def curriculumCtes: String =
    s"""ctok AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(st, ' ')) AS w FROM scrub) z
          WHERE length(w) > 0),
        cfreq AS (SELECT w, count(*) AS c FROM ctok GROUP BY 1),
        ctot AS (SELECT sum(c) AS t FROM cfreq),
        cbits AS (
          SELECT w, CAST(length(bin(t // c)) AS BIGINT) AS bits
          FROM cfreq CROSS JOIN ctot),
        cdoc AS (
          SELECT doc_id, CAST(sum(bits) AS BIGINT) AS sbits,
            count(*) AS ntok
          FROM ctok JOIN cbits USING (w) GROUP BY 1),
        cpk AS (
          SELECT p.source, p.pack_id, count(*) AS n_docs,
            CAST(sum(c.ntok) AS BIGINT) AS n_tokens,
            CAST(sum(c.sbits) AS BIGINT) AS sum_bits
          FROM packed p JOIN cdoc c USING (doc_id) GROUP BY 1, 2),
        cpm AS (
          SELECT *, CAST((CAST(sum_bits AS HUGEINT) * 1000000) // n_tokens
            AS BIGINT) AS mean_bits_ppm
          FROM cpk)"""

  val registry: Map[String, QueryDef] = Map(
    "corpus_build" -> QueryDef(corpusBuild _,
      s"""$withChain
        SELECT CAST(r AS INT) AS stage_rank, stage, n_in,
          n_in - n_out AS n_dropped, n_out
        FROM (
          SELECT 1 AS r, 'eval_holdout' AS stage,
            (SELECT count(*) FROM fixd) AS n_in,
            (SELECT count(*) FROM s1) AS n_out
          UNION ALL SELECT 2, 'unicode',
            (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
          UNION ALL SELECT 3, 'exact',
            (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
          UNION ALL SELECT 4, 'neardup',
            (SELECT count(*) FROM s3), (SELECT count(*) FROM s4)
          UNION ALL SELECT 5, 'paragraph',
            (SELECT count(*) FROM s4), (SELECT count(*) FROM s5)
          UNION ALL SELECT 6, 'gopher',
            (SELECT count(*) FROM s5), (SELECT count(*) FROM s6)
          UNION ALL SELECT 7, 'license',
            (SELECT count(*) FROM s6), (SELECT count(*) FROM s7)
          UNION ALL SELECT 8, 'classifier',
            (SELECT count(*) FROM s7), (SELECT count(*) FROM s8)
          UNION ALL SELECT 9, 'contamination',
            (SELECT count(*) FROM s8), (SELECT count(*) FROM s9)
          UNION ALL SELECT 10, 'semantic',
            (SELECT count(*) FROM s9), (SELECT count(*) FROM s10)) u"""),
    "corpus_build_docs" -> QueryDef(corpusBuildDocs _,
      s"""$withChain$releaseCtes
        SELECT doc_id, source, n_tokens, n_emails, n_phones, clean_fp,
          CAST(pack_id AS BIGINT) AS pack_id
        FROM packed"""),
    "corpus_build_mix" -> QueryDef(corpusBuildMix _,
      s"""$withChain$releaseCtes,
        per AS (
          SELECT source, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          FROM packed GROUP BY source),
        sq AS (
          SELECT source, n_docs, n_tokens,
            sqrt(CAST(n_tokens AS DOUBLE)) AS sq,
            sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM per),
        tot AS (SELECT max(run) AS sq_tot, sum(n_tokens) AS tot_n FROM sq)
        SELECT source, n_docs, n_tokens,
          CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tot_n AS BIGINT)
            AS prop_ppm,
          sq / sq_tot AS temp_share
        FROM sq CROSS JOIN tot"""),
    // the release datasheet: survivor-slice license tags come from the
    // SAME gate decoration (dsl), margins from the already-derived cm
    // (s10 ⊆ s7, so every survivor has a scored row), tokens from the
    // shared release tail (packed)
    "corpus_datasheet" -> QueryDef(corpusDatasheet _,
      s"""$withChain$releaseCtes,
        dsl AS (
          SELECT doc_id, ${License.primarySqlOn(s"($licDecSql)")} AS pl
          FROM s10),
        dper AS (
          SELECT p.doc_id, p.source, p.n_tokens, d.pl, c.margin
          FROM packed p JOIN dsl d USING (doc_id) JOIN cm c USING (doc_id)),
        dsrc AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN pl <> 'unknown' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_licensed,
            CAST(sum(margin) AS BIGINT) AS sum_margin
          FROM dper GROUP BY source),
        dtop AS (
          SELECT source, pl AS top_license FROM (
            SELECT source, pl,
              row_number() OVER (PARTITION BY source
                ORDER BY cnt DESC, pl) AS rk
            FROM (SELECT source, pl, count(*) AS cnt
                  FROM dper GROUP BY 1, 2) z) y
          WHERE rk = 1),
        dsq AS (
          SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS sq,
            sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM dsrc),
        dtot AS (SELECT max(run) AS sq_tot, sum(n_tokens) AS tot_n FROM dsq)
        SELECT source, n_docs, n_tokens,
          CAST((CAST(n_tokens AS HUGEINT) * 1000000) // tot_n AS BIGINT)
            AS prop_ppm,
          sq / sq_tot AS temp_share,
          n_licensed, top_license, sum_margin,
          CAST((CAST(sum_margin AS HUGEINT) * 1000000) // n_docs AS BIGINT)
            AS margin_per_doc_ppm,
          CAST((CAST(n_tokens AS HUGEINT) * 1000000) // n_docs AS BIGINT)
            AS tok_per_doc_ppm
        FROM dsq JOIN dtop USING (source) CROSS JOIN dtot"""),
    // the curriculum schedule: word-MDL bits over the scrubbed release
    // corpus, pack rollup, global rank (row_number is the SQL twin of
    // the engine's offset-composed globalRowNumber)
    "curriculum_order" -> QueryDef(curriculumOrder _,
      s"""$withChain$releaseCtes,
        $curriculumCtes
        SELECT row_number() OVER (ORDER BY mean_bits_ppm, source, pack_id)
            AS rank_pos,
          source, CAST(pack_id AS BIGINT) AS pack_id, n_docs, n_tokens,
          mean_bits_ppm
        FROM cpm"""),
    // the curriculum-aware cursor: rank → quantile bucket, hash order
    // within the bucket, segment folds in cursor order; the shard
    // count is the SAME Sizing derivation as shard_export
    "shard_export_curriculum" -> QueryDef(shardExportCurriculum _,
      s"""$withChain$releaseCtes,
        $curriculumCtes,
        ${shardCtesFrom("packed", "")},
        cnp AS (SELECT count(*) AS np FROM cpm),
        crk AS (
          SELECT source, pack_id,
            row_number() OVER (ORDER BY mean_bits_ppm, source, pack_id)
              AS rk
          FROM cpm)
        SELECT
          ('0x' || substr(k.hk, 1, 6))::BIGINT
            % greatest(16, least(1048576, (SELECT np FROM cnp) // 4096))
            AS shard_id,
          (r.rk - 1) * $DifficultyBuckets // (SELECT np FROM cnp) AS bucket,
          count(*) AS n_packs, CAST(sum(k.n_tokens) AS BIGINT) AS n_tokens,
          md5(string_agg(k.pack_fp, '' ORDER BY k.hk, k.source, k.pack_id))
            AS seg_fp
        FROM spk k JOIN crk r USING (source, pack_id)
        GROUP BY 1, 2"""),
    // the shard pseudo-shuffle: hash key, shard assignment, cursor-
    // order fold and the root fold all re-derived
    "shard_export" -> QueryDef(shardExport _,
      s"""$withChain$releaseCtes,
        ${shardCtesFrom("packed", "")}
        SELECT shard_id, n_packs, n_docs, n_tokens, shard_fp FROM shd
        UNION ALL
        SELECT -1, CAST(sum(n_packs) AS BIGINT), CAST(sum(n_docs) AS BIGINT),
          CAST(sum(n_tokens) AS BIGINT),
          md5(string_agg(shard_fp, '' ORDER BY shard_id))
        FROM shd"""),
    // both manifest levels with the same pinned orderings
    "corpus_manifest" -> QueryDef(corpusManifest _,
      s"""$withChain$releaseCtes,
        mpk AS (
          SELECT source, pack_id, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
            md5(string_agg(clean_fp, '' ORDER BY doc_id)) AS pack_fp
          FROM packed GROUP BY source, pack_id)
        SELECT source, CAST(pack_id AS BIGINT) AS pack_id, n_docs,
          n_tokens, pack_fp
        FROM mpk
        UNION ALL
        SELECT '*', -1, CAST(sum(n_docs) AS BIGINT),
          CAST(sum(n_tokens) AS BIGINT),
          md5(string_agg(pack_fp, '' ORDER BY source, pack_id))
        FROM mpk"""),
  )
}
