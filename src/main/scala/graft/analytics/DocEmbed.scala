package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document embeddings COMPUTED FROM TEXT (r15) — until now every
  * semantic stage (corpus_build stage 10, contamination_semantic,
  * SemDeDup, the ANN family) consumed the driver-supplied `embeddings`
  * table via the vec_id = doc_id contract; the corpus → embedding edge
  * of the release pipeline was an assumption. This module computes the
  * edge in the engine's exact-integer idiom:
  *
  *   tokens → md5 feature buckets (the text_feature_hash rule at
  *   k = [[Buckets]]) → per-bucket document frequency → integer IDF
  *   weights w_b = bitlen(N div df_b) (the [[Unigram]]/curriculum MDL
  *   cost rule — stopword-heavy buckets collapse to weight 1, which is
  *   what keeps same-distribution documents from all pointing at the
  *   corpus mean) → signed ±1 random projection to [[Dims]] dims
  *   ([[Similarity.rprojSigns]]'s md5 cell rule at (k = dim,
  *   i = bucket) — ONE sign-matrix definition across the engine).
  *
  * Every lane is exact: counts, IDF bits and projections are BIGINT
  * arithmetic (|e_k| ≤ Σ cnt·w ≪ 2⁵³, so even the cosine's double
  * conversion is lossless), and `doc_embed` pins all 64 dims of every
  * document through one md5 fingerprint per row.
  *
  * Declared queries:
  *   - `doc_embed` — the embedding table: (doc_id, n_toks, norm2,
  *     emb_fp) with norm2 and the fp exact across engines
  *   - `contamination_semantic_computed` — the semantic decon screen
  *     re-run END-TO-END on computed embeddings: planted paraphrases
  *     of eval pages (every 7th token deleted — the token stream
  *     shifts, so most 5-gram windows break and the n-gram screen
  *     family underperforms on them) are flagged at cos ≥
  *     [[TauComputed]] against the computed eval vectors; measured
  *     separation at all three local SFs: paraphrase twins ≥ 0.938,
  *     natural p99.9 ≤ 0.912 (the few natural pairs above τ are
  *     genuine near-dups of eval pages — exactly what the screen
  *     exists to catch)
  *   - `doc_embed_recall` — the receipt against the driver-supplied
  *     table: the supplied-vector screen's flags (the
  *     contamination_semantic plant rotation) vs the computed-text
  *     screen's flags, with recall_ppm — the two pipelines mark the
  *     SAME planted class (doc_id % 7 = 2) from independent evidence
  *     (vectors vs raw text)
  *   - `doc_embed_coverage` — the embedding-coverage expectation that
  *     closes IncrementalBuild's "docs without an embedding row pass
  *     un-scored" caveat: per source, supplied-table coverage vs
  *     computed coverage (total by construction — the embedding job
  *     IS a corpus scan now)
  *
  * Scale shape: one corpus scan builds (doc, bucket, cnt) with
  * map-side combine; the IDF table ([[Buckets]] rows) and the sign
  * table ([[Buckets]] × [[Dims]] exploded rows) are bounded
  * broadcasts; the projection fan-out is nnz × 64 narrow rows,
  * partial-aggregated on (doc, k) before the one doc-keyed shuffle.
  * Embedding 100 TB is a map pass over tokens — no corpus self-join
  * anywhere. The screen then broadcasts the bounded eval slice
  * (the contamination_semantic contract). */
object DocEmbed {

  /** Feature-hash width. 32 (the classifier width) is far too coarse
    * for similarity — every long document's bucket-count vector
    * converges to the corpus distribution. 1024 buckets + IDF keeps
    * natural pairs at cos ≈ 0.5–0.85 while true paraphrases stay
    * above 0.93 (measured, see scaladoc). */
  private[graft] val Buckets = 1024

  /** Output dimensionality (the engine's embedding-table width). */
  private[graft] val Dims = 64

  /** Computed-screen flag threshold — between the measured
    * paraphrase-twin floor (≥ 0.938 at sf0.001/0.01/0.1) and the
    * natural p99.9 (≤ 0.912); the handful of natural pairs above τ
    * are genuine near-duplicates of eval pages, which is precisely
    * what the screen exists to flag. */
  private[graft] val TauComputed = 0.93

  /** Paraphrase-plant rotation — THE SAME class the supplied-vector
    * plant marks ([[CorpusBuild.SemPlantMod]]/Res), so the recall
    * receipt compares two independent detectors of one leak set. */
  private[graft] val PlantMod = CorpusBuild.SemPlantMod
  private[graft] val PlantRes = CorpusBuild.SemPlantRes

  /** Eval slice bound (the contamination_semantic boundary). */
  private[graft] val EvalMax = 25L

  /** The ±1 sign table as a bounded broadcast frame (b, sgns[Dims]) —
    * [[Similarity.rprojSigns]] transposed to per-bucket rows. Driver
    * metadata (64 Ki longs), the centroidsLit discipline; the oracle
    * re-derives every cell from the md5 rule. */
  private def signFrame(s: SparkSession): DataFrame = {
    val sg = Similarity.rprojSigns(Dims, Buckets) // (dim)(bucket)
    val perB = (0 until Buckets).map(b =>
      (b.toLong, (0 until Dims).map(k => sg(k)(b))))
    s.createDataFrame(perB).toDF("b", "sgns")
  }

  /** Embed an arbitrary (doc_id, text) frame →
    * (doc_id, n_toks, v: array<long>). The IDF weights are trained on
    * the frame itself (one aggregation pass — the quality_train
    * one-job-then-scan workflow; a production run persists `w` as a
    * versioned artifact next to the classifier weights). */
  private[graft] def embedOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // full-width fan-out before the token explode: the documents
    // parquet is a single split at test SF, and without this the
    // whole bucket aggregation's partial pass serializes on one task
    // (the PlanSpec mustFan rule / r14 scan-cost class)
    val bc = docs
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), TextAnalysis.featureBucketK(col("t"), Buckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .persistTracked() // feeds df stats, token totals AND the projection
    val dfb = bc.groupBy(col("b")).agg(count(lit(1)).as("df"))
    val nd = bc.agg(countDistinct(col("doc_id")).as("nd"))
    val w = dfb.crossJoin(broadcast(nd))
      .select(col("b"), expr("CAST(length(bin(nd div df)) AS BIGINT)").as("w"))
    // the projection as 64 SUM COLUMNS over the nnz rows — not a
    // (doc, k) row explosion: the naive posexplode spelling shuffles
    // nnz × 64 rows (1.9 G at sf3) where this shuffles nnz-grouped
    // rows with 64 accumulators (same multiply count, 64× fewer rows;
    // measured 80 s → ~8 s cold at sf3 on the bench heap)
    val sums = (0 until Dims).map(k =>
      sum(element_at(col("sgns"), k + 1) * col("x")).as(s"e$k"))
    bc.join(broadcast(w), Seq("b"))
      .join(broadcast(signFrame(s)), Seq("b"))
      .select(col("doc_id"), (col("cnt") * col("w")).as("x"), col("sgns"),
        col("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_toks"), sums: _*)
      .select(col("doc_id"),
        array((0 until Dims).map(k => col(s"e$k")): _*).as("v"),
        col("n_toks"))
  }

  // ---------------------------------------------------------------
  // PINNED ARTIFACT lane (r16 — the r15 verdict's top item): the
  // release pipeline's semantic gates must embed under a SNAPSHOT-
  // PINNED IDF weight table + sign matrix, never under their own
  // frame's statistics — frame-trained IDF breaks the incremental
  // equivalence theorem (a delta arrival changes df, which silently
  // moves OLD documents' vectors). The sign matrix is already a fixed
  // md5 rule (population-independent by construction); this lane pins
  // the weight table the same way the classifier weights are pinned
  // (IncrementalBuild stage-8 precedent: one versioned artifact, both
  // build directions score under it).
  // ---------------------------------------------------------------

  /** One IDF training pass over (doc_id, text) → the bounded weight
    * table (b, w): per-bucket df, then w = bitlen(N div df) — the
    * [[embedOf]] rule factored out so the ARTIFACT trainer and the
    * frame-trained path share one spelling. */
  private def trainIdf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val bc = docs
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), TextAnalysis.featureBucketK(col("t"), Buckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .persistTracked()
    val dfb = bc.groupBy(col("b")).agg(count(lit(1)).as("df"))
    val nd = bc.agg(countDistinct(col("doc_id")).as("nd"))
    dfb.crossJoin(broadcast(nd))
      .select(col("b"), expr("CAST(length(bin(nd div df)) AS BIGINT)").as("w"))
  }

  /** The versioned IDF artifact: trained ONCE on the natural documents
    * table's raw text, eagerly checkpointed (≤ [[Buckets]] rows — the
    * checkpoint IS the release input a production run ships next to
    * the classifier weights). Memoized per (session, corpus). */
  private[analytics] def pinnedIdf(s: SparkSession, d: String): DataFrame =
    idfMemo.getOrElseUpdate((s, d),
      trainIdf(documents(s, d).select(col("doc_id"), col("text")))
        .localCheckpoint(true))

  private val idfMemo = new Caches.SessionMemo[DataFrame]

  /** Embed (doc_id, text) under a GIVEN pinned weight table — the
    * release-tier spelling: one token scan, two bounded broadcasts
    * (weights + signs), the 64-sum-column projection. Buckets outside
    * the artifact's support carry zero weight (the OOV rule — an
    * inner join, mirrored in SQL), so a delta batch can never move an
    * old document's vector. */
  private[graft] def embedWith(docs: DataFrame, w: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val bc = docs
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), TextAnalysis.featureBucketK(col("t"), Buckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
    val sums = (0 until Dims).map(k =>
      sum(element_at(col("sgns"), k + 1) * col("x")).as(s"e$k"))
    bc.join(broadcast(w), Seq("b"))
      .join(broadcast(signFrame(s)), Seq("b"))
      .select(col("doc_id"), (col("cnt") * col("w")).as("x"), col("sgns"))
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        array((0 until Dims).map(k => col(s"e$k")): _*).as("v"))
  }

  /** The computed-embedding semantic DROP SET over a repaired corpus
    * slice (doc_id, text): embed under the pinned artifact, flag every
    * train doc (doc_id ≥ evalMax) at cos ≥ τ to any eval doc. Per-doc
    * and population-independent by construction (pinned weights, fixed
    * signs, bounded broadcast eval side) — the property that lets the
    * release gates run it incrementally. */
  private[analytics] def semDropComputedOf(docs: DataFrame, w: DataFrame,
      evalMax: Long, tau: Double): DataFrame = {
    val emb = embedWith(docs, w)
      .select(col("doc_id"), col("v"),
        sqrt(aggregate(col("v"), lit(0L), (acc, x) => acc + x * x)
          .cast("double")).as("nrm"))
      .persistTracked()
    val ev = emb.filter(col("doc_id") < evalMax)
      .select(col("v").as("ev"), col("nrm").as("en"))
    emb.filter(col("doc_id") >= evalMax)
      .crossJoin(broadcast(ev))
      .filter(dotL(col("v"), col("ev")).cast("double") /
        (col("nrm") * col("en")) >= tau)
      .select(col("doc_id")).distinct()
  }

  /** The embedding table over the natural corpus, dimension-pinned by
    * one md5 fingerprint per row (BIGINT rendering is identical on
    * both engines, so the fp moves iff any of the 64 dims moves). */
  def docEmbed(s: SparkSession, d: String): DataFrame =
    embedOf(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_toks"),
        aggregate(col("v"), lit(0L), (acc, x) => acc + x * x).as("norm2"),
        md5(array_join(transform(col("v"), _.cast("string")), ",")).as("emb_fp"))

  /** Paraphrase rewrite: DELETE every 1-based token position ≡ 3
    * (mod 7) — the "cropped re-post" leak shape. Deletion (rather
    * than substitution by a NOVEL token) is deliberate: a novel token
    * appears in ~3 plant copies only, so IDF hands it near-maximal
    * weight and the plant's embedding mass is dominated by exactly
    * the tokens the eval twin lacks (measured: substitution twins
    * crater to cos ≈ 0.40 while deletion twins hold ≥ 0.938). The
    * shifted stream still breaks most 5-gram windows, which is why
    * the n-gram screen family underperforms on this shape. */
  private[analytics] def paraphrase(text: Column, mod: Int = 7, res: Int = 3): Column =
    array_join(filter(split(text, " "),
      (t, k) => (k + 1) % mod =!= res), " ")

  /** The planted corpus for the computed screen: train docs on the
    * [[PlantMod]] rotation carry a PARAPHRASE of their eval twin
    * (doc_id % EvalMax) instead of their own text — the same leak
    * class the supplied-vector plant marks, constructed in the raw
    * text lane instead. */
  private[graft] def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val ev = docs.filter(col("doc_id") < EvalMax)
      .select(col("doc_id").as("eid"), col("text").as("etext"))
    val isPlant = col("doc_id") >= EvalMax && col("doc_id") % PlantMod === PlantRes
    // fan out BEFORE the paraphrase projection: joins and projections
    // stay above the exchange, so without this the interpreted
    // filter/array_join HOF runs on the single parquet-split task
    // (measured 144 s cold at sf3 vs ~5 s fanned)
    docs.repartition(s.sparkContext.defaultParallelism)
      .join(broadcast(ev),
        when(isPlant, col("doc_id") % EvalMax).otherwise(lit(-1L)) === col("eid"),
        "left")
      .select(col("doc_id"),
        when(col("eid").isNotNull, paraphrase(col("etext")))
          .otherwise(col("text")).as("text"))
  }

  private def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** The flagged-doc list of the computed screen (nearest eval item
    * by cos desc / eval_id asc, emitted iff cos ≥ τ) — the
    * contaminationSemanticOf shape over BIGINT vectors (products stay
    * ≪ 2⁵³, so the double conversion is lossless on both engines).
    * Memoized per (session, corpus): the screen and the recall
    * receipt share one embedding pass (the flag set is bounded —
    * plant-class-sized — so the checkpoint is cheap). */
  private[graft] def computedFlags(s: SparkSession, d: String): DataFrame =
    flagsMemo.getOrElseUpdate((s, d),
      computedFlagsOnce(s, d).localCheckpoint(true))

  private val flagsMemo = new Caches.SessionMemo[DataFrame]

  private def computedFlagsOnce(s: SparkSession, d: String): DataFrame = {
    val emb = embedOf(plantedDocs(s, d))
      .select(col("doc_id"), col("v"),
        sqrt(aggregate(col("v"), lit(0L), (acc, x) => acc + x * x)
          .cast("double")).as("nrm"))
      .persistTracked()
    val eval = emb.filter(col("doc_id") < EvalMax)
      .select(col("doc_id").as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
    val scored = emb.filter(col("doc_id") >= EvalMax)
      .crossJoin(broadcast(eval))
      .withColumn("cos",
        dotL(col("v"), col("ev")).cast("double") / (col("nrm") * col("en")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cos").desc, col("eval_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("cos") >= TauComputed)
      .select(col("doc_id"), col("eval_id"), col("cos"))
  }

  def contaminationSemanticComputed(s: SparkSession, d: String): DataFrame =
    computedFlags(s, d)

  /** Recall receipt: the supplied-vector screen's flag set (the
    * [[CorpusBuild.vecsOf]] plant rotation — the SAME doc_id % 7 = 2
    * class this module plants in the raw-text lane) vs the
    * computed-text screen's — two independent detectors of one leak
    * set, vectors vs text. */
  def docEmbedRecall(s: SparkSession, d: String): DataFrame = {
    val supplied = CorpusBuild.semDropOf(s, d)
    val computed = computedFlags(s, d).select(col("doc_id"), lit(1).as("hit"))
    supplied.join(computed, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_supplied"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_both"))
      .crossJoin(computed.agg(count(lit(1)).as("n_computed")))
      .select(col("n_supplied"), col("n_computed"), col("n_both"),
        // n_supplied = 0 (a corpus without the plant rotation) reports
        // zero recall instead of dividing by zero (r15 advice)
        expr("CASE WHEN n_supplied = 0 THEN 0" +
          " ELSE n_both * 1000000 div n_supplied END").as("recall_ppm"))
  }

  /** The embedding-coverage expectation: per source, how many docs the
    * driver-supplied table covers vs the computed path (total by
    * construction). Closes the incremental build's "docs without an
    * embedding row pass the semantic gate un-scored" caveat: with the
    * computed edge in place, coverage is an invariant, not a hope. */
  def docEmbedCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val sup = embeddings(s, d).select(col("vec_id").as("doc_id"), lit(1).as("has"))
    docs.join(sup, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("has"), lit(0))).cast("long").as("n_supplied"))
      .select(col("source"), col("n_docs"), col("n_supplied"),
        expr("n_supplied * 1000000 div n_docs").as("supplied_ppm"),
        col("n_docs").as("n_computed"),
        lit(1000000L).as("computed_ppm"))
  }

  // ---------------------------------------------------------------
  // SemDeDup from RAW TEXT (r15 bonus): the production near-dup path
  // text -> computed embedding -> the ENGINE'S production cosine-LSH
  // (Dedup.dedupEmbeddingProdOf: corpus-derived band WIDTH -- 16 bits
  // at test SF, growing with log2 N so buckets stay selective at any
  // corpus -- corpus-derived hyperplanes, exact rerank at 0.95) ->
  // first-arrival keep. One production spelling, two vector sources:
  // the driver-supplied table (dedup_embedding) and now raw text.
  // Approximate by construction (banding can miss pairs); the recall
  // query MEASURES what the banding surfaces against an exact probe
  // audit, the dedup_embedding_recall contract.
  // ---------------------------------------------------------------

  /** Copy plants re-enter under id + CopyBase (the re-crawl), crop
    * plants under id + CropBase (every 12th token deleted from pages
    * of >= 40 tokens -- measured twin floor >= 0.966 at all three
    * local SFs, safely above the production 0.95 rerank gate; short
    * pages are excluded because deleting one high-IDF token from a
    * 10-token page moves the whole vector). Bases sit far above any
    * corpus id range -- at the 30x scaled corpus doc ids reach 150k,
    * which COLLIDED with the original 100k base (caught by the slope
    * audit: duplicate ids + a ballooned probe set). */
  private[graft] val DupCopyBase = 10000000L
  private[graft] val DupCropBase = 20000000L

  /** The planted dedup corpus: naturals + re-crawl copies (%31 = 4)
    * + cropped re-posts (%29 = 3, length-guarded). The plant id space
    * REQUIRES max natural id < [[DupCopyBase]] — the r15 slope audit
    * caught the 100k base colliding at the 30x corpus only by its
    * symptom (duplicate ids + a ballooned probe set), so the invariant
    * is now a loud 1-row check instead of a comment (r15 advice). */
  private[graft] def dupPlanted(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    require(mx < DupCopyBase,
      s"corpus max doc_id $mx reaches the plant base $DupCopyBase — " +
        "plant ids would collide with naturals and the % probe rule " +
        "would misclassify; raise DupCopyBase/DupCropBase")
    docs
      .unionByName(docs.filter(col("doc_id") % 31 === 4)
        .select((col("doc_id") + DupCopyBase).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 29 === 3 &&
          size(split(col("text"), " ")) >= 40)
        .select((col("doc_id") + DupCropBase).as("doc_id"),
          paraphrase(col("text"), 12, 5).as("text")))
  }

  /** Embedded corpus in the production dedup shape (vec_id, v DOUBLE,
    * nrm) -- BIGINT dims cast losslessly; memoized so the verdict and
    * the recall audit share one embed pass. */
  private[graft] def dupCoded(s: SparkSession, d: String): DataFrame =
    dupMemo.getOrElseUpdate((s, d), {
      embedOf(dupPlanted(s, d))
        .select(col("doc_id").as("vec_id"),
          transform(col("v"), _.cast("double")).as("v"))
        .withColumn("nrm", graft.functions.vec.l2norm(col("v")))
        .localCheckpoint(true)
    })

  private val dupMemo = new Caches.SessionMemo[DataFrame]

  /** The SemDeDup verdict over the planted corpus: per doc, the
    * smallest near-duplicate predecessor the production banding
    * surfaces (first-arrival -- the IncrementalBuild rule, so the
    * verdict composes incrementally) and the keep flag. */
  def dedupSemanticComputed(s: SparkSession, d: String): DataFrame = {
    val coded = dupCoded(s, d)
    val wit = Dedup.dedupEmbeddingProdOf(coded)
      .groupBy(col("vec_b").as("doc_id")).agg(min(col("vec_a")).as("dup_of"))
    coded.select(col("vec_id").as("doc_id"))
      .join(wit, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.cast("int").as("kept"))
  }

  /** Measured recall of the production banding against the exact
    * screen over a FIXED probe set (naturals 0-49 and their plant
    * twins -- the dedup_embedding_recall sampled-audit contract):
    * exact pairs = probe x corpus cosine >= 0.95 by broadcast scan;
    * found = the banded pipeline's pairs touching a probe. */
  def dedupSemanticComputedRecall(s: SparkSession, d: String): DataFrame = {
    val coded = dupCoded(s, d)
    val probes = coded.filter(col("vec_id") % DupCopyBase < 50)
      .select(col("vec_id").as("pa"), col("v").as("pv"), col("nrm").as("pn"))
    val exact = coded.crossJoin(broadcast(probes))
      .filter(col("pa") < col("vec_id"))
      .withColumn("cos",
        graft.functions.vec.dot(col("pv"), col("v")) / (col("pn") * col("nrm")))
      .filter(col("cos") >= Dedup.EmbProdThreshold)
      .select(col("pa").as("vec_a"), col("vec_id").as("vec_b"))
    val found = Dedup.dedupEmbeddingProdOf(coded)
      .filter(col("vec_a") % DupCopyBase < 50)
      .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
    exact.join(found, Seq("vec_a", "vec_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_found"))
      .select(col("n_exact"), col("n_found"),
        expr("n_found * 1000000 div n_exact").as("recall_ppm"))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle — buckets, IDF bits, every sign cell and the
  // projection re-derived from the md5 rules; the screen replays the
  // paraphrase plant and the nearest-eval ranking.
  // ---------------------------------------------------------------

  /** The embedding CTE chain over relation `rel(doc_id, text)` —
    * exposes ${p}emb(doc_id, v) and ${p}nt(doc_id, n_toks). */
  private def embedCtes(p: String, rel: String): String =
    s"""${p}bc AS MATERIALIZED (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 6))::BIGINT % $Buckets AS b,
            count(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM $rel)
          GROUP BY 1, 2),
        ${p}df AS (SELECT b, count(*) AS df FROM ${p}bc GROUP BY 1),
        ${p}nd AS (SELECT count(DISTINCT doc_id) AS nd FROM ${p}bc),
        ${p}w AS (
          SELECT b, CAST(length(bin(nd // df)) AS BIGINT) AS w
          FROM ${p}df CROSS JOIN ${p}nd),
        ${p}ed AS MATERIALIZED (
          SELECT doc_id, sgn.k, CAST(sum(x.cnt * x.w * sgn.s) AS BIGINT) AS e
          FROM (SELECT doc_id, ${p}bc.b, cnt, w
                FROM ${p}bc JOIN ${p}w USING (b)) x
          JOIN sgn ON sgn.b = x.b
          GROUP BY 1, 2),
        ${p}emb AS MATERIALIZED (
          SELECT doc_id, list(e ORDER BY k) AS v FROM ${p}ed GROUP BY 1),
        ${p}nt AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_toks
          FROM ${p}bc GROUP BY 1)"""

  /** The shared sign-matrix CTE (every cell from the md5 rule). */
  private[analytics] val sgnCte: String =
    s"""sgn AS MATERIALIZED (
          SELECT j.k AS k, i.b AS b,
            CASE WHEN substr(md5('rp-' || j.k || '-' || i.b), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
          FROM generate_series(0, ${Dims - 1}) j(k)
          CROSS JOIN generate_series(0, ${Buckets - 1}) i(b))"""

  /** Pinned-IDF artifact CTEs (the SQL twin of [[pinnedIdf]]): the
    * weight table `pinw(b, w)` trained on the natural documents
    * table's raw text. */
  private[analytics] val pinnedIdfCtes: String =
    s"""pwbc AS MATERIALIZED (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 6))::BIGINT % $Buckets AS b,
            count(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
          GROUP BY 1, 2),
        pinw AS MATERIALIZED (
          SELECT b, CAST(length(bin(nd // df)) AS BIGINT) AS w
          FROM (SELECT b, count(*) AS df FROM pwbc GROUP BY 1)
          CROSS JOIN (SELECT count(DISTINCT doc_id) AS nd FROM pwbc))"""

  /** Embedding chain UNDER THE PINNED ARTIFACT over rel(doc_id, text)
    * (the SQL twin of [[embedWith]] — inner join on pinw is the OOV
    * zero-weight rule): exposes ${p}emb(doc_id, v). Requires `sgn` +
    * `pinw` in scope. */
  private[analytics] def embedPinnedCtes(p: String, rel: String): String =
    s"""${p}bc AS MATERIALIZED (
          SELECT doc_id, ('0x' || substr(md5(t), 1, 6))::BIGINT % $Buckets AS b,
            count(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM $rel)
          GROUP BY 1, 2),
        ${p}ed AS MATERIALIZED (
          SELECT doc_id, sgn.k, CAST(sum(x.cnt * x.w * sgn.s) AS BIGINT) AS e
          FROM (SELECT doc_id, b, cnt, w FROM ${p}bc JOIN pinw USING (b)) x
          JOIN sgn ON sgn.b = x.b
          GROUP BY 1, 2),
        ${p}emb AS MATERIALIZED (
          SELECT doc_id, list(e ORDER BY k) AS v FROM ${p}ed GROUP BY 1)"""

  /** The computed semantic drop set over rel(doc_id, text) — the SQL
    * twin of [[semDropComputedOf]]: exposes `csemdrop(doc_id)`.
    * Requires sgn + pinw. */
  private[analytics] def semDropComputedCtes(rel: String, evalMax: Long,
      tau: Double): String =
    s"""${embedPinnedCtes("cs", rel)},
        csn AS MATERIALIZED (
          SELECT doc_id, v,
            sqrt(CAST(list_sum(list_transform(v, z -> z * z)) AS DOUBLE)) AS nrm
          FROM csemb),
        csev AS (SELECT v, nrm FROM csn WHERE doc_id < $evalMax),
        csemdrop AS MATERIALIZED (
          SELECT DISTINCT t.doc_id
          FROM (SELECT * FROM csn WHERE doc_id >= $evalMax) t
          CROSS JOIN csev e
          WHERE CAST(list_dot_product(t.v, e.v) AS DOUBLE) / (t.nrm * e.nrm)
            >= $tau)"""

  /** Paraphrase-planted corpus CTE: `pdoc(doc_id, text)`. */
  private val plantCte: String =
    s"""pdoc AS (
          SELECT d.doc_id,
            CASE WHEN d.doc_id >= $EvalMax AND d.doc_id % $PlantMod = $PlantRes
              THEN (SELECT array_to_string(list_filter(
                      string_split(e.text, ' '), (t, i) -> i % 7 <> 3), ' ')
                    FROM documents e WHERE e.doc_id = d.doc_id % $EvalMax)
              ELSE d.text END AS text
          FROM documents d)"""

  /** The computed screen's flag CTEs over the planted corpus —
    * exposes flags(doc_id, eval_id, cos). */
  private val screenCtes: String =
    s"""$plantCte,
        ${embedCtes("p", "pdoc")},
        pnrm AS (
          SELECT doc_id, v,
            sqrt(CAST(list_sum(list_transform(v, z -> z * z)) AS DOUBLE)) AS nrm
          FROM pemb),
        pcos AS (
          SELECT t.doc_id, e.doc_id AS eval_id,
            CAST(list_dot_product(t.v, e.v) AS DOUBLE) / (t.nrm * e.nrm) AS cos
          FROM (SELECT * FROM pnrm WHERE doc_id >= $EvalMax) t
          CROSS JOIN (SELECT * FROM pnrm WHERE doc_id < $EvalMax) e),
        flags AS (
          SELECT doc_id, eval_id, cos FROM (
            SELECT doc_id, eval_id, cos,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY cos DESC, eval_id) AS rk
            FROM pcos) z
          WHERE rk = 1 AND cos >= $TauComputed)"""

  /** SemDeDup CTE chain: planted corpus -> embeddings ("q" prefix) ->
    * the production derived-width banding chain
    * ([[Dedup.embProdChainFrom]] -- planes are the corpus's own rows
    * 100..100+bands*bits, naturals by construction since plant ids
    * sit at 10M+) ending in `prod_pairs(vec_a, vec_b, cos)`. */
  private def dupCtes: String =
    s"""ddoc AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + $DupCopyBase, text FROM documents
          WHERE doc_id % 31 = 4
          UNION ALL
          SELECT doc_id + $DupCropBase,
            array_to_string(list_filter(
              string_split(text, ' '), (t, i) -> i % 12 <> 5), ' ')
          FROM documents
          WHERE doc_id % 29 = 3 AND len(string_split(text, ' ')) >= 40),
        ${embedCtes("q", "ddoc")},
        qcd AS MATERIALIZED (
          SELECT doc_id AS vec_id,
            list_transform(v, z -> CAST(z AS DOUBLE)) AS v
          FROM qemb),
        ${Dedup.embProdChainFrom("qcd", "qcd")}"""

  val registry: Map[String, QueryDef] = Map(
    "dedup_semantic_computed" -> QueryDef(dedupSemanticComputed _,
      s"""WITH $sgnCte,
        $dupCtes,
        wit AS (SELECT vec_b AS doc_id, min(vec_a) AS dup_of
                FROM prod_pairs GROUP BY 1)
        SELECT c.vec_id AS doc_id, coalesce(w.dup_of, -1) AS dup_of,
          CAST(w.dup_of IS NULL AS INT) AS kept
        FROM qcd c LEFT JOIN wit w ON w.doc_id = c.vec_id"""),
    "dedup_semantic_computed_recall" -> QueryDef(dedupSemanticComputedRecall _,
      s"""WITH $sgnCte,
        $dupCtes,
        qprobe AS (SELECT vec_id AS pa, v AS pv, nrm AS pn FROM n2
                   WHERE vec_id % $DupCopyBase < 50),
        qexact AS (
          SELECT p.pa AS vec_a, c.vec_id AS vec_b
          FROM n2 c CROSS JOIN qprobe p
          WHERE p.pa < c.vec_id
            AND list_dot_product(p.pv, c.v) / (p.pn * c.nrm)
              >= ${Dedup.EmbProdThreshold}),
        qfound AS (
          SELECT vec_a, vec_b, 1 AS hit FROM prod_pairs
          WHERE vec_a % $DupCopyBase < 50)
        SELECT count(*) AS n_exact,
          CAST(sum(coalesce(f.hit, 0)) AS BIGINT) AS n_found,
          CAST(sum(coalesce(f.hit, 0)) * 1000000 // count(*) AS BIGINT)
            AS recall_ppm
        FROM qexact e LEFT JOIN qfound f USING (vec_a, vec_b)"""),
    "doc_embed" -> QueryDef(docEmbed _,
      s"""WITH $sgnCte,
        ${embedCtes("n", "documents")}
        SELECT doc_id, n_toks,
          CAST(list_sum(list_transform(v, z -> z * z)) AS BIGINT) AS norm2,
          md5(array_to_string(v, ',')) AS emb_fp
        FROM nemb JOIN nnt USING (doc_id)"""),
    "contamination_semantic_computed" -> QueryDef(contaminationSemanticComputed _,
      s"""WITH $sgnCte,
        $screenCtes
        SELECT doc_id, eval_id, cos FROM flags"""),
    "doc_embed_recall" -> QueryDef(docEmbedRecall _,
      s"""WITH $sgnCte,
        $screenCtes,
        ${CorpusBuild.vecCtes}
        SELECT
          (SELECT count(*) FROM semdrop) AS n_supplied,
          (SELECT count(*) FROM flags) AS n_computed,
          (SELECT count(*) FROM semdrop JOIN flags USING (doc_id)) AS n_both,
          CASE WHEN (SELECT count(*) FROM semdrop) = 0 THEN 0
            ELSE (SELECT count(*) FROM semdrop JOIN flags USING (doc_id))
              * 1000000 // (SELECT count(*) FROM semdrop) END AS recall_ppm"""),
    "doc_embed_coverage" -> QueryDef(docEmbedCoverage _,
      s"""SELECT d.source, count(*) AS n_docs,
          CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_supplied,
          CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // count(*) AS supplied_ppm,
          count(*) AS n_computed,
          CAST(1000000 AS BIGINT) AS computed_ppm
        FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        GROUP BY 1"""),
  )
}
