package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.GraftSession
import graft.Tables._
import graft.streaming.{Drain, Landing}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental (snapshot-delta) corpus build over the FULL
  * [[CorpusBuild]] v2 stage set — the production workflow the v2
  * pipeline does not model: a new crawl batch arrives monthly, and at
  * 100 TB you cannot re-gate the existing corpus — the batch must be
  * gated ALONE against the lake's persisted stage indexes, appending
  * survivors. The whole design hangs on one invariant, which this
  * module both constructs and PROVES in data:
  *
  *   incremental(old, delta)  ≡  from-scratch(old ∪ delta)
  *
  * on survivor ids. The invariant does not hold for arbitrary gate
  * stacks, so every set-dependent stage here is the FIRST-ARRIVAL
  * spelling of its v2 counterpart (crawl ids increase monotonically,
  * so "first" = min doc_id and an already-shipped document can never
  * be revoked):
  *
  *   1. eval_holdout        — per-doc predicate (doc_id ≥ HoldMax)
  *   2. unicode             — per-doc U+FFFD damage gate on the
  *                            repaired text ([[CorpusBuild]] stage 2)
  *   3. exact_vs_store      — v2's keep-min rule IS first-arrival: a
  *                            delta doc drops iff its repaired-text
  *                            fingerprint is in the lake's 16-byte fp
  *                            index; keep-first among genuinely new
  *                            fps (bloom-prescreenable at scale)
  *   4. neardup_vs_store    — the POLICY DELTA from v2: keep-best
  *                            cluster representatives let a better
  *                            late arrival displace a shipped doc and
  *                            cluster bridges merge old families, so
  *                            no incremental spelling exists for them.
  *                            The first-arrival rule shipped here is
  *                            the production one: a doc drops iff ANY
  *                            of its 4 MinHash band buckets is already
  *                            occupied by a SMALLER id (old docs
  *                            always out-rank the delta). The lake
  *                            persists its (band, bucket) index —
  *                            [[Dedup.minhashBandsOf]] rows, 32-byte
  *                            keys, never text
  *   5. paragraph_vs_store  — v2's boilerplate-share gate is ALREADY
  *                            first-arrival at the paragraph level
  *                            (an instance is "seen" iff a smaller
  *                            (doc·1000+idx) key exists): the lake
  *                            persists the paragraph-hash index, and
  *                            a delta instance is removed iff its hash
  *                            is in the store (old keys are always
  *                            smaller) or a smaller delta key owns it;
  *                            a doc with ≥ half removed drops
  *   6. gopher              — per-doc rule bundle
  *   7. license             — per-doc (the ck-keyed virtual grant
  *                            decoration; dup families match
  *                            identically)
  *   8. classifier          — the SNAPSHOT-PINNED averaged-perceptron
  *                            model: both directions score under the
  *                            same trained weights (retraining per
  *                            delta would silently reshuffle old
  *                            verdicts — the model is a versioned
  *                            release input)
  *   9. contamination       — per-doc vs the PINNED eval 5-gram set
  *  10. semantic            — per-doc vs the PINNED eval embeddings
  *                            ([[CorpusBuild.vecsOf]]'s screen)
  *
  * Stages 1–2 and 6–10 are per-document predicates, so their old
  * verdicts are trivially immutable; stages 3–5 depend only on
  * SMALLER-id documents' immutable state (fingerprints, band buckets,
  * paragraph keys), which is exactly the induction that makes the
  * equivalence a theorem rather than a hope — and the receipt query
  * pins it in data anyway, with the DuckDB oracle re-deriving BOTH
  * directions from scratch.
  *
  * Plants (every store gate provably fires on the delta):
  * re-crawled old pages re-enter under id + [[CopyBase]] (caught by
  * the fp store), self-concatenated remixes under id + [[RemixBase]]
  * (new fp, same shingle profile — caught by the band store),
  * snippet pages of an old doc's first [[SnipTok]] tokens under
  * id + [[FrankenBase]] (new fp, too few shared shingles for the band
  * store — but every content paragraph is old-owned, caught by the
  * paragraph store), and re-crawled EVAL pages under id +
  * [[EvCopyBase]] (their twins were held out before any store was
  * built, so they sail through dedup and die at contamination —
  * exactly the leak decontamination exists for).
  *
  * Declared queries:
  *   - `corpus_build_incremental` — the 10-row delta ledger (what the
  *     monthly batch run reports)
  *   - `corpus_incr_equiv` — the equivalence receipt: old survivors,
  *     appended delta survivors, incremental union, from-scratch
  *     union, and both set differences (oracle-pinned to ZERO)
  *   - `corpus_diff` — the release-over-release delta report: per
  *     source, docs unchanged / added, and every rejected delta doc
  *     attributed to the stage that dropped it (the datasheet's delta
  *     twin; old-release removals are structurally impossible under
  *     first-arrival rules, so only inflow attribution appears)
  *
  * Scale shape: the delta batch never joins document text against the
  * corpus — the fp store is a hashed-key anti-join, the band store
  * joins 32-byte bucket keys, the paragraph store 32-byte hashes;
  * gates 6–10 are scan-side folds against broadcast-bounded eval
  * artifacts. Re-gating cost is O(delta), not O(corpus). The global
  * semantic screen here scores all corpus vectors once because three
  * stack replays share it; a production delta run would screen only
  * delta survivors (the per-doc rule is population-independent either
  * way). All three runs are [[CorpusBuild]]'s one stage stack: the
  * old and from-scratch runs pass the first-arrival stage 4, the delta
  * run its store-relative stages 3–5; every stage set follows that
  * stack's sever rule, and the runs memoize per (session, corpus).
  */
object IncrementalBuild {

  /** Existing-corpus snapshot boundary: doc_id < SnapMax is the
    * already-ingested lake, the rest is the arriving batch. */
  private[graft] val SnapMax = 400L

  /** Held-out eval slice bound (CorpusBuild.EvalMax). */
  private[graft] val HoldMax = CorpusBuild.EvalMax

  /** Re-crawled old pages re-enter the delta under id + CopyBase. */
  private[graft] val CopyBase = 10000L

  /** Remix plants (text = page ∥ page) enter under id + RemixBase. */
  private[graft] val RemixBase = 20000L

  /** Snippet plants (first [[SnipTok]] tokens of an old page) enter
    * under id + FrankenBase. */
  private[graft] val FrankenBase = 30000L

  /** Re-crawled EVAL pages enter the delta under id + EvCopyBase. */
  private[graft] val EvCopyBase = 40000L

  /** Paraphrased EVAL pages (the [[ReleaseComputed]] deletion-mod-5
    * crop — zero shared 5-grams with the twin) enter the delta under
    * id + ParaBase (10M+, the r15 collision lesson). This is the leak
    * class the SUPPLIED-vector semantic stage provably cannot catch:
    * the plant's id is past the natural range so it carries no
    * embedding row and ships through all ten v2 stages — which is
    * exactly what `corpus_incr_equiv_computed` demonstrates, and what
    * its computed stage 10 then stops. */
  private[graft] val ParaBase = 60000000L

  /** Snippet length: two full 10-token paragraphs — every content
    * paragraph old-owned, but only ~16 of the source page's shingles
    * shared, far too few to light a MinHash band. */
  private[graft] val SnipTok = 20

  /** The planted corpus (pre-decoration): naturals + the four
    * delta-side plant arms. Decoration/repair is
    * [[CorpusBuild.decorate]] — one definition, so both builds see
    * byte-identical repaired text for the same page. */
  private[graft] def planted(docs: DataFrame): DataFrame = {
    val cols = Seq("doc_id", "source", "lang", "text").map(col)
    val old = col("doc_id") >= HoldMax && col("doc_id") < SnapMax
    docs.select(cols: _*)
      .unionByName(docs.filter(old && col("doc_id") % 37 === 5)
        .select((col("doc_id") + CopyBase).as("doc_id"), col("source"),
          col("lang"), col("text")))
      .unionByName(docs.filter(old && col("doc_id") % 53 === 30)
        .select((col("doc_id") + RemixBase).as("doc_id"), col("source"),
          col("lang"), concat(col("text"), lit(" "), col("text")).as("text")))
      .unionByName(docs.filter(old && col("doc_id") % 41 === 7 &&
          size(split(col("text"), " ")) >= SnipTok)
        .select((col("doc_id") + FrankenBase).as("doc_id"), col("source"),
          col("lang"),
          array_join(slice(split(col("text"), " "), 1, SnipTok), " ").as("text")))
      .unionByName(docs.filter(col("doc_id") < HoldMax && col("doc_id") % 2 === 1)
        .select((col("doc_id") + EvCopyBase).as("doc_id"), col("source"),
          col("lang"), col("text")))
      .unionByName(docs.filter(col("doc_id") < HoldMax)
        .select((col("doc_id") + ParaBase).as("doc_id"), col("source"),
          col("lang"),
          DocEmbed.paraphrase(col("text"), ReleaseComputed.ParaMod,
            ReleaseComputed.ParaRes).as("text")))
  }

  /** Per-doc screens shared by all three stack replays: the pinned
    * classifier weights, the eval 5-gram set, and the global semantic
    * screen's verdict set. */
  private[graft] final case class Gates(wsum: Array[Long], evsh: DataFrame,
      semDrop: DataFrame) {
    /** The stage-10 screen: the global verdict set, whatever the slice. */
    def semOf: (DataFrame, DataFrame) => DataFrame = (_, _) => semDrop
  }

  /** The first-arrival stage-4 rule over the post-exact slice: a doc
    * drops iff any of its MinHash band buckets is occupied by a smaller
    * id. */
  private def firstArrivalLosers(s3: DataFrame): DataFrame = {
    val bands = Dedup.minhashBandsOf(CorpusBuild.shinglesOf(s3)).persistTracked()
    val bmin = bands.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("mn"))
    bands.join(bmin, Seq("band", "bucket"))
      .filter(col("mn") < col("doc_id")).select(col("doc_id")).distinct()
  }

  /** The FROM-SCRATCH first-arrival stack over an arbitrary slice:
    * [[CorpusBuild.stageSets]] with the first-arrival stage 4. */
  private def scratchStack(base: DataFrame, pop: DataFrame, g: Gates): Seq[DataFrame] =
    CorpusBuild.stageSets(base, pop, firstArrivalLosers, g.wsum, g.evsh, g.semOf)

  /** The lake's three persisted stage indexes — hashed keys only,
    * never text. fp: 16-byte repaired-text fingerprints (post-unicode
    * slice); band: 32-byte MinHash (band, bucket) keys (post-exact
    * slice); para: paragraph hashes (post-neardup slice). */
  private[graft] final case class Stores(fp: DataFrame, band: DataFrame,
    para: DataFrame)

  /** Derive the stores from a gated population's stage slices — used
    * for the old snapshot AND for each streamed micro-batch's
    * incremental store update (same slices, same keys). */
  private def storesFrom(base: DataFrame, sets: Seq[DataFrame]): Stores = {
    def slice(ids: DataFrame) = base.join(ids, Seq("doc_id"), "left_semi")
    Stores(
      slice(sets(2)).select(md5(col("ftext")).as("fp")).distinct(),
      Dedup.minhashBandsOf(CorpusBuild.shinglesOf(slice(sets(3))))
        .select(col("band"), col("bucket")).distinct(),
      slice(sets(4))
        .select(explode(Chunking.paraArrayOf(col("ftext"), col("ck"))).as("para"))
        .select(md5(col("para")).as("h")).distinct())
  }

  /** The old snapshot's three store indexes, SEVERED and memoized per
    * (session, corpus) — the lake's persisted artifact. Before r16 the
    * streamed ingest re-derived them (a full shingle/minhash +
    * paragraph pass over the old slices) on EVERY invocation on top of
    * the derivation the delta path already ran; they are id/hash-only
    * bounded-width frames, exactly what the memo discipline holds. */
  private def oldStores(s: SparkSession, d: String, base: DataFrame,
      oldSets: Seq[DataFrame]): Stores =
    storesMemo.getOrElseUpdate((s, d), {
      val raw = storesFrom(base, oldSets)
      Stores(raw.fp.localCheckpoint(true), raw.band.localCheckpoint(true),
        raw.para.localCheckpoint(true))
    })

  private val storesMemo = new Caches.SessionMemo[Stores]

  /** The INCREMENTAL delta path: gate the batch against the lake's
    * persisted indexes only. `oldSets` is the old run's stage sets —
    * its post-unicode / post-exact / post-neardup slices feed the
    * three stores. */
  private def deltaStack(s: SparkSession, d: String, base: DataFrame,
      oldSets: Seq[DataFrame], g: Gates): Seq[DataFrame] =
    deltaStackAgainst(base, oldStores(s, d, base, oldSets),
      base.filter(col("doc_id") >= SnapMax), g)

  /** The delta gating against an ARBITRARY store state — the seam the
    * streaming ingest rides: each micro-batch is gated against the
    * stores as of its arrival (old snapshot + every earlier batch's
    * update), which is id-order-equivalent to the one-shot batch rules
    * because crawl ids increase monotonically across batches (see
    * [[streamIncrementalIngest]]'s induction note). */
  private def deltaStackAgainst(base: DataFrame, stores: Stores,
      pop: DataFrame, g: Gates): Seq[DataFrame] = {
    def slice(ids: DataFrame) = base.join(ids, Seq("doc_id"), "left_semi")
    val head = CorpusBuild.headIds(base, pop)
    // exact vs store, then keep-first among genuinely new fps
    val ids3 = slice(head(2)).select(col("doc_id"), md5(col("ftext")).as("fp"))
      .join(stores.fp, Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).localCheckpoint(true)
    // neardup vs the band store, then first-arrival within the batch
    val dB = Dedup.minhashBandsOf(CorpusBuild.shinglesOf(slice(ids3)))
      .persistTracked()
    val dMin = dB.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("mn"))
    val storeHit = dB.join(stores.band, Seq("band", "bucket"), "left_semi")
      .select(col("doc_id"))
    val localHit = dB.join(dMin, Seq("band", "bucket"))
      .filter(col("mn") < col("doc_id")).select(col("doc_id"))
    val ids4 = ids3.join(storeHit.unionByName(localHit).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint(true)
    // paragraph vs the hash store (old keys are always smaller), then
    // first-arrival within the batch
    val (pa, ph) = CorpusBuild.paragraphsOf(base, ids4)
    val dg = ph.groupBy(col("h"))
      .agg(min(col("doc_id") * 1000 + col("idx")).as("dmin"))
    // an instance is removed iff its hash is in the store OR a smaller
    // key in THIS batch owns it. Spelled as a semi-join union rather
    // than a left join + null test (r16): the semi-join is DUP-SAFE in
    // the store side, which lets the streamed ingest accumulate its
    // store as a plain union of per-batch increments instead of
    // re-distinct-ing (one full store shuffle) every micro-batch.
    // (doc_id, idx) is unique in ph, so the distinct union of the two
    // condition sets counts exactly the rows the left-join counted.
    val inStore = ph.join(stores.para, Seq("h"), "left_semi")
      .select(col("doc_id"), col("idx"))
    val lateLocal = ph.join(dg, Seq("h"))
      .filter(col("doc_id") * 1000 + col("idx") > col("dmin"))
      .select(col("doc_id"), col("idx"))
    val removed = inStore.unionByName(lateLocal).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    val ids5 = CorpusBuild.paraKeepIds(pa, removed)
    head ++ Seq(ids3, ids4, ids5) ++
      CorpusBuild.tailIds(base, ids5, g.wsum, g.evsh, g.semOf)
  }

  private[graft] final case class IncrState(base: DataFrame,
    oldSets: Seq[DataFrame], deltaSets: Seq[DataFrame],
    scratchSets: Seq[DataFrame], gates: Gates)

  private val baseMemo = new Caches.SessionMemo[(DataFrame, Gates)]
  private val oldMemo = new Caches.SessionMemo[Seq[DataFrame]]
  private val deltaMemo = new Caches.SessionMemo[Seq[DataFrame]]
  private val scratchMemo = new Caches.SessionMemo[Seq[DataFrame]]

  private val m10Memo =
    new Caches.SessionMemo[(DataFrame, DataFrame, DataFrame)]

  /** Decorated base + the pinned per-doc gates — the artifact every
    * family member starts from. Memoized SEPARATELY from the three
    * stacks (r17, the memo-purged-bench consequence of the r16
    * verdict's item 2): with Bench re-deriving memos per timed query,
    * a monolithic build() charged every query the cost of ALL THREE
    * stack replays; split memos let each query derive only the stacks
    * it actually reads (the streamed ingest needs base + gates +
    * oldSets only — the delta and scratch replays are other queries'
    * artifacts). */
  private[graft] def baseGates(s: SparkSession, d: String): (DataFrame, Gates) =
    baseMemo.getOrElseUpdate((s, d), {
      val base = CorpusBuild.decorate(planted(documents(s, d)))
        .localCheckpoint(true)
      val wsum = Curation.trainQualityWeights(s, d)._2
      val evsh = CorpusBuild.evalShinglesOf(base).localCheckpoint(true)
      val semDrop = CorpusBuild.semDropOf(s, d).localCheckpoint(true)
      (base, Gates(wsum, evsh, semDrop))
    })

  /** The old snapshot's from-scratch stack (its post-unicode / exact /
    * neardup slices feed the three stores). */
  private[graft] def oldSetsOf(s: SparkSession, d: String): Seq[DataFrame] =
    oldMemo.getOrElseUpdate((s, d), {
      val (base, g) = baseGates(s, d)
      scratchStack(base, base.filter(col("doc_id") < SnapMax), g)
    })

  /** The incremental delta gating against the lake's stores. */
  private[graft] def deltaSetsOf(s: SparkSession, d: String): Seq[DataFrame] =
    deltaMemo.getOrElseUpdate((s, d), {
      val (base, g) = baseGates(s, d)
      deltaStack(s, d, base, oldSetsOf(s, d), g)
    })

  /** The from-scratch union stack — the equivalence receipts' other
    * side. */
  private[graft] def scratchSetsOf(s: SparkSession, d: String): Seq[DataFrame] =
    scratchMemo.getOrElseUpdate((s, d), {
      val (base, g) = baseGates(s, d)
      scratchStack(base, base, g)
    })

  /** Three materialized runs per (session, corpus): the old snapshot's
    * stack, the incremental delta gating, and the from-scratch union —
    * the two sides of the invariant plus the artifact they share. Only
    * the receipts that read all three (corpus_incr_equiv{,_computed})
    * should call this; everything else uses the finer accessors. */
  private[graft] def build(s: SparkSession, d: String): IncrState = {
    val (base, g) = baseGates(s, d)
    IncrState(base, oldSetsOf(s, d), deltaSetsOf(s, d), scratchSetsOf(s, d), g)
  }

  private[graft] val StageNames = Seq("eval_holdout", "unicode",
    "exact_vs_store", "neardup_vs_store", "paragraph_vs_store",
    "gopher", "license", "classifier", "contamination", "semantic")

  /** The monthly batch report: the delta-only 10-row drop ledger. */
  def corpusBuildIncremental(s: SparkSession, d: String): DataFrame =
    CorpusBuild.ledgerOf(deltaSetsOf(s, d), StageNames)

  /** The equivalence receipt: incremental(old, delta) vs
    * from-scratch(old ∪ delta), with both set differences as data —
    * the oracle re-derives BOTH directions and pins them to zero. */
  def corpusIncrEquiv(s: SparkSession, d: String): DataFrame = {
    val st = build(s, d)
    val incr = st.oldSets.last.unionByName(st.deltaSets.last)
    val scratch = st.scratchSets.last
    st.oldSets.last.agg(count(lit(1)).as("n_old_surv"))
      .crossJoin(st.deltaSets.last.agg(count(lit(1)).as("n_appended")))
      .crossJoin(incr.agg(count(lit(1)).as("n_incremental")))
      .crossJoin(scratch.agg(count(lit(1)).as("n_scratch")))
      .crossJoin(incr.join(scratch, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_only_incremental")))
      .crossJoin(scratch.join(incr, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_only_scratch")))
  }

  /** Release-over-release diff: per source, the docs carried over
    * unchanged, the delta docs added, and every rejected delta doc
    * attributed to exactly one drop stage. Under first-arrival rules
    * an old-release doc can never be removed (the immutability half
    * of the invariant), so the report is complete with inflow rows
    * only — the id-set anti-joins are the whole derivation. */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    // needs base + the old/delta stacks only — not the from-scratch
    // replay (r17 split-memo point)
    val (base, _) = baseGates(s, d)
    val oldSets = oldSetsOf(s, d)
    val deltaSets = deltaSetsOf(s, d)
    val tagged = (
      Seq((oldSets.last, "unchanged"), (deltaSets.last, "added")) ++
      StageNames.zipWithIndex.map { case (name, i) =>
        (deltaSets(i).join(deltaSets(i + 1), Seq("doc_id"), "left_anti"),
          s"removed@$name")
      })
      .map { case (ids, status) =>
        ids.select(col("doc_id"), lit(status).as("status")) }
      .reduce(_ unionByName _)
    tagged.join(base.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** The equivalence receipt FOR THE COMPUTED EDGE (r16 — the r15
    * verdict's top item): replace stage 10 of all three stacks with
    * the computed-embedding screen under the PINNED IDF artifact
    * ([[DocEmbed.pinnedIdf]] + the fixed sign rule) and prove
    * incremental ≡ from-scratch still holds. The theorem needs the
    * artifact pinning: were the IDF weights trained per frame, a delta
    * arrival would change df and silently move OLD docs' vectors —
    * with pinned weights the screen is per-document, so stage-9
    * equivalence (the r15 receipt) carries through. `n_sem_dropped`
    * counts the stage-9 survivors the computed screen stops — the
    * [[ParaBase]] paraphrase plants SHIP under the supplied-vector
    * stage 10 (no embedding rows for their ids) and die here, which is
    * the whole point of computing the edge. */
  def corpusIncrEquivComputed(s: SparkSession, d: String): DataFrame = {
    val st = build(s, d)
    // the computed verdict set AND the three stage-10 sets it gates
    // are once-per-corpus artifacts (one embed map pass under the
    // pinned weights + three id-set anti-joins), materialized in the
    // memo like the stage stacks themselves. Severing the m10 sets —
    // not just cDrop — matters twice at the receipt plan: (a) each
    // receipt branch re-executed its m10 anti-join per REFERENCE
    // (old10 alone is read by four branches), and (b) a localCheckpoint
    // carries its ORIGIN plan's estimated stats, and cDrop's embed
    // chain estimates ~22 GiB for a tiny id set, so every m10 spelled
    // in-plan planned as a SortMergeJoin (2 corpus-keyed exchanges
    // each) instead of the broadcast anti-join the data warrants.
    val (old10, delta10, scratch10) = m10Memo.getOrElseUpdate((s, d), {
      val cDrop = DocEmbed.semDropComputedOf(
        st.base.select(col("doc_id"), col("ftext").as("text")),
        DocEmbed.pinnedIdf(s, d), HoldMax, ReleaseComputed.TauRelease)
        .localCheckpoint(true)
      def m10(ids: DataFrame) =
        ids.join(cDrop, Seq("doc_id"), "left_anti").localCheckpoint(true)
      (m10(st.oldSets(9)), m10(st.deltaSets(9)), m10(st.scratchSets(9)))
    })
    val incr = old10.unionByName(delta10)
    old10.agg(count(lit(1)).as("n_old_surv"))
      .crossJoin(delta10.agg(count(lit(1)).as("n_appended")))
      .crossJoin(incr.agg(count(lit(1)).as("n_incremental")))
      .crossJoin(scratch10.agg(count(lit(1)).as("n_scratch")))
      .crossJoin(incr.join(scratch10, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_only_incremental")))
      .crossJoin(scratch10.join(incr, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_only_scratch")))
      // |scratch9 ∩ cDrop| = |scratch9| − |scratch9 ∖ cDrop|: ids are
      // unique per stack, so the semi-join count is plain count
      // arithmetic over two already-severed sets — no join at all
      .crossJoin(st.scratchSets(9).agg(count(lit(1)).as("n9"))
        .crossJoin(scratch10.agg(count(lit(1)).as("n10")))
        .select((col("n9") - col("n10")).as("n_sem_dropped")))
  }

  /** The monthly RE-SHIP receipt (r15 bonus): export the trainer
    * shards of the OLD release and the INCREMENTAL release through
    * the one release tail + shard pseudo-shuffle
    * ([[CorpusBuild.releaseDocsOf]]/[[CorpusBuild.shardExportOf]])
    * and diff them per shard. Under first-arrival rules the delta
    * only APPENDS per-source pack streams (delta ids exceed all old
    * ids), so the only fingerprints that may move are shards holding
    * a source's TAIL pack (it can gain members) or a brand-new pack —
    * the append-locality contract a trainer's resume cursor relies
    * on, here measured on the real monthly workflow rather than a
    * synthetic append. */
  def shardExportIncremental(s: SparkSession, d: String): DataFrame = {
    // needs base + the old/delta survivor sets only (r17 split-memo)
    val (base, _) = baseGates(s, d)
    val oldLast = oldSetsOf(s, d).last
    val deltaLast = deltaSetsOf(s, d).last
    def export(ids: DataFrame) = CorpusBuild.shardExportOf(
      CorpusBuild.releaseDocsOf(
        base.join(ids, Seq("doc_id"), "left_semi")))
      .filter(col("shard_id") >= 0)
    val o = export(oldLast)
    val n = export(oldLast.unionByName(deltaLast))
    o.select(col("shard_id"), col("n_packs").as("n_packs_old"),
        col("shard_fp").as("fp_old"))
      .join(n.select(col("shard_id"), col("n_packs").as("n_packs_new"),
        col("shard_fp").as("fp_new")), Seq("shard_id"), "full")
      .select(col("shard_id"),
        coalesce(col("n_packs_old"), lit(0L)).as("n_packs_old"),
        coalesce(col("n_packs_new"), lit(0L)).as("n_packs_new"),
        (!(col("fp_old") <=> col("fp_new"))).cast("int").as("changed"))
  }

  /** Two-level ordered id fold (64 bucket folds, then the ordered fold
    * of folds) — the receipt fingerprint of an id SET with no
    * aggregation buffer ever holding more than a bounded slice (the
    * shard_export discipline applied to receipts). md5('') for the
    * empty set on both engines. */
  private[graft] def idFoldDf(ids: DataFrame): DataFrame =
    ids.groupBy((col("doc_id") % 64).as("g"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")))).as("gfp"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("g"), col("gfp")))),
          x => x.getField("gfp")))).as("fp"))

  /** STREAMED monthly ingest (r16 — r15 verdict item 2): the delta
    * arrives through a REAL StreamingQuery instead of a static split —
    * three id-ordered monthly files plus a full REPLAY of the first
    * (the at-least-once bus failure), streamed one file per
    * micro-batch; a foreachBatch sink decorates each batch, gates it
    * against the lake's CURRENT stores (old snapshot + every earlier
    * batch's update), appends the survivors exactly-once, and folds
    * the batch's store update back in (id/hash-only frames,
    * re-checkpointed per batch — O(Σdelta) state, never text).
    *
    * Correctness induction (why streamed ≡ one-shot batch): crawl ids
    * increase monotonically across batches, so "a smaller id owns this
    * fp/band/paragraph key" is exactly "an earlier batch (or the old
    * snapshot, or a smaller id in MY batch) owns it" — each store gate
    * against accumulated stores reproduces the one-shot min-id rule,
    * and every other stage is per-document under pinned artifacts.
    * The receipt pins it in data: per-batch arrival/append counts with
    * a two-level id fold per batch, a replay row that MUST append
    * nothing (its post-unicode fingerprints are all in the store —
    * effectively-exactly-once from at-least-once delivery, the
    * stream_dedup contract at the release tier), and a final row whose
    * fold the oracle re-derives from the BATCH path (x10) — the
    * streamed and batch spellings must agree id-for-id. */
  def streamIncrementalIngest(s: SparkSession, d: String): DataFrame = {
    // the streamed ingest reads base + gates + the OLD stack's stores
    // only — under the memo-purged bench the old monolithic build()
    // charged it two stack replays (delta, scratch) it never read
    // (r17 split-memo point)
    val (stBase, stGates) = baseGates(s, d)
    val stOldSets = oldSetsOf(s, d)
    // land the three monthly batches and the replay of the first
    // (a unioned duplicate) as four time-ordered files, one per
    // micro-batch, in ONE write job (r16). coalesce(1): one task writes
    // exactly one file per batch (a few thousand rows).
    val raw = planted(documents(s, d)).filter(col("doc_id") >= SnapMax)
    val batchCol = when(col("doc_id") < CopyBase, 0)
      .when(col("doc_id") < FrankenBase, 1).otherwise(2)
    val src = Landing.land(
      raw.withColumn("b", batchCol).unionByName(
        raw.filter(col("doc_id") < CopyBase).withColumn("b", lit(3)))
        .coalesce(1),
      "b", filesPerBatch = 1, "stream_incr")

    // the lake's mutable state: the three stores + the appended id
    // set, re-severed per batch. The INITIAL stores are the memoized
    // severed artifact (r16) — re-deriving them here cost a full
    // shingle/minhash + paragraph pass over the old snapshot per
    // invocation.
    val st0 = oldStores(s, d, stBase, stOldSets)
    var fpS = st0.fp
    var bandS = st0.band
    var paraS = st0.para
    var appended = s.range(0).select(col("id").as("doc_id")).localCheckpoint(true)
    val ledger = scala.collection.mutable.ListBuffer[(Long, Long, Long, String)]()

    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ONE action answers both "is it empty" and "how many rows"
        // (the fan-out input) — isEmpty was its own job
        val nArrived = batch.count()
        if (nArrived > 0) {
          // batch-sized shuffle parallelism for the gate chain's many
          // small joins/rollups (r17, the graph-loop precedent): the
          // session's full-corpus setting ran every per-batch shuffle as
          // 32 near-empty tasks; scoped by withConf, so only this
          // batch's jobs are affected. At a production batch size the
          // same rule derives full parallelism.
          val bp = Sizing.batchDocPartitions(nArrived,
            s.sparkContext.defaultParallelism)
          GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> bp.toString) {
            // fan the micro-batch out before decorating: a one-file
            // trigger arrives as a SINGLE partition, and severing it
            // as-is would run every downstream text stage (shingles,
            // paragraphs, gopher, classifier) on one task (the r14
            // single-split serialization class). Fan-out is SIZED TO THE
            // BATCH (r17, Sizing.batchDocPartitions — the one-partition
            // count is a single-split scan, ~free): the r16
            // defaultParallelism pin made every per-batch job 32
            // near-empty tasks at test SF, the dominant share of the
            // ~20-short-jobs-per-batch chain the r16 verdict flagged
            val b = CorpusBuild.decorateAt(batch, bp).localCheckpoint(true)
            val sets = deltaStackAgainst(b, Stores(fpS, bandS, paraS), b, stGates)
            val appendedB = sets.last
            // store accumulation (r16): sever the batch-sized INCREMENTS
            // and accumulate by plain union of the severed leaves — the
            // old spelling re-distinct-ed and re-checkpointed the whole
            // accumulated store every micro-batch (O(store) per batch).
            // All three gates are dup-safe by construction (fp: anti-
            // join; band: semi-join; paragraph: the semi-join-union
            // spelling above), so cross-batch duplicate keys are
            // harmless, and a 4-level union of checkpointed leaves stays
            // a flat plan.
            val upd = storesFrom(b, sets)
            // the three increment materializations are independent —
            // sever them concurrently so the batch's tail fills the
            // cores one job's stragglers leave idle (guide §2.6)
            val Seq(fpU, bandU, paraU) = Seq(upd.fp, upd.band, upd.para)
              .map(df => scala.concurrent.Future(df.localCheckpoint(true))(
                scala.concurrent.ExecutionContext.global))
              .map(f => scala.concurrent.Await.result(f,
                scala.concurrent.duration.Duration.Inf))
            fpS = fpS.unionByName(fpU)
            bandS = bandS.unionByName(bandU)
            paraS = paraS.unionByName(paraU)
            appended = appended.unionByName(appendedB)
            // ONE ledger job: appended count + the id fold crossJoined.
            // n_arrived is the count already taken for the fan-out
            // (decorate is a pure projection — row-preserving), so the
            // r16 b.agg leg re-scanned the batch for a number the driver
            // already held
            val row = appendedB.agg(count(lit(1)).as("nb"))
              .crossJoin(idFoldDf(appendedB)).head
            ledger += ((batchId, nArrived, row.getLong(0),
              row.getString(1)))
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", graft.Tables.tempOutDir("stream_incr_ckpt"))
      .start()
    Drain(q, "stream_incremental_ingest")

    val ledgerDf = s.createDataFrame(ledger.toSeq)
      .toDF("batch_id", "n_arrived", "n_appended", "append_fp")
    val finalRow = idFoldDf(appended)
      .select(lit(-1L).as("batch_id"),
        lit(ledger.map(_._2).sum).as("n_arrived"),
        lit(ledger.map(_._3).sum).as("n_appended"),
        col("fp").as("append_fp"))
    ledgerDf.unionByName(finalRow)
  }


  // ---------------------------------------------------------------
  // DuckDB oracle: plants, the old stack, the union stack, and the
  // incremental delta path ALL re-derived — a hash match proves the
  // two directions agree under an independent engine, not merely that
  // Spark agrees with itself. Every stage reuses the owning operator's
  // SQL generator (decoration/fold, shingles, minhash bands,
  // paragraph synthesis, gopher, license, classifier, the planted
  // vectors) — one SQL spelling per operator across the board.
  // ---------------------------------------------------------------

  /** Stages 6–10 for prefix `p` (shared by the two from-scratch stacks
    * and the delta path — the per-document tail is identical). */
  private def tailCtes(p: String): String = {
    val cls = Curation
      .classifierScoreSqlFrom(s"(SELECT doc_id, ftext AS text FROM ${p}7)")
      .trim.stripPrefix(",")
    s"""${p}gm AS MATERIALIZED (
          ${TextAnalysis.gopherSqlFrom(s"(SELECT doc_id, ftext AS text FROM ${p}5)")}),
        ${p}6 AS MATERIALIZED (
          SELECT ${p}5.* FROM ${p}5 JOIN ${p}gm USING (doc_id)
          WHERE ${p}gm.gopher_keep = 1),
        ${p}lc AS (SELECT doc_id, ${CorpusBuild.licDecSql} AS t FROM ${p}6),
        ${p}7 AS MATERIALIZED (
          SELECT ${p}6.* FROM ${p}6 JOIN ${p}lc USING (doc_id)
          WHERE NOT ${License.restrictiveSqlOn(s"${p}lc.t")}),
        ${p}cm AS MATERIALIZED (WITH $cls),
        ${p}8 AS MATERIALIZED (
          SELECT ${p}7.* FROM ${p}7 JOIN ${p}cm USING (doc_id)
          WHERE ${p}cm.margin > 0),
        ${p}sh8 AS (${Dedup.shingleSqlFrom(s"${p}8", "ftext")}),
        ${p}9 AS MATERIALIZED (
          SELECT * FROM ${p}8 WHERE doc_id NOT IN (
            SELECT DISTINCT doc_id FROM ${p}sh8 JOIN evsh USING (shingle))),
        ${p}10 AS MATERIALIZED (
          SELECT * FROM ${p}9
          WHERE doc_id NOT IN (SELECT doc_id FROM semdrop))"""
  }

  /** One from-scratch first-arrival stack over slice predicate `pred`,
    * CTE-prefixed with `p`. Exposes ${p}1..${p}10 (+ ${p}bands,
    * ${p}g for the delta path's stores). */
  private def stackCtes(p: String, pred: String): String =
    s"""${p}1 AS MATERIALIZED (
          SELECT * FROM ifx WHERE ($pred) AND doc_id >= $HoldMax),
        ${p}2 AS MATERIALIZED (
          SELECT * FROM ${p}1
          WHERE (length(ftext) - length(replace(ftext, chr(65533), '')))
            * 1000 <= length(ftext)),
        ${p}3 AS MATERIALIZED (
          SELECT ${p}2.* FROM ${p}2 JOIN (
            SELECT min(doc_id) AS doc_id FROM ${p}2 GROUP BY md5(ftext)) z
          USING (doc_id)),
        ${p}sh AS MATERIALIZED (${Dedup.shingleSqlFrom(s"${p}3", "ftext")}),
        ${Dedup.minhashBandCtesFrom(p, s"${p}sh")},
        ${p}bm AS (
          SELECT band, bucket, min(doc_id) AS mn FROM ${p}bands
          GROUP BY 1, 2),
        ${p}4 AS MATERIALIZED (
          SELECT * FROM ${p}3 WHERE doc_id NOT IN (
            SELECT DISTINCT b.doc_id FROM ${p}bands b
            JOIN ${p}bm m ON m.band = b.band AND m.bucket = b.bucket
            WHERE m.mn < b.doc_id)),
        ${Chunking.paraCtesFrom(s"${p}4", "ftext", "ck", p)},
        ${p}rm AS (
          SELECT px.doc_id, count(*) AS n_removed
          FROM ${p}px px JOIN ${p}g g ON g.h = md5(px.para)
          WHERE g.n_occ > 1 AND px.doc_id * 1000 + px.idx <> g.first_key
          GROUP BY 1),
        ${p}5 AS MATERIALIZED (
          SELECT ${p}4.* FROM ${p}4
          JOIN (SELECT pa.doc_id, len(pa.pa) AS n_paras,
                  coalesce(rm.n_removed, 0) AS n_removed
                FROM ${p}pa pa LEFT JOIN ${p}rm rm USING (doc_id)) t
          USING (doc_id)
          WHERE 2 * t.n_removed < t.n_paras),
        ${tailCtes(p)}"""

  /** The incremental delta path against the `o`-stack's stores. */
  private def deltaCtes: String =
    s"""fps AS (SELECT DISTINCT md5(ftext) AS fp FROM o2),
        bst AS (SELECT DISTINCT band, bucket FROM obands),
        pst AS (SELECT DISTINCT h FROM og),
        xpop AS MATERIALIZED (SELECT * FROM ifx WHERE doc_id >= $SnapMax),
        x1 AS MATERIALIZED (SELECT * FROM xpop WHERE doc_id >= $HoldMax),
        x2 AS MATERIALIZED (
          SELECT * FROM x1
          WHERE (length(ftext) - length(replace(ftext, chr(65533), '')))
            * 1000 <= length(ftext)),
        x3 AS MATERIALIZED (
          SELECT x2.* FROM x2 JOIN (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5(ftext) AS fp FROM x2) w
            WHERE fp NOT IN (SELECT fp FROM fps) GROUP BY fp) z
          USING (doc_id)),
        xsh AS MATERIALIZED (${Dedup.shingleSqlFrom("x3", "ftext")}),
        ${Dedup.minhashBandCtesFrom("x", "xsh")},
        xbm AS (
          SELECT band, bucket, min(doc_id) AS mn FROM xbands GROUP BY 1, 2),
        x4 AS MATERIALIZED (
          SELECT * FROM x3 WHERE doc_id NOT IN (
            SELECT DISTINCT b.doc_id FROM xbands b
            JOIN xbm m ON m.band = b.band AND m.bucket = b.bucket
            LEFT JOIN (SELECT band, bucket, 1 AS instore FROM bst) s
              ON s.band = b.band AND s.bucket = b.bucket
            WHERE s.instore IS NOT NULL OR m.mn < b.doc_id)),
        ${Chunking.paraCtesFrom("x4", "ftext", "ck", "x")},
        xrm AS (
          SELECT px.doc_id, count(*) AS n_removed
          FROM xpx px JOIN xg g ON g.h = md5(px.para)
          LEFT JOIN (SELECT h, 1 AS instore FROM pst) s ON s.h = g.h
          WHERE s.instore IS NOT NULL
             OR (g.n_occ > 1 AND px.doc_id * 1000 + px.idx <> g.first_key)
          GROUP BY 1),
        x5 AS MATERIALIZED (
          SELECT x4.* FROM x4
          JOIN (SELECT pa.doc_id, len(pa.pa) AS n_paras,
                  coalesce(rm.n_removed, 0) AS n_removed
                FROM xpa pa LEFT JOIN xrm rm USING (doc_id)) t
          USING (doc_id)
          WHERE 2 * t.n_removed < t.n_paras),
        ${tailCtes("x")}"""

  private def incrCtes: String =
    s"""WITH RECURSIVE ${Curation.qualityTrainCtes},
        ipd AS MATERIALIZED (
          SELECT doc_id, source, lang, text FROM documents
          UNION ALL
          SELECT doc_id + $CopyBase, source, lang, text FROM documents
          WHERE doc_id >= $HoldMax AND doc_id < $SnapMax AND doc_id % 37 = 5
          UNION ALL
          SELECT doc_id + $RemixBase, source, lang, text || ' ' || text
          FROM documents
          WHERE doc_id >= $HoldMax AND doc_id < $SnapMax AND doc_id % 53 = 30
          UNION ALL
          SELECT doc_id + $FrankenBase, source, lang,
            array_to_string(string_split(text, ' ')[1:$SnipTok], ' ')
          FROM documents
          WHERE doc_id >= $HoldMax AND doc_id < $SnapMax AND doc_id % 41 = 7
            AND len(string_split(text, ' ')) >= $SnipTok
          UNION ALL
          SELECT doc_id + $EvCopyBase, source, lang, text FROM documents
          WHERE doc_id < $HoldMax AND doc_id % 2 = 1
          UNION ALL
          SELECT doc_id + $ParaBase, source, lang,
            array_to_string(list_filter(string_split(text, ' '),
              (t, i) -> i % ${ReleaseComputed.ParaMod}
                <> ${ReleaseComputed.ParaRes}), ' ')
          FROM documents WHERE doc_id < $HoldMax),
        keyed AS (
          SELECT doc_id, source, lang, text, ${CorpusBuild.ckSql} AS ck
          FROM ipd),
        ifx AS MATERIALIZED (
          SELECT doc_id, source, lang, text AS raw, ck,
            ${TextAnalysis.unicodeFoldSqlExpr(
              TextAnalysis.unicodeDecSqlExpr("text", "ck"))} AS ftext
          FROM keyed),
        evsh AS MATERIALIZED (
          SELECT DISTINCT shingle FROM (${Dedup.shingleSqlFrom(
            s"(SELECT doc_id, raw FROM ifx WHERE doc_id < $HoldMax)", "raw")}) ev),
        ${CorpusBuild.vecCtes},
        ${stackCtes("o", s"doc_id < $SnapMax")},
        ${stackCtes("u", "TRUE")},
        $deltaCtes"""

  /** SQL twin of [[idFoldDf]] over `rel` rows matching `pred`. */
  private def foldSql(rel: String, pred: String): String =
    s"""(SELECT md5(coalesce(string_agg(gfp, ',' ORDER BY g), '')) FROM (
          SELECT doc_id % 64 AS g,
            md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS gfp
          FROM $rel WHERE $pred GROUP BY 1) zf)"""

  val registry: Map[String, QueryDef] = Map(
    // the streamed ingest's receipt re-derived from the BATCH path:
    // per-arrival-window counts and folds over x10 (the one-shot delta
    // survivors) — a hash match proves the foreachBatch execution
    // appended exactly the one-shot survivor set, batch by batch, and
    // that the replay appended nothing
    "stream_incremental_ingest" -> QueryDef(streamIncrementalIngest _,
      s"""$incrCtes
        SELECT CAST(0 AS BIGINT) AS batch_id,
          (SELECT count(*) FROM xpop WHERE doc_id < $CopyBase) AS n_arrived,
          (SELECT count(*) FROM x10 WHERE doc_id < $CopyBase) AS n_appended,
          ${foldSql("x10", s"doc_id < $CopyBase")} AS append_fp
        UNION ALL SELECT 1,
          (SELECT count(*) FROM xpop
           WHERE doc_id >= $CopyBase AND doc_id < $FrankenBase),
          (SELECT count(*) FROM x10
           WHERE doc_id >= $CopyBase AND doc_id < $FrankenBase),
          ${foldSql("x10", s"doc_id >= $CopyBase AND doc_id < $FrankenBase")}
        UNION ALL SELECT 2,
          (SELECT count(*) FROM xpop WHERE doc_id >= $FrankenBase),
          (SELECT count(*) FROM x10 WHERE doc_id >= $FrankenBase),
          ${foldSql("x10", s"doc_id >= $FrankenBase")}
        UNION ALL SELECT 3,
          (SELECT count(*) FROM xpop WHERE doc_id < $CopyBase),
          CAST(0 AS BIGINT), md5('')
        UNION ALL SELECT -1,
          (SELECT count(*) FROM xpop)
            + (SELECT count(*) FROM xpop WHERE doc_id < $CopyBase),
          (SELECT count(*) FROM x10),
          ${foldSql("x10", "TRUE")}""", streaming = true),
    "corpus_build_incremental" -> QueryDef(corpusBuildIncremental _,
      s"""$incrCtes
        SELECT CAST(r AS INT) AS stage_rank, stage, n_in,
          n_in - n_out AS n_dropped, n_out
        FROM (
          SELECT 1 AS r, 'eval_holdout' AS stage,
            (SELECT count(*) FROM xpop) AS n_in,
            (SELECT count(*) FROM x1) AS n_out
          UNION ALL SELECT 2, 'unicode',
            (SELECT count(*) FROM x1), (SELECT count(*) FROM x2)
          UNION ALL SELECT 3, 'exact_vs_store',
            (SELECT count(*) FROM x2), (SELECT count(*) FROM x3)
          UNION ALL SELECT 4, 'neardup_vs_store',
            (SELECT count(*) FROM x3), (SELECT count(*) FROM x4)
          UNION ALL SELECT 5, 'paragraph_vs_store',
            (SELECT count(*) FROM x4), (SELECT count(*) FROM x5)
          UNION ALL SELECT 6, 'gopher',
            (SELECT count(*) FROM x5), (SELECT count(*) FROM x6)
          UNION ALL SELECT 7, 'license',
            (SELECT count(*) FROM x6), (SELECT count(*) FROM x7)
          UNION ALL SELECT 8, 'classifier',
            (SELECT count(*) FROM x7), (SELECT count(*) FROM x8)
          UNION ALL SELECT 9, 'contamination',
            (SELECT count(*) FROM x8), (SELECT count(*) FROM x9)
          UNION ALL SELECT 10, 'semantic',
            (SELECT count(*) FROM x9), (SELECT count(*) FROM x10)) u"""),
    "corpus_incr_equiv_computed" -> QueryDef(corpusIncrEquivComputed _,
      s"""$incrCtes,
        ${DocEmbed.sgnCte},
        ${DocEmbed.pinnedIdfCtes},
        ${DocEmbed.semDropComputedCtes(
           "(SELECT doc_id, ftext AS text FROM ifx)", HoldMax,
           ReleaseComputed.TauRelease)},
        o10c AS (SELECT doc_id FROM o9
                 WHERE doc_id NOT IN (SELECT doc_id FROM csemdrop)),
        x10c AS (SELECT doc_id FROM x9
                 WHERE doc_id NOT IN (SELECT doc_id FROM csemdrop)),
        u10c AS (SELECT doc_id FROM u9
                 WHERE doc_id NOT IN (SELECT doc_id FROM csemdrop)),
        incrc AS (SELECT doc_id FROM o10c UNION ALL SELECT doc_id FROM x10c)
        SELECT
          (SELECT count(*) FROM o10c) AS n_old_surv,
          (SELECT count(*) FROM x10c) AS n_appended,
          (SELECT count(*) FROM incrc) AS n_incremental,
          (SELECT count(*) FROM u10c) AS n_scratch,
          (SELECT count(*) FROM
            (SELECT doc_id FROM incrc EXCEPT SELECT doc_id FROM u10c) a)
            AS n_only_incremental,
          (SELECT count(*) FROM
            (SELECT doc_id FROM u10c EXCEPT SELECT doc_id FROM incrc) b)
            AS n_only_scratch,
          (SELECT count(*) FROM u9
           WHERE doc_id IN (SELECT doc_id FROM csemdrop)) AS n_sem_dropped"""),
    "corpus_incr_equiv" -> QueryDef(corpusIncrEquiv _,
      s"""$incrCtes,
        incr AS (SELECT doc_id FROM o10 UNION ALL SELECT doc_id FROM x10)
        SELECT
          (SELECT count(*) FROM o10) AS n_old_surv,
          (SELECT count(*) FROM x10) AS n_appended,
          (SELECT count(*) FROM incr) AS n_incremental,
          (SELECT count(*) FROM u10) AS n_scratch,
          (SELECT count(*) FROM
            (SELECT doc_id FROM incr EXCEPT SELECT doc_id FROM u10) a)
            AS n_only_incremental,
          (SELECT count(*) FROM
            (SELECT doc_id FROM u10 EXCEPT SELECT doc_id FROM incr) b)
            AS n_only_scratch"""),
    "corpus_diff" -> QueryDef(corpusDiff _,
      s"""$incrCtes,
        tagged AS (
          SELECT doc_id, 'unchanged' AS status FROM o10
          UNION ALL SELECT doc_id, 'added' FROM x10
          UNION ALL SELECT doc_id, 'removed@eval_holdout' FROM xpop
            WHERE doc_id NOT IN (SELECT doc_id FROM x1)
          UNION ALL SELECT doc_id, 'removed@unicode' FROM x1
            WHERE doc_id NOT IN (SELECT doc_id FROM x2)
          UNION ALL SELECT doc_id, 'removed@exact_vs_store' FROM x2
            WHERE doc_id NOT IN (SELECT doc_id FROM x3)
          UNION ALL SELECT doc_id, 'removed@neardup_vs_store' FROM x3
            WHERE doc_id NOT IN (SELECT doc_id FROM x4)
          UNION ALL SELECT doc_id, 'removed@paragraph_vs_store' FROM x4
            WHERE doc_id NOT IN (SELECT doc_id FROM x5)
          UNION ALL SELECT doc_id, 'removed@gopher' FROM x5
            WHERE doc_id NOT IN (SELECT doc_id FROM x6)
          UNION ALL SELECT doc_id, 'removed@license' FROM x6
            WHERE doc_id NOT IN (SELECT doc_id FROM x7)
          UNION ALL SELECT doc_id, 'removed@classifier' FROM x7
            WHERE doc_id NOT IN (SELECT doc_id FROM x8)
          UNION ALL SELECT doc_id, 'removed@contamination' FROM x8
            WHERE doc_id NOT IN (SELECT doc_id FROM x9)
          UNION ALL SELECT doc_id, 'removed@semantic' FROM x9
            WHERE doc_id NOT IN (SELECT doc_id FROM x10))
        SELECT f.source, t.status, count(*) AS n_docs
        FROM tagged t JOIN ifx f USING (doc_id)
        GROUP BY 1, 2"""),
    "shard_export_incremental" -> QueryDef(shardExportIncremental _,
      s"""$incrCtes,
        orel AS (SELECT doc_id, source, ftext FROM o10),
        nrel AS (SELECT doc_id, source, ftext FROM o10
                 UNION ALL SELECT doc_id, source, ftext FROM x10),
        ${CorpusBuild.releaseCtesFrom("orel", "ro")},
        ${CorpusBuild.releaseCtesFrom("nrel", "rn")},
        ${CorpusBuild.shardCtesFrom("ropacked", "ro")},
        ${CorpusBuild.shardCtesFrom("rnpacked", "rn")}
        SELECT coalesce(a.shard_id, b.shard_id) AS shard_id,
          coalesce(a.n_packs, 0) AS n_packs_old,
          coalesce(b.n_packs, 0) AS n_packs_new,
          CAST(NOT (a.shard_fp IS NOT DISTINCT FROM b.shard_fp) AS INT)
            AS changed
        FROM roshd a FULL JOIN rnshd b ON a.shard_id = b.shard_id"""),
  )
}
