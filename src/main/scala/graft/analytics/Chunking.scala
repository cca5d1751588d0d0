package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document chunking + chunk-level corpus hygiene for LLM training-data
  * prep (north-star EXT surface): sliding-window chunking (the unit a
  * tokenizer/packing stage consumes), cross-document repeated-passage
  * detection (boilerplate at chunk granularity), and benchmark
  * contamination screening (n-gram overlap against a held-out eval set).
  *
  * Scale design: chunking is a per-row generator (sequence + posexplode
  * + slice — pure codegen'd expressions, no shuffle); chunk dedup
  * shuffles only 32-byte md5 keys, never chunk text; contamination
  * broadcast-joins the (small by construction) eval shingle set against
  * the corpus shingle stream, so the corpus side never shuffles at all.
  */
object Chunking {

  private val toks = split(col("text"), " ")

  /** Sliding-window chunks: starts at 1, 1+stride, ... while ≤ n_tokens
    * (the tail chunk may be shorter than `width`). One row per chunk
    * with its ordinal, token count, and content hash — the id a packing
    * or embedding stage keys on. */
  private[graft] def chunksOf(docs: DataFrame, width: Int,
      stride: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(1), size(col("tk")), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(slice(col("tk"), col("start"), lit(width))).as("chunk_tokens"),
        md5(concat_ws(" ", slice(col("tk"), col("start"), lit(width))))
          .as("chunk_hash"))

  /** 32-token windows with 8-token overlap (stride 24) — the shape a
    * context-window packer consumes. */
  def textChunk(s: SparkSession, d: String): DataFrame =
    chunksOf(documents(s, d), width = 32, stride = 24)

  /** Cross-document repeated passages: non-overlapping 8-token chunks
    * that appear in more than one document — the chunk-granularity
    * boilerplate detector (doc-level dedup misses a shared paragraph
    * inside otherwise-distinct pages). Group key is the md5, so the
    * shuffle moves 32-byte hashes; countDistinct plans as a two-phase
    * partial aggregation. */
  def dedupChunks(s: SparkSession, d: String): DataFrame =
    chunksOf(documents(s, d), width = 8, stride = 8)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)

  /** Content-defined chunking + chunk dedup — the CDC step (FastCDC /
    * rsync lineage) that fixed-width chunking cannot replace: a ONE
    * TOKEN insertion shifts every fixed 8-token window downstream
    * (zero chunks survive), while content-defined boundaries move with
    * the content, so all chunks after the edit are byte-identical and
    * dedup still fires. Boundary rule: a token ends its chunk iff its
    * md5's last hex nibble is '0' (expected chunk length 16 tokens) —
    * a pure per-token predicate, so boundaries are shift-invariant by
    * construction and the oracle replays the rule verbatim.
    *
    * Scale shape: boundary indices + per-chunk slicing are row-level
    * expressions on the scan (the posexplode carries the token array
    * only WITHIN the scan stage); after that only 32-byte md5 keys and
    * counts cross the wire — 3 hash exchanges total (the two-phase
    * countDistinct on (source, h) plus the source rollup; PlanSpec
    * pins the budget). The round-robin fan-out DOES carry document
    * rows, but only when the scan arrives narrower than the cluster
    * (the shared fanWhenNarrow policy: one payload shuffle of a
    * single-split corpus vs serializing the per-row work); a corpus
    * already split wide takes zero payload exchanges. Output
    * per source: chunk counts, distinct keys, cross-document
    * duplicated instances (boilerplate at CDC granularity) and the
    * realized mean chunk length — the knob check for the 1/16
    * boundary rate. */
  def dedupCdc(s: SparkSession, d: String): DataFrame =
    dedupCdcOf(Multimodal.fanWhenNarrow(s, documents(s, d)).toDF())

  private[graft] def dedupCdcOf(docs: DataFrame): DataFrame = {
    val perKey = cdcChunks(docs).groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n"), sum(col("ntoks")).as("tok"),
        countDistinct(col("doc_id")).as("nd"))
    perKey.groupBy(col("source"))
      .agg(sum(col("n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("tok")).as("n_tokens"),
        sum(when(col("nd") > 1, col("n")).otherwise(0L)).as("n_crossdoc"))
      .withColumn("crossdoc_ppm",
        expr("(n_crossdoc * 1000000) div n_chunks"))
      .withColumn("avg_chunk_toks_x100",
        expr("(n_tokens * 100) div n_chunks"))
  }

  /** (doc_id, source, h = md5(chunk), ntoks) — one row per CDC chunk.
    * Boundary ENDS list `ends` = boundary positions plus the tail;
    * the k-th chunk spans (ends[k-1]+1 .. ends[k]) 0-based. Spelled
    * with posexplode + row-level slices (NOT a struct-building lambda —
    * lambda struct fields lose their aliases, the cellOf trap). */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), toks.as("tk"))
      .withColumn("bnd", expr(
        """filter(transform(tk, (t, i) ->
             IF(substring(md5(t), 32, 1) = '0', i, -1)), x -> x >= 0)"""))
      .withColumn("ends", expr(
        """CASE WHEN size(bnd) > 0
             AND element_at(bnd, -1) = size(tk) - 1 THEN bnd
           ELSE concat(bnd, array(size(tk) - 1)) END"""))
      .select(col("doc_id"), col("source"), col("tk"), col("ends"),
        posexplode(col("ends")).as(Seq("k", "e")))
      .withColumn("start0",
        expr("IF(k = 0, 0, element_at(ends, k) + 1)"))
      .select(col("doc_id"), col("source"),
        expr("md5(array_join(slice(tk, start0 + 1, e - start0 + 1), ' '))")
          .as("h"),
        expr("CAST(e - start0 + 1 AS BIGINT)").as("ntoks"))

  /** Substring-level cross-document dedup — repeated ≥k-token spans at
    * ANY alignment (the Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better" shape, approximated with rolling
    * fingerprints instead of a suffix array, which does not
    * distribute). `dedupChunks` above is blind to a shared passage that
    * crosses its fixed 8-token boundaries; here EVERY k-token sliding
    * window is fingerprinted (same md5-derived 60-bit token-window hash
    * `text_rolling_hash` pins cross-engine), so a shifted copy still
    * collides on every window inside the span.
    *
    * Scale design (what survives 100 TB):
    *  - Manber-1994 "0 mod p" sampling keeps only fingerprints with
    *    fp % modP == 0 — the per-doc fingerprint set shrinks ~modP×
    *    BEFORE any shuffle, and a shared span of L tokens is still
    *    caught with prob 1-(1-1/p)^(L-k+1) (≥98% at L=40, k=8, p=8).
    *    Winnowing (Schleimer 2003) would give a deterministic
    *    guarantee at the cost of a per-doc window-min pass; the mod
    *    valve is chosen because both engines spell it identically.
    *  - Candidate pairs are generated ONLY by equi-join on fingerprint
    *    (never all-pairs), and the join carries (doc_id, fp, pos) —
    *    ids and longs, never text.
    *  - A df-cap drops fingerprints shared by > dfCap documents
    *    (licence boilerplate would otherwise emit df² pairs); same
    *    valve policy as dedup_ngram's capped shingle universe.
    * Output: one row per document pair with the count of shared
    * sampled spans and the anchor positions of the smallest shared
    * fingerprint (min_by is deterministic — fp values are distinct
    * within a pair after the per-(doc, fp) first-occurrence dedupe). */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    dedupSubstringOf(docs, k = 8, modP = 8,
      dfCap = Sizing.spanDfCap(docs.count()))
  }

  private[graft] def dedupSubstringOf(docs: DataFrame, k: Int, modP: Int,
      dfCap: Int): DataFrame = {
    val wins = slidingFingerprints(docs, k)
      .filter(col("fp") % modP === 0)
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("pos").cast("long")).as("pos"))
    // materialized once: feeds the df-cap audit AND both join sides
    val sel = wins.persistTracked()
    val hot = sel.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap).select(col("fp"))
    // no broadcast hint: |hot| is corpus-linear (≤ occurrences/dfCap);
    // AQE broadcasts while small, shuffle anti-join beyond that
    val kept = sel.join(hot, Seq("fp"), "left_anti")
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_spans"),
        min_by(col("pos_a"), col("fp")).as("anchor_a"),
        min_by(col("pos_b"), col("fp")).as("anchor_b"))
  }

  /** Longest shared token span per document pair — the statistic Lee
    * et al. 2022 actually report (how much text is duplicated, not
    * just that SOME span is shared). `dedupSubstring` above counts
    * sampled shared fingerprints; here the full (unsampled) sliding
    * windows are joined on fingerprint and collapsed gaps-and-islands
    * style: shared windows on one diagonal (pos_a - pos_b constant)
    * at consecutive pos_a form one island, and an island of r windows
    * is a shared span of r + k - 1 tokens. Reported per pair: the
    * longest span and the number of distinct spans ≥ minSpan.
    *
    * Scale notes: everything after the window explode moves (doc_id,
    * fp, pos) longs — text never shuffles; pairs exist only via the
    * fingerprint equi-join (df-capped, never all-pairs); the island
    * window function partitions by (pair, diagonal), so state per
    * window-partition is one span run, not a corpus-sized sort. At
    * 100 TB the same plan runs over the 0-mod-p sampled fingerprints
    * (span length then estimated as p·r + k - 1) — the exact variant
    * here is the calibration path, cross-checked by the oracle. */
  def dedupSpans(s: SparkSession, d: String): DataFrame = {
    // r7: fingerprint df cap derived from corpus size
    // (Sizing.spanDfCap — 0.1%-boilerplate rule, floor 32) — equals
    // the round-6 constant 32 on every driver corpus
    val docs = documents(s, d)
    dedupSpansOf(docs, k = 8, dfCap = Sizing.spanDfCap(docs.count()),
      minSpan = 16)
  }

  private[graft] def slidingFingerprints(docs: DataFrame, k: Int): DataFrame = {
    def th(t: org.apache.spark.sql.Column) =
      conv(substring(md5(t), 18, 15), 16, 10).cast("long")
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(size(toks) >= k)
      .select(col("doc_id"),
        posexplode(transform(graft.functions.text.shingles(toks, k), th(_)))
          .as(Seq("pos", "fp")))
  }

  /** Df-capped candidate (doc_a, doc_b, pos_a, pos_b) window matches —
    * the shared core of dedupSpansOf and the scale audit below. */
  private def windowMatches(docs: DataFrame, k: Int, dfCap: Int): DataFrame = {
    val wins = slidingFingerprints(docs, k).persistTracked()
    val hot = wins.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap).select(col("fp"))
    // unhinted: hot set is corpus-linear, AQE decides (see above)
    val kept = wins.join(hot, Seq("fp"), "left_anti")
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"),
      col("pos").cast("long").as("pos_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"),
      col("pos").cast("long").as("pos_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
  }

  private[graft] def dedupSpansOf(docs: DataFrame, k: Int, dfCap: Int,
      minSpan: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = windowMatches(docs, k, dfCap)
      .withColumn("diag", col("pos_a") - col("pos_b"))
    // within one diagonal, pos_a is unique (pos_b is determined), so
    // the row_number order — and therefore the island id — is total
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    m.withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg((count(lit(1)) + lit(k - 1).cast("long")).as("span_tokens"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_tokens")).as("longest_span"),
        sum(when(col("span_tokens") >= minSpan, 1L).otherwise(0L))
          .as("n_spans"))
      .filter(col("longest_span") >= minSpan)
  }

  /** Candidate-volume audit hook for ScaleSpec: raw df-capped window
    * match count (the quantity the cap must bound under boilerplate). */
  private[graft] def spanCandidateCount(docs: DataFrame, k: Int,
      dfCap: Int): Long =
    windowMatches(docs, k, dfCap).count()

  /** Substring REMOVAL — Lee et al. 2022's actual remedy: cut the
    * duplicated span out of the later document and keep the doc (doc
    * -level dedup throws away the unique remainder; span-level strip
    * preserves it). Spans come from the same diagonal islands as
    * `dedupSpans`; the keep-first policy removes covered tokens only
    * from the pair's HIGHER doc_id. Per doc the covered positions are
    * a sorted int array riding a doc-keyed join back onto the token
    * stream, and the strip itself is a codegen'd indexed-lambda
    * `filter` over the token array — no UDF, no text in any shuffle
    * (the result is fingerprinted as md5 so the compared projection
    * stays narrow). Reported: token count, covered count, and the
    * stripped-text digest. */
  def dedupStrip(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    dedupStripOf(docs, k = 8, dfCap = Sizing.spanDfCap(docs.count()),
      minSpan = 16)
  }

  /** Distinct (doc_id, pos) token positions covered by a ≥ minSpan
    * shared span in which doc_id is the pair's later document. */
  private[graft] def coveredPositions(docs: DataFrame, k: Int, dfCap: Int,
      minSpan: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = windowMatches(docs, k, dfCap)
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    m.withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a") - col("diag")).as("start_b"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_tokens") - 1)).as("pos"))
      .distinct()
  }

  private[graft] def dedupStripOf(docs: DataFrame, k: Int, dfCap: Int,
      minSpan: Int): DataFrame = {
    val cov = coveredPositions(docs, k, dfCap, minSpan)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("cov"),
        count(lit(1)).as("n_covered"))
    docs.select(col("doc_id"), toks.as("tk"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        md5(concat_ws(" ", filter(col("tk"),
          (t, i) => !coalesce(array_contains(col("cov"), i.cast("long")),
            lit(false))))).as("stripped_md5"))
  }

  // ---------------------------------------------------------------
  // Paragraph-level dedup + removal (r12) — Dolma's dedup-paragraphs:
  // the production boundary is the NEWLINE PARAGRAPH, not a fixed
  // token window. A 5-token boilerplate paragraph shared by a quarter
  // of the corpus is invisible to dedup_chunks (no aligned 8-token
  // chunk is identical — the neighbours differ per doc) but is
  // exactly what paragraph-keyed dedup removes. The corpus carries no
  // newlines, so the paragraph layout is synthesized: 10-token
  // content paragraphs plus two planted boilerplate paragraphs on
  // co-rotating moduli (prepended on %4, appended on %6). Remedy =
  // keep the globally FIRST occurrence of each paragraph (min
  // (doc_id, idx)), remove every other occurrence, and rewrite the
  // document — the rewrite is a codegen'd indexed-lambda filter over
  // the paragraph array (the dedup_strip discipline): the only
  // corpus-sized shuffles carry 32-byte hashes + ids and the bounded
  // removed-index lists; document text never shuffles.
  // ---------------------------------------------------------------

  private[analytics] val ParaWidth = 10
  private[analytics] val BoilA = "subscribe to our newsletter today"
  private[analytics] val BoilB = "all rights reserved worldwide"

  /** The synthesized paragraph array over an arbitrary text/key pair —
    * the key column selects the boilerplate plants (doc_id on the
    * board query; corpus_build keys on its content hash so duplicate
    * documents synthesize identical paragraph arrays). */
  private[analytics] def paraArrayOf(text: Column, key: Column): Column = {
    val id = key
    val tk = split(text, " ")
    val nP = floor((size(tk) + lit(ParaWidth - 1)) / lit(ParaWidth)).cast("int")
    val content = transform(sequence(lit(0), nP - 1), i =>
      array_join(slice(tk, i * ParaWidth + 1, lit(ParaWidth)), " "))
    concat(
      when(id % 4 === 0, array(lit(BoilA)))
        .otherwise(array().cast("array<string>")),
      content,
      when(id % 6 === 0, array(lit(BoilB)))
        .otherwise(array().cast("array<string>")))
  }

  /** Keep-first paragraph dedup with rewrite. Output per document:
    * paragraph count, removed count, and the md5 of the rewritten
    * (newline-joined) document — the digest moves iff the removal
    * logic or the keep-first ordering moves. */
  def dedupParagraphs(s: SparkSession, d: String): DataFrame =
    dedupParagraphsOf(documents(s, d))

  private[graft] def dedupParagraphsOf(docs: DataFrame): DataFrame = {
    val pa = docs.select(col("doc_id"),
      paraArrayOf(col("text"), col("doc_id")).as("pa")).persistTracked()
    val ph = pa
      .select(col("doc_id"), posexplode(col("pa")).as(Seq("idx", "para")))
      .select(col("doc_id"), col("idx"), md5(col("para")).as("h"))
    // global first occurrence per paragraph hash: idx is bounded by
    // the paragraph count (≤ ~42 ≪ 1000), so (doc_id·1000 + idx) is a
    // total order key both engines spell identically
    val g = ph.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(col("doc_id") * 1000 + col("idx")).as("first_key"))
    val removed = ph.join(g, Seq("h"))
      .filter(col("n_occ") > 1 &&
        col("doc_id") * 1000 + col("idx") =!= col("first_key"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("rm"),
        count(lit(1)).as("n_removed"))
    pa.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("pa")).cast("long").as("n_paras"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(concat_ws("\n", filter(col("pa"),
          (_, i) => !coalesce(array_contains(col("rm"), i), lit(false)))))
          .as("kept_md5"))
  }

  /** Winnowed cross-doc dedup — `dedupSubstring`'s pair stage fed by
    * the winnowing selection instead of 0-mod-p sampling. The trade:
    * winnowing is slightly denser (2/(w+1) vs 1/p) but its recall is
    * DETERMINISTIC — any shared span of ≥ w+k-1 tokens shares a
    * selected fingerprint in both docs, because a full window-of-w
    * lies inside the span and frame-min selection depends only on the
    * frame's content (the rightmost-min tie-break resolves to the
    * same relative offset on identical frames). The planted spec
    * exercises exactly the minimum-guarantee span length, below the
    * reliable reach of mod-p sampling. Same scale valves: df-cap,
    * fingerprint equi-join, ids/longs only on the wire. */
  def dedupWinnow(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    dedupWinnowOf(docs, k = 8, w = 4,
      dfCap = Sizing.spanDfCap(docs.count()))
  }

  private[graft] def dedupWinnowOf(docs: DataFrame, k: Int, w: Int,
      dfCap: Int): DataFrame = {
    val sel = winnowSelect(docs, k, w)
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("sel_pos")).as("pos"))
      .persistTracked()
    val hot = sel.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap).select(col("fp"))
    // unhinted: hot set is corpus-linear, AQE decides (see above)
    val kept = sel.join(hot, Seq("fp"), "left_anti")
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"),
        min_by(col("pos_a"), col("fp")).as("anchor_a"),
        min_by(col("pos_b"), col("fp")).as("anchor_b"))
  }

  /** Intra-document span repetition — the crawl artifact where one
    * page repeats the same paragraph dozens of times (nav boilerplate,
    * templating bugs). `text_repetition` measures bigram-level
    * burstiness; this measures it at k-token span granularity using
    * the same sliding fingerprints: a window whose fingerprint occurs
    * more than once IN THE SAME DOC is a repeated span occurrence.
    * Per doc: repeated-window count, the worst multiplicity, and the
    * repeated fraction — purely per-doc aggregation, so the whole
    * query is one doc-partitioned pass with no join at all. */
  def textSelfrep(s: SparkSession, d: String): DataFrame =
    textSelfrepOf(documents(s, d), k = 8)

  private[graft] def textSelfrepOf(docs: DataFrame, k: Int): DataFrame =
    slidingFingerprints(docs, k)
      .groupBy(col("doc_id"), col("fp"))
      .agg(count(lit(1)).as("mult"))
      .groupBy(col("doc_id"))
      .agg(sum(col("mult")).as("n_windows"),
        count(lit(1)).as("n_distinct_windows"),
        sum(when(col("mult") > 1, col("mult")).otherwise(0L))
          .as("n_repeated_occ"),
        max(col("mult")).as("max_mult"))
      .select(col("doc_id"), col("n_windows"), col("n_distinct_windows"),
        col("n_repeated_occ"), col("max_mult"),
        (col("n_repeated_occ").cast("double") /
          col("n_windows").cast("double")).as("rep_fraction"))

  /** Corpus-duplication health report — the per-source severity rollup
    * a curation run gates on before training: every document bucketed
    * by the worst shared span it participates in (`clean` = none ≥ 16
    * tokens, `light` = 16..31, `heavy` = ≥ 32 — a full boilerplate
    * paragraph), counted per source with the worst span observed. The
    * pair table is `dedupSpans`; the per-doc rollup is id+long only,
    * but its ROW COUNT is unbounded — on a heavily duplicated crawl a
    * large fraction of all docs participate in some shared span, so a
    * forced broadcast would ship billions of rows to every executor.
    * The join therefore carries NO hint: AQE broadcasts it at runtime
    * when it measures small (the clean-corpus fast path) and falls
    * back to a shuffle join on `doc_id` when it does not — the only
    * behavior that survives the duplicated-corpus case this report
    * exists to detect. */
  def dedupProfile(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // materialize the pair generator ONCE before mirroring (r17, the
    // clustersLoop p0 precedent): the union below reads `pairs` twice
    // and each branch re-ran the whole span-fingerprint candidate
    // pipeline — id+long rows only, exactly what a checkpoint holds
    val pairs = dedupSpansOf(docs, k = 8,
      dfCap = Sizing.spanDfCap(docs.count()), minSpan = 16)
      .select(col("doc_a"), col("doc_b"), col("longest_span"))
      .localCheckpoint(true)
    val perDoc = pairs
      .select(col("doc_a").as("doc_id"), col("longest_span"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("longest_span")))
      .groupBy(col("doc_id"))
      .agg(max(col("longest_span")).as("max_span"))
    documents(s, d).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("max_span").isNull, "clean")
          .when(col("max_span") < 32, "light")
          .otherwise("heavy").as("severity"),
        coalesce(col("max_span"), lit(0L)).as("ms"))
      .groupBy(col("source"), col("severity"))
      .agg(count(lit(1)).as("n_docs"), max(col("ms")).as("worst_span"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS sampler): within every window of `w`
    * consecutive k-token-window hashes, select the minimum (rightmost
    * on ties). Unlike `dedupSubstring`'s 0-mod-p sampling, the
    * guarantee is DETERMINISTIC: any shared span of ≥ w+k-1 tokens
    * shares at least one SELECTED fingerprint, and consecutive
    * selections within a doc are ≤ w windows apart (asserted by the
    * guarantee spec). Selection is windowed per doc — no shuffle
    * beyond the per-doc sort — and the rightmost-on-tie rule is
    * spelled min(struct(fp, -pos)) so both engines agree exactly.
    * Reported per doc: window/selection counts, the max selection gap
    * (the guarantee bound), and selection density (expected
    * 2/(w+1) on random hashes — the paper's Theorem 2). */
  def textWinnow(s: SparkSession, d: String): DataFrame =
    textWinnowOf(documents(s, d), k = 8, w = 4)

  private[graft] def winnowSelect(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    val whole = Window.partitionBy(col("doc_id"))
    slidingFingerprints(docs, k)
      .withColumn("pos", col("pos").cast("long"))
      .withColumn("m",
        min(struct(col("fp"), (-col("pos")).as("np"))).over(frame))
      .withColumn("nw", count(lit(1)).over(whole))
      // full frames only: the last w-1 truncated frames are not
      // winnowing windows (their selections would break the density
      // bound without adding coverage)
      .filter(col("pos") <= col("nw") - w)
      .select(col("doc_id"), col("nw"), col("m.fp").as("fp"),
        (-col("m.np")).as("sel_pos"))
      .distinct()
  }

  private[graft] def textWinnowOf(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col("doc_id")).orderBy(col("sel_pos"))
    winnowSelect(docs, k, w)
      .withColumn("gap", col("sel_pos") - lag(col("sel_pos"), 1).over(order))
      .groupBy(col("doc_id"))
      .agg(max(col("nw")).as("n_windows"),
        count(lit(1)).as("n_selected"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap"))
      .select(col("doc_id"), col("n_windows"), col("n_selected"),
        col("max_gap"),
        (col("n_selected").cast("double") / col("n_windows").cast("double"))
          .as("density"))
  }

  /** Benchmark-contamination screen: for every training document
    * (doc_id ≥ `evalMax`), the count of distinct 5-gram shingles it
    * shares with the held-out eval set (doc_id < `evalMax`). The eval
    * shingle set is small by construction → broadcast; the corpus
    * shingle stream left-joins it without shuffling and aggregates per
    * doc. This is the decontamination pass every eval-aware training
    * run needs (PaLM/GPT-style 8-gram screens are the same plan with a
    * different n). */
  def contamination(s: SparkSession, d: String, evalMax: Long = 25): DataFrame =
    contaminationOf(documents(s, d), evalMax)

  private[graft] def contaminationOf(docs: DataFrame, evalMax: Long): DataFrame = {
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(size(toks) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.text.shingles(toks, 5)).as("shingle"))
      .distinct()
    val ev = sh.filter(col("doc_id") < evalMax)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= evalMax)
      .join(broadcast(ev), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("contam_ratio"),
        // INT verdict, not BOOLEAN (driver-hash representation hazard)
        (col("n_shared") > 0).cast("int").as("contaminated"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * packs — the step between chunking and batch assembly. True
    * first-fit packing is inherently sequential; the distributed
    * spelling packs WITHIN each shard (source) by a running token sum
    * in deterministic doc_id order: pack = how many full budgets
    * precede the doc. One shuffle on the shard key; each shard's
    * window is independent, so the plan scales with shard count (a
    * global ORDER BY window would serialize into one task at 100 TB —
    * the per-shard partitionBy is the point). */
  def packSequences(s: SparkSession, d: String, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"), size(toks).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .selectExpr("doc_id", "source", "n_tokens",
        s"(cum - n_tokens) div $budget AS pack_id")
  }

  /** Span-corruption example prep (the T5/UL2 denoising objective,
    * Raffel et al. 2020 §3.1.4): mask fixed-length token spans on a
    * deterministic periodic schedule (span length 3 every 20 tokens =
    * 15% corruption), emit the sentinel-delimited INPUT (each masked
    * span collapsed to one `<X_k>` sentinel) and TARGET (sentinels +
    * the masked tokens) the seq2seq trainer consumes. A production run
    * randomizes span starts per epoch; the schedule here is the
    * deterministic calibration variant (doc-content-independent, so
    * the same doc yields the same example on every engine/run — the
    * reproducibility contract the rest of this board holds), and the
    * declared row carries the count fields plus md5 fingerprints of
    * both sequences (the strings themselves are training payload, not
    * analytics output).
    *
    * Scale shape: pure per-row expression work (sequence + transform +
    * filter + array_join — all codegen'd), zero joins, zero shuffles:
    * corrupting 100 TB is a map-only pass, the same contract as
    * quality_classifier. */
  def spanCorruption(s: SparkSession, d: String,
      spanLen: Int = 3, period: Int = 20): DataFrame = {
    val n = size(toks)
    // token i (1-based) is masked iff (i-1) % period < spanLen;
    // span id = (i-1) div period
    def masked(i: Column) = ((i - 1) % period) < spanLen
    def spanId(i: Column) = (i - 1).cast("int") / period
    val idx = sequence(lit(1), n)
    val inputArr = transform(idx, i =>
      when(!masked(i), element_at(toks, i))
        .when(((i - 1) % period) === 0,
          concat(lit("<X"), spanId(i).cast("int").cast("string"), lit(">")))
        .otherwise(lit("")))
    val targetArr = transform(idx, i =>
      when(masked(i) && ((i - 1) % period) === 0,
        concat(lit("<X"), spanId(i).cast("int").cast("string"), lit("> "),
          element_at(toks, i)))
        .when(masked(i), element_at(toks, i))
        .otherwise(lit("")))
    def joined(a: Column) = array_join(filter(a, x => x =!= ""), " ")
    documents(s, d).select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      size(filter(idx, i => masked(i))).cast("long").as("n_masked"),
      size(filter(idx, i => masked(i) && ((i - 1) % period) === 0))
        .cast("long").as("n_spans"),
      md5(joined(inputArr)).as("input_fp"),
      md5(joined(targetArr)).as("target_fp"))
  }

  /** The paragraph synthesis + keep-first CTEs the dedup_paragraphs
    * oracle replays (the identical array slicing, ordering key, and
    * rewrite-by-kept-rows). */
  /** The paragraph-synthesis + keep-first CTE chain over an arbitrary
    * (doc_id, <textCol>) relation with a parameterized plant key —
    * exposes pa/px/g; the board dedup_paragraphs oracle passes
    * (documents, text, doc_id), corpus_build its repaired slice keyed
    * on the content hash. */
  private[analytics] def paraCtesFrom(rel: String, textCol: String,
      keyExpr: String, prefix: String = ""): String =
    s"""${prefix}pa AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN ($keyExpr) % 4 = 0 THEN ['$BoilA'] ELSE [] END
          || list_transform(
               generate_series(0, (len(string_split($textCol,' ')) + ${ParaWidth - 1}) // $ParaWidth - 1),
               i -> array_to_string(
                 string_split($textCol,' ')[i*$ParaWidth+1 : i*$ParaWidth+$ParaWidth], ' '))
          || CASE WHEN ($keyExpr) % 6 = 0 THEN ['$BoilB'] ELSE [] END AS pa
        FROM $rel),
      ${prefix}px AS MATERIALIZED (
        SELECT doc_id, CAST(u.i - 1 AS INT) AS idx, ${prefix}pa.pa[u.i] AS para
        FROM ${prefix}pa, unnest(generate_series(1, len(${prefix}pa.pa))) AS u(i)),
      ${prefix}g AS (
        SELECT md5(para) AS h, count(*) AS n_occ,
          min(doc_id * 1000 + idx) AS first_key
        FROM ${prefix}px GROUP BY 1)"""

  private def paraSql: String = paraCtesFrom("documents", "text", "doc_id")

  val registry: Map[String, QueryDef] = Map(
    // same boundary rule (md5 last nibble '0' ends a chunk); the oracle
    // spells chunk membership as a running boundary count BEFORE each
    // token (boundary token belongs to the chunk it ends), rebuilds the
    // chunk text order-exactly, then runs the same two-level rollup
    "dedup_cdc" -> QueryDef(dedupCdc _,
      """WITH t AS (
          SELECT doc_id, source, string_split(text, ' ') AS tk
          FROM documents),
        tok AS (
          SELECT doc_id, source, i, tk[i] AS w
          FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
        cid AS (
          SELECT doc_id, source, i, w,
            coalesce(sum(CASE WHEN substr(md5(w), 32, 1) = '0'
                THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS c
          FROM tok),
        chunk AS (
          SELECT doc_id, source, c,
            md5(string_agg(w, ' ' ORDER BY i)) AS h,
            CAST(count(*) AS BIGINT) AS ntoks
          FROM cid GROUP BY 1, 2, 3),
        perkey AS (
          SELECT source, h,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(ntoks) AS BIGINT) AS tok,
            count(DISTINCT doc_id) AS nd
          FROM chunk GROUP BY 1, 2)
        SELECT source,
          CAST(sum(n) AS BIGINT) AS n_chunks,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(sum(tok) AS BIGINT) AS n_tokens,
          CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
            AS n_crossdoc,
          (CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
            * 1000000) // CAST(sum(n) AS BIGINT) AS crossdoc_ppm,
          (CAST(sum(tok) AS BIGINT) * 100) // CAST(sum(n) AS BIGINT)
            AS avg_chunk_toks_x100
        FROM perkey GROUP BY source"""),
    // identical periodic schedule: token i masked iff (i-1)%20 < 3,
    // span sentinel at each span start; both engines filter the ''
    // placeholders before joining on ' '
    "span_corruption" -> QueryDef(spanCorruption(_, _),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        b AS (
          SELECT doc_id, len(tk) AS n_tokens,
            list_transform(generate_series(1, len(tk)), i ->
              CASE WHEN (i-1) % 20 >= 3 THEN tk[i]
                   WHEN (i-1) % 20 = 0
                     THEN '<X' || CAST((i-1) // 20 AS VARCHAR) || '>'
                   ELSE '' END) AS inp,
            list_transform(generate_series(1, len(tk)), i ->
              CASE WHEN (i-1) % 20 = 0
                     THEN '<X' || CAST((i-1) // 20 AS VARCHAR) || '> ' || tk[i]
                   WHEN (i-1) % 20 < 3 THEN tk[i]
                   ELSE '' END) AS tgt,
            len(list_filter(generate_series(1, len(tk)),
              i -> (i-1) % 20 < 3)) AS n_masked,
            len(list_filter(generate_series(1, len(tk)),
              i -> (i-1) % 20 = 0)) AS n_spans
          FROM t)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(n_masked AS BIGINT) AS n_masked,
          CAST(n_spans AS BIGINT) AS n_spans,
          md5(array_to_string(list_filter(inp, x -> x <> ''), ' ')) AS input_fp,
          md5(array_to_string(list_filter(tgt, x -> x <> ''), ' ')) AS target_fp
        FROM b"""),
    "text_chunk" -> QueryDef(textChunk _,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
          len(tk[start:start+31]) AS chunk_tokens,
          md5(array_to_string(tk[start:start+31], ' ')) AS chunk_hash
        FROM t, unnest(generate_series(1, len(tk), 24)) AS u(start)"""),
    "dedup_chunks" -> QueryDef(dedupChunks _,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        ch AS (
          SELECT doc_id, md5(array_to_string(tk[start:start+7], ' ')) AS chunk_hash
          FROM t, unnest(generate_series(1, len(tk), 8)) AS u(start))
        SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1"""),
    // sliding 8-token windows, 60-bit md5-derived fingerprints (the
    // text_rolling_hash token-hash encoding), 0-mod-8 sampling, df>32
    // cap, pair join on fingerprint; anchors via arg_min (fp values
    // are distinct within a pair after the per-(doc,fp) min(pos))
    "dedup_substring" -> QueryDef(dedupSubstring _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        sel AS (
          SELECT doc_id, fp, min(pos) AS pos FROM w
          WHERE fp % 8 = 0 GROUP BY doc_id, fp),
        hot AS (
          SELECT fp FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) >
            (SELECT greatest(32, least(4096, count(*) // 1000)) FROM documents)),
        kept AS (
          SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          count(*) AS shared_spans,
          arg_min(a.pos, a.fp) AS anchor_a,
          arg_min(b.pos, a.fp) AS anchor_b
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2"""),
    // full sliding windows, df>32 cap, gaps-and-islands on the
    // (pos_a - pos_b) diagonal; island of r windows = span of r+k-1
    // tokens; report the longest and the count of spans >= 16
    "dedup_spans" -> QueryDef(dedupSpans _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        hot AS (
          SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >
            (SELECT greatest(32, least(4096, count(*) // 1000)) FROM documents)),
        kept AS (
          SELECT * FROM w WHERE fp NOT IN (SELECT fp FROM hot)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
          FROM m),
        sp AS (
          SELECT doc_a, doc_b, count(*) + 7 AS span_tokens
          FROM r GROUP BY doc_a, doc_b, diag, isl)
        SELECT doc_a, doc_b, max(span_tokens) AS longest_span,
          CAST(sum(CASE WHEN span_tokens >= 16 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_spans
        FROM sp GROUP BY 1, 2
        HAVING max(span_tokens) >= 16"""),
    // the dedup_spans pair table rolled to per-doc worst span, then
    // bucketed clean/light/heavy per source
    "dedup_profile" -> QueryDef(dedupProfile _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        hot AS (
          SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >
            (SELECT greatest(32, least(4096, count(*) // 1000)) FROM documents)),
        kept AS (
          SELECT * FROM w WHERE fp NOT IN (SELECT fp FROM hot)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
          FROM m),
        sp AS (
          SELECT doc_a, doc_b, count(*) + 7 AS span_tokens
          FROM r GROUP BY doc_a, doc_b, diag, isl),
        pairs AS (
          SELECT doc_a, doc_b, max(span_tokens) AS longest_span
          FROM sp GROUP BY 1, 2 HAVING max(span_tokens) >= 16),
        per_doc AS (
          SELECT doc_id, max(longest_span) AS max_span FROM (
            SELECT doc_a AS doc_id, longest_span FROM pairs
            UNION ALL
            SELECT doc_b AS doc_id, longest_span FROM pairs)
          GROUP BY 1)
        SELECT d.source,
          CASE WHEN p.max_span IS NULL THEN 'clean'
               WHEN p.max_span < 32 THEN 'light'
               ELSE 'heavy' END AS severity,
          count(*) AS n_docs,
          coalesce(max(p.max_span), 0) AS worst_span
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        GROUP BY 1, 2"""),
    // dedup_paragraphs: keep-first per paragraph hash; the rewrite
    // digest is rebuilt from the KEPT rows in idx order (identical to
    // the engine's indexed-lambda filter over the paragraph array)
    "dedup_paragraphs" -> QueryDef(dedupParagraphs _,
      s"""WITH $paraSql,
        keep AS (
          SELECT p.doc_id, p.idx, p.para
          FROM px p JOIN g ON md5(p.para) = g.h
          WHERE NOT (g.n_occ > 1
            AND p.doc_id * 1000 + p.idx != g.first_key)),
        rm AS (
          SELECT p.doc_id, count(*) AS n_removed
          FROM px p JOIN g ON md5(p.para) = g.h
          WHERE g.n_occ > 1 AND p.doc_id * 1000 + p.idx != g.first_key
          GROUP BY 1),
        agg AS (
          SELECT doc_id,
            md5(array_to_string(list(para ORDER BY idx), chr(10))) AS kept_md5
          FROM keep GROUP BY 1)
        SELECT pa.doc_id,
          CAST(len(pa.pa) AS BIGINT) AS n_paras,
          CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed,
          coalesce(agg.kept_md5, md5('')) AS kept_md5
        FROM pa
        LEFT JOIN rm ON rm.doc_id = pa.doc_id
        LEFT JOIN agg ON agg.doc_id = pa.doc_id"""),
    // dedup_strip: dedup_spans' islands -> covered positions of the
    // later doc -> indexed list_filter strip, digested as md5
    // (keep-first policy)
    "dedup_strip" -> QueryDef(dedupStrip _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        hot AS (
          SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >
            (SELECT greatest(32, least(4096, count(*) // 1000)) FROM documents)),
        kept AS (
          SELECT * FROM w WHERE fp NOT IN (SELECT fp FROM hot)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            b.pos AS pos_b, a.pos - b.pos AS diag
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag, pos_b,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
          FROM m),
        sp AS (
          SELECT doc_b, min(pos_b) AS start_b, count(*) + 7 AS span_tokens
          FROM r GROUP BY doc_a, doc_b, diag, isl
          HAVING count(*) + 7 >= 16),
        covp AS (
          SELECT DISTINCT doc_b AS doc_id, p AS pos
          FROM sp, unnest(generate_series(start_b, start_b + span_tokens - 1))
            AS g(p)),
        cova AS (
          SELECT doc_id, count(*) AS n_covered,
            list_sort(list(pos)) AS cov
          FROM covp GROUP BY 1)
        SELECT d.doc_id,
          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
          coalesce(c.n_covered, 0) AS n_covered,
          md5(coalesce(array_to_string(list_transform(
            list_filter(generate_series(1, len(string_split(d.text, ' '))),
              i -> NOT coalesce(list_contains(c.cov, CAST(i - 1 AS BIGINT)),
                false)),
            i -> string_split(d.text, ' ')[i]), ' '), '')) AS stripped_md5
        FROM documents d LEFT JOIN cova c ON d.doc_id = c.doc_id"""),
    // winnow selection (as text_winnow) → per-(doc,fp) first pos →
    // df-cap → pair equi-join on fingerprint, substring-style anchors
    "dedup_winnow" -> QueryDef(dedupWinnow _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        mw AS (
          SELECT doc_id, pos,
            min(struct_pack(fp := fp, np := -pos)) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
            count(*) OVER (PARTITION BY doc_id) AS nw
          FROM w),
        selw AS (
          SELECT DISTINCT doc_id, m.fp AS fp, -m.np AS sel_pos
          FROM mw WHERE pos <= nw - 4),
        sel AS (
          SELECT doc_id, fp, min(sel_pos) AS pos FROM selw GROUP BY 1, 2),
        hot AS (
          SELECT fp FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) >
            (SELECT greatest(32, least(4096, count(*) // 1000)) FROM documents)),
        kept AS (
          SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          count(*) AS shared_fps,
          arg_min(a.pos, a.fp) AS anchor_a,
          arg_min(b.pos, a.fp) AS anchor_b
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2"""),
    // per-(doc, fp) multiplicities → per-doc repetition stats; sums
    // cast to BIGINT (DuckDB sum(BIGINT) widens to HUGEINT)
    "text_selfrep" -> QueryDef(textSelfrep _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        m AS (
          SELECT doc_id, fp, count(*) AS mult FROM w GROUP BY 1, 2)
        SELECT doc_id,
          CAST(sum(mult) AS BIGINT) AS n_windows,
          count(*) AS n_distinct_windows,
          CAST(sum(CASE WHEN mult > 1 THEN mult ELSE 0 END) AS BIGINT)
            AS n_repeated_occ,
          max(mult) AS max_mult,
          CAST(sum(CASE WHEN mult > 1 THEN mult ELSE 0 END) AS DOUBLE)
            / CAST(sum(mult) AS DOUBLE) AS rep_fraction
        FROM m GROUP BY 1"""),
    // winnowing w=4 over 8-token window hashes: per window-of-4 the
    // min hash (rightmost on ties, via min(struct(fp, -pos))),
    // distinct selections, then per-doc coverage stats
    "text_winnow" -> QueryDef(textWinnow _,
      """WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
            ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 18, 15))::BIGINT AS fp
          FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
        mw AS (
          SELECT doc_id, pos,
            min(struct_pack(fp := fp, np := -pos)) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
            count(*) OVER (PARTITION BY doc_id) AS nw
          FROM w),
        sel AS (
          SELECT DISTINCT doc_id, nw, m.fp AS fp, -m.np AS sel_pos
          FROM mw WHERE pos <= nw - 4),
        g AS (
          SELECT doc_id, nw, sel_pos,
            sel_pos - lag(sel_pos) OVER (
              PARTITION BY doc_id ORDER BY sel_pos) AS gap
          FROM sel)
        SELECT doc_id, max(nw) AS n_windows, count(*) AS n_selected,
          coalesce(max(gap), 0) AS max_gap,
          CAST(count(*) AS DOUBLE) / CAST(max(nw) AS DOUBLE) AS density
        FROM g GROUP BY 1"""),
    "contamination" -> QueryDef(contamination(_, _),
      """WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 4),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS shingle
          FROM documents WHERE len(string_split(text, ' ')) >= 5)),
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
        tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25)
        SELECT tr.doc_id, count(*) AS n_shingles, count(ev.shingle) AS n_shared,
          CAST(count(ev.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contam_ratio,
          (count(ev.shingle) > 0)::INT AS contaminated
        FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
        GROUP BY tr.doc_id"""),
    "pack_sequences" -> QueryDef(packSequences(_, _),
      """SELECT doc_id, source, n_tokens,
          CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
        FROM (
          SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
            sum(len(string_split(text, ' '))) OVER (PARTITION BY source
              ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)"""),
  )
}
