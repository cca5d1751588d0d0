package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (the SentencePiece family: Kudo 2018,
  * "Subword Regularization"; Kudo & Richardson 2018) — the OTHER
  * production tokenizer next to BPE ([[Bpe]]): seed a candidate piece
  * inventory from frequent substrings, then iterate EM — segment the
  * corpus under the current piece model (E), re-estimate piece
  * probabilities from usage and prune dead pieces (M).
  *
  * Exact-integer spelling (the no-ln rule — float log-likelihoods
  * diverge across engines): piece probabilities become MDL BIT COSTS,
  * cost(p) = bitlen(T div count(p)) where bitlen(x) = length of x's
  * binary spelling — the integer ⌈−log₂ p̂⌉ surrogate (the
  * Shannon/MDL code length, monotone in the likelihood), and Viterbi
  * minimizes total bits. Hard-EM (Viterbi counts, not forward–backward
  * expectations) with tie-breaks pinned: the DP prefers the LONGEST
  * piece among equal-cost back-steps, seed selection orders
  * (count desc, piece asc) — every choice engine-reproducible, so the
  * DuckDB oracle re-derives the whole training from scratch.
  *
  * Scale shape (the [[Bpe]]/quality_train discipline): ONE corpus scan
  * builds the (word, count) vocabulary; every EM round runs on
  * vocab-sized data. The E-step is a SCAN-SIDE unrolled Viterbi — the
  * model rides into the plan as a bounded map literal ([[SeedK]] multi
  * pieces + the corpus alphabet), forward costs b₀..b₁₂ and the
  * backward reconstruction are chained codegen'd projections, no joins
  * — so segmenting 100 TB under the trained model is a pure map pass.
  * Per-round driver state is the piece-count table (≤ model size —
  * bounded index metadata, the IVF-centroid precedent). Training
  * REFUSES a corpus with words longer than [[MaxW]] chars (hard
  * require, not silent exclusion — a capped vocab would understate
  * fertility denominators while the hash match stays green; raise
  * MaxW on both engines instead. The corpus max is 10).
  */
object Unigram {

  private[graft] val MaxW = 12      // DP unroll length (corpus max 10)
  private[graft] val PieceMax = 4   // max piece length
  private[graft] val SeedK = 64     // multi-char seed inventory size
  private[graft] val Rounds = 3
  private[graft] val BigM = 1000000L // cost of a piece not in the model

  private def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)

  /** (w, wcnt) vocabulary with corpus frequencies. No length cap here:
    * [[trainModelOf]] ASSERTS the corpus fits the [[MaxW]] unroll
    * (r13 advice) — every non-empty word enters the model or training
    * fails loudly, so downstream pricing joins can never silently
    * drop long words. */
  private def vocabOf(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))

  /** Viterbi-segment every word of `vocab` under the bounded cost
    * model: forward min-bit costs b₁..b₁₂, then backward
    * reconstruction (longest piece wins ties), all as chained
    * projections over the literal cost map. Output
    * (w, wcnt, seg: array<string>, wbits: total bits of the word). */
  private[graft] def segmented(vocab: DataFrame, cost: Map[String, Long]): DataFrame = {
    val costMap = typedlit(cost)
    val bigM = lit(BigM)
    def costOf(piece: Column): Column =
      coalesce(element_at(costMap, piece), bigM)
    var df = vocab.withColumn("b0", lit(0L))
    for (j <- 1 to MaxW) {
      val cands = (1 to math.min(PieceMax, j)).map { l =>
        col(s"b${j - l}") + costOf(substring(col("w"), j - l + 1, l))
      }
      val best = if (cands.size == 1) cands.head else least(cands: _*)
      df = df.withColumn(s"b$j", when(length(col("w")) >= j, best))
    }
    df = df.withColumn("barr", array((0 to MaxW).map(j => col(s"b$j")): _*))
      .withColumn("j0", length(col("w")))
    def bAt(idx: Column): Column = element_at(col("barr"), (idx + 1).cast("int"))
    for (k <- 1 to MaxW) {
      val j = col(s"j${k - 1}")
      val choices = (PieceMax to 1 by -1).map { l =>
        val piece = col("w").substr(j - l + 1, lit(l))
        val ok = j >= l && bAt(j - l) + costOf(piece) === bAt(j)
        (ok, piece, l)
      }
      val pk = choices.foldRight(lit(null).cast("string")) {
        case ((ok, piece, _), els) => when(j > 0 && ok, piece).otherwise(els)
      }
      val lk = choices.foldRight(lit(0)) {
        case ((ok, _, l), els) => when(j > 0 && ok, lit(l)).otherwise(els)
      }
      df = df.withColumn(s"p$k", pk).withColumn(s"j$k", j - lk)
    }
    val segRaw = filter(array((1 to MaxW).map(k => col(s"p$k")): _*),
      p => p.isNotNull)
    df
      .withColumn("seg", reverse(segRaw))
      .withColumn("wbits",
        aggregate(col("seg"), lit(0L), (acc, p) => acc + costOf(p)))
      .select(col("w"), col("wcnt"), col("seg"), col("wbits"))
  }

  /** The trained model: per-round checkpointed segmentation tables
    * (index r−1 = round r), the cost maps cost₀..cost₃, and the
    * corpus alphabet. */
  private[graft] case class UniModel(
    vocab: DataFrame, segs: IndexedSeq[DataFrame],
    costs: IndexedSeq[Map[String, Long]], chars: Set[String])

  /** Seed + EM rounds. Deterministic per corpus; memoized per
    * (session, directory) — the trainQualityWeights precedent (one
    * training job, then scan-speed application), keyed by the OWNING
    * SparkSession (r13 advice) because the checkpointed segmentation
    * tables die with the session that materialized them. */
  private[graft] def trainModel(s: SparkSession, d: String): UniModel =
    modelMemo.getOrElseUpdate((s, d), trainModelOf(vocabOf(documents(s, d))))

  private val modelMemo = new Caches.SessionMemo[UniModel]

  private[graft] def trainModelOf(vocab0: DataFrame): UniModel = {
    val vocab = vocab0.localCheckpoint(true)
    // the MaxW unroll cap must never SILENTLY bite (r13 advice: a
    // capped vocab joined into fertility denominators would understate
    // uni_toks on long-word corpora while the hash match, which joins
    // the same capped vocab on both engines, stays green) — so training
    // refuses a corpus whose words exceed the DP depth instead of
    // quietly dropping them. One vocab-sized agg on the checkpoint.
    // nullable read: max() over an EMPTY vocabulary is NULL, and a
    // bare getInt would throw an opaque NPE before the require speaks
    val maxLen = Option(vocab.agg(max(length(col("w")))).head().get(0))
      .fold(0)(_.asInstanceOf[Int])
    require(maxLen > 0,
      "unigram training: empty vocabulary - the corpus has no words")
    require(maxLen <= MaxW,
      s"unigram training: corpus has a $maxLen-char word but the Viterbi " +
        s"unroll is $MaxW-deep — raise MaxW (both engines) rather than " +
        "silently excluding long words from the model and its consumers")
    // seed inventory: every substring occurrence of length 1..4,
    // weighted by word frequency; chars are the permanent fallback,
    // the top-SeedK multi-char pieces (count desc, piece asc) compete
    val seed = vocab
      .select(col("w"), col("wcnt"),
        posexplode(sequence(lit(1), length(col("w")))).as(Seq("z", "i")))
      .select(col("w"), col("wcnt"), col("i"),
        explode(sequence(lit(1),
          least(lit(PieceMax), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
      .localCheckpoint(true)
    val charRows = seed.filter(length(col("piece")) === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val multiRows = seed.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(SeedK).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val chars = charRows.map(_._1).toSet
    val c0 = (charRows ++ multiRows).toMap
    val t0 = c0.values.sum
    def costsFrom(counts: Map[String, Long], t: Long): Map[String, Long] = {
      // chars stay at worst-case cost when unused (the fallback must
      // remain reachable); dead multi-char pieces are pruned outright
      val charCosts = chars.map(c =>
        c -> bitlen(t / math.max(counts.getOrElse(c, 0L), 1L)))
      val multiCosts = counts.collect {
        case (p, n) if p.length >= 2 && n >= 1 => p -> bitlen(t / n)
      }
      (charCosts ++ multiCosts).toMap
    }
    var cost = costsFrom(c0, t0)
    val costsB = IndexedSeq.newBuilder[Map[String, Long]]
    val segsB = IndexedSeq.newBuilder[DataFrame]
    costsB += cost
    for (_ <- 1 to Rounds) {
      val seg = segmented(vocab, cost).localCheckpoint(true)
      segsB += seg
      val counts = seg
        .select(explode(col("seg")).as("piece"), col("wcnt"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
        .collect() // ≤ model size: the bounded piece domain
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      cost = costsFrom(counts, counts.values.sum)
      costsB += cost
    }
    UniModel(vocab, segsB.result(), costsB.result(), chars)
  }

  /** The trained piece table: every live piece (the corpus alphabet
    * plus all multi-char pieces that survived the final round) with
    * its usage count and final bit cost — both re-derived as a plan
    * over the final checkpointed segmentation, not a driver dump (the
    * bpe_merges discipline). */
  def bpeUnigram(s: SparkSession, d: String): DataFrame = {
    val m = trainModel(s, d)
    val counts = m.segs.last
      .select(explode(col("seg")).as("piece"), col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
    val allChars = m.vocab
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("piece"))
      .distinct()
    val model = allChars.join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .unionByName(counts.filter(length(col("piece")) >= 2))
    val tot = counts.agg(sum(col("cnt")).as("t"))
    model.crossJoin(broadcast(tot))
      .selectExpr("piece", "cnt",
        "CAST(length(bin(t div greatest(cnt, 1))) AS INT) AS cost_bits")
  }

  /** The EM receipt: per round, how many pieces the Viterbi pass
    * actually used and the corpus's total bit cost under the model
    * that produced the pass — the monotonicity a training run watches
    * (each round's re-estimated costs re-segment the corpus cheaper;
    * UnigramSpec pins the non-increase on the planted corpus and both
    * test SFs). */
  def unigramRounds(s: SparkSession, d: String): DataFrame = {
    val m = trainModel(s, d)
    (1 to Rounds).map { r =>
      val seg = m.segs(r - 1)
      val pieces = seg.select(explode(col("seg")).as("piece"))
        .agg(countDistinct(col("piece")).as("n_pieces"))
      val bits = seg.agg(sum(col("wcnt") * col("wbits")).as("total_bits"))
      pieces.crossJoin(bits)
        .select(lit(r).as("round"), col("n_pieces"), col("total_bits"))
    }.reduce(_ unionByName _)
  }

  /** INFERENCE: segment the 100 most frequent words under the final
    * trained model — the same unrolled scan-side Viterbi, model as a
    * literal map (tokenizing a corpus under a shipped model is this
    * exact plan: zero joins, zero shuffles past the vocab build). */
  def unigramSegment(s: SparkSession, d: String): DataFrame = {
    val m = trainModel(s, d)
    val top = m.vocab.orderBy(col("wcnt").desc, col("w")).limit(100)
    segmented(top, m.costs.last)
      .select(col("w"), col("wcnt"),
        array_join(col("seg"), "|").as("toks_str"),
        size(col("seg")).as("n_toks"),
        col("wbits"))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle: the ENTIRE training re-derived — seed inventory,
  // three unrolled EM rounds (each a lateral-alias Viterbi DP over
  // the vocabulary against the previous round's cost map), pruning,
  // and the final projections. A hash match proves the TRAINING
  // agrees (tie-breaks, pruning, bit costs), not just a table dump.
  // ---------------------------------------------------------------

  /** The Viterbi DP as a chain of MATERIALIZED step CTEs over
    * `rel(w, wcnt)` against cost-map CTE `cm(m)`, ending in CTE
    * `$prefix(w, wcnt, seg, wbits)`. One step per CTE is load-bearing:
    * DuckDB expands lateral aliases (and inlines unmaterialized CTEs)
    * TEXTUALLY with no sharing, so a 12-deep DP whose every cell
    * references 4 predecessors would explode to a 4¹²-node expression
    * tree — materializing each step keeps b_{j−1} a stored column. */
  private[analytics] def dpCtes(prefix: String, rel: String, cm: String): String = {
    def look(piece: String) = s"coalesce(m[$piece][1], $BigM)"
    val fwd = (1 to MaxW).map { j =>
      val cs = (1 to math.min(PieceMax, j)).map { l =>
        s"b${j - l} + ${look(s"substr(w, ${j - l + 1}, $l)")}"
      }
      val best = if (cs.size == 1) cs.head else s"least(${cs.mkString(", ")})"
      s"""${prefix}f$j AS MATERIALIZED (
          SELECT *, CASE WHEN len(w) >= $j THEN $best END AS b$j
          FROM ${prefix}f${j - 1})"""
    }.mkString(",\n        ")
    val barr = (0 to MaxW).map(j => s"b$j").mkString("[", ", ", "]")
    val bwd = (1 to MaxW).map { k =>
      val arms = (PieceMax to 1 by -1).map { l =>
        s"""WHEN j${k - 1} >= $l AND barr[j${k - 1} - $l + 1]
            + ${look(s"substr(w, j${k - 1} - $l + 1, $l)")}
            = barr[j${k - 1} + 1] THEN $l"""
      }.mkString(" ")
      s"""${prefix}k$k AS MATERIALIZED (
          SELECT *, CASE WHEN l$k > 0
              THEN substr(w, j${k - 1} - l$k + 1, l$k) END AS p$k,
            j${k - 1} - l$k AS j$k
          FROM (
            SELECT *, CASE WHEN j${k - 1} > 0
              THEN CASE $arms ELSE 0 END ELSE 0 END AS l$k
            FROM ${prefix}k${k - 1}) z$k)"""
    }.mkString(",\n        ")
    val ps = (1 to MaxW).map(k => s"p$k").mkString("[", ", ", "]")
    s"""${prefix}f0 AS MATERIALIZED (
          SELECT r.w, r.wcnt, m, 0 AS b0 FROM $rel r CROSS JOIN $cm),
        $fwd,
        ${prefix}k0 AS MATERIALIZED (
          SELECT *, $barr AS barr, len(w) AS j0 FROM ${prefix}f$MaxW),
        $bwd,
        $prefix AS MATERIALIZED (
          SELECT w, wcnt, seg,
            CAST(list_sum(list_transform(seg, p -> ${look("p")}))
              AS BIGINT) AS wbits
          FROM (
            SELECT w, wcnt, m,
              list_reverse(list_filter($ps, x -> x IS NOT NULL)) AS seg
            FROM ${prefix}k$MaxW) z)"""
  }

  /** cost CTE from a count CTE `cnts(piece, cnt)` + alphabet CTE
    * `chars0(piece)`: chars always live (worst-case cost when dead),
    * multi-char pieces only while used. */
  private def costSql(cnts: String): String =
    s"""SELECT piece, CAST(length(bin(
          (SELECT sum(cnt) FROM $cnts) // greatest(cnt, 1))) AS BIGINT) AS cost
        FROM (
          SELECT c0.piece, coalesce(n.cnt, 0) AS cnt
          FROM chars0 c0 LEFT JOIN $cnts n USING (piece)
          UNION ALL
          SELECT piece, cnt FROM $cnts WHERE length(piece) >= 2 AND cnt >= 1)"""

  private[analytics] def trainSql: String = {
    val roundCtes = (1 to Rounds).map { r =>
      s"""${dpCtes(s"seg$r", "vocab", s"cm${r - 1}")},
        cnt$r AS MATERIALIZED (
          SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
            SELECT unnest(seg) AS piece, wcnt FROM seg$r) u GROUP BY 1),
        cost$r AS MATERIALIZED (${costSql(s"cnt$r")}),
        cm$r AS MATERIALIZED (
          SELECT map(list(piece ORDER BY piece),
                     list(cost ORDER BY piece)) AS m FROM cost$r)"""
    }.mkString(",\n        ")
    s"""WITH vocab AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
          WHERE length(w) >= 1 GROUP BY 1),
        seedp AS MATERIALIZED (
          SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
            CAST(sum(wcnt) AS BIGINT) AS cnt
          FROM vocab,
            unnest(generate_series(1, len(w))) AS u(i),
            unnest(generate_series(1, least($PieceMax, len(w) - i + 1))) AS v(l)
          GROUP BY 1),
        chars0 AS MATERIALIZED (
          SELECT piece FROM seedp WHERE length(piece) = 1),
        model0 AS (
          SELECT piece, cnt FROM seedp WHERE length(piece) = 1
          UNION ALL
          SELECT piece, cnt FROM (
            SELECT piece, cnt FROM seedp WHERE length(piece) >= 2
            ORDER BY cnt DESC, piece LIMIT $SeedK) topk),
        cost0 AS MATERIALIZED (
          SELECT piece, CAST(length(bin(
            (SELECT sum(cnt) FROM model0) // greatest(cnt, 1))) AS BIGINT)
            AS cost
          FROM model0),
        cm0 AS MATERIALIZED (
          SELECT map(list(piece ORDER BY piece),
                     list(cost ORDER BY piece)) AS m FROM cost0),
        $roundCtes"""
  }

  val registry: Map[String, QueryDef] = Map(
    "bpe_unigram" -> QueryDef(bpeUnigram _,
      s"""$trainSql
      SELECT piece, cnt,
        CAST(length(bin(
          (SELECT sum(cnt) FROM cnt$Rounds) // greatest(cnt, 1))) AS INT)
          AS cost_bits
      FROM (
        SELECT c0.piece, coalesce(n.cnt, 0) AS cnt
        FROM chars0 c0 LEFT JOIN cnt$Rounds n USING (piece)
        UNION ALL
        SELECT piece, cnt FROM cnt$Rounds WHERE length(piece) >= 2) u"""),
    "unigram_rounds" -> QueryDef(unigramRounds _,
      s"""$trainSql
      ${(1 to Rounds).map { r =>
        s"""SELECT $r AS round,
          (SELECT count(DISTINCT piece) FROM
            (SELECT unnest(seg) AS piece FROM seg$r) x) AS n_pieces,
          (SELECT CAST(sum(wcnt * wbits) AS BIGINT) FROM seg$r)
            AS total_bits"""
      }.mkString(" UNION ALL ")}"""),
    "unigram_segment" -> QueryDef(unigramSegment _,
      s"""$trainSql,
      top AS MATERIALIZED (
        SELECT w, wcnt FROM vocab ORDER BY wcnt DESC, w LIMIT 100),
      ${dpCtes("segf", "top", s"cm$Rounds")}
      SELECT w, wcnt, array_to_string(seg, '|') AS toks_str,
        CAST(len(seg) AS INT) AS n_toks, wbits
      FROM segf"""),
  )
}
