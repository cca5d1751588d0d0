package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE tokenizer training over the `documents` table — the missing
  * piece between token counting (`text_token_regex`) and vocabulary
  * building (`vocab_topk`) in the LLM-pipeline EXT surface: learn the
  * first merge rules of a byte-pair encoder from corpus statistics,
  * then price every document in tokens-under-that-tokenizer.
  *
  * Scale shape: BPE trains on the DISTINCT-WORD table (vocab), not the
  * corpus — one corpus scan builds `(word, count)`, and every round
  * after that runs on vocab-sized data (≪ corpus; the classic
  * Sennrich'16 formulation). Pair counting is a grouped aggregation
  * weighted by word frequency; the winning pair per round is collected
  * as index METADATA (one row — the same driver-side step as the IVF
  * k-means centroids), and merge application is distributed.
  *
  * Greedy left-to-right merge application is made order-free by a
  * gaps-and-islands argument: two candidate sites of the same pair
  * (a,b) conflict iff they sit at CONSECUTIVE positions (which forces
  * a = b, a run of the same symbol); greedy keeps every other site of
  * each maximal consecutive-candidate island, starting at the first.
  * That turns the inherently sequential scan into two window functions
  * partitioned by word — deterministic, engine-neutral, and proven
  * equal to a sequential reference fold in BpeSpec. Ties in pair
  * counts break lexicographically, so the whole training run is
  * cross-engine reproducible and the DuckDB oracle re-derives the
  * same merges from scratch (unrolled MATERIALIZED CTEs).
  */
object Bpe {

  private val rounds = 5

  /** (word, wcnt) vocabulary with corpus frequencies — the one
    * corpus-wide aggregation; everything downstream is vocab-sized. */
  private def vocab(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wcnt"))

  /** Initial symbol table: one row per (word, position, character). */
  private def initToks(s: SparkSession, d: String): DataFrame =
    vocab(s, d)
      .select(col("w"), col("wcnt"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("pos"))
      .withColumn("tok", col("w").substr(col("pos") + 1, lit(1)))

  private def byW = Window.partitionBy("w").orderBy("pos")

  /** Adjacent-pair frequency table for one round, weighted by word
    * frequency, with the round winner first (count desc, then
    * lexicographic — the deterministic tie-break). */
  private[graft] def topPair(toks: DataFrame): DataFrame =
    toks.withColumn("nxt", lead(col("tok"), 1).over(byW))
      .filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("a"), col("nxt").as("b"))
      .agg(sum(col("wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)

  /** Apply one merge (a,b)→ab greedily to the symbol table. Candidate
    * sites are filtered scan-side against the literal pair; the
    * island-parity windows implement greedy non-overlap exactly
    * (see object scaladoc); positions are renumbered densely so the
    * next round sees a clean symbol table. */
  private[graft] def applyMerge(toks: DataFrame, a: String, b: String): DataFrame = {
    val cand = toks.withColumn("nxt", lead(col("tok"), 1).over(byW))
      .filter(col("tok") === lit(a) && col("nxt") === lit(b))
      .select(col("w"), col("pos"))
    val sel = cand
      .withColumn("g", col("pos") - row_number().over(byW))
      .withColumn("rn", row_number().over(Window.partitionBy("w", "g").orderBy("pos")))
      .filter(col("rn") % 2 === 1)
      .select(col("w"), col("pos"))
    toks
      .join(sel.withColumn("here", lit(1)), Seq("w", "pos"), "left")
      .join(sel.select(col("w"), (col("pos") + 1).as("pos"), lit(1).as("dropped")),
        Seq("w", "pos"), "left")
      .filter(col("dropped").isNull)
      .withColumn("tok2", when(col("here") === 1, lit(a + b)).otherwise(col("tok")))
      .withColumn("pos2", row_number().over(byW) - 1)
      .select(col("w"), col("wcnt"), col("pos2").as("pos"), col("tok2").as("tok"))
  }

  private def train(s: SparkSession, d: String): (Seq[DataFrame], Seq[(String, String)]) =
    trainMemo.getOrElseUpdate((s, d), trainOnce(initToks(s, d), rounds))

  /** Training is deterministic per corpus and the per-round symbol
    * tables are already localCheckpoint'd — so a session trains each
    * corpus ONCE and the five consuming queries (merges/encode/
    * segment/token_budget/tokenizer_fertility) share the result (the
    * trainQualityWeights/Unigram memo precedent, r13; through r12
    * every query re-ran the 5 merge rounds). Keyed by the OWNING
    * SparkSession (r13 advice): the checkpointed tables hold plans
    * bound to the session that built them — a later session in the
    * same JVM must retrain, not inherit dead frames. */
  private val trainMemo =
    new Caches.SessionMemo[(Seq[DataFrame], Seq[(String, String)])]

  /** Run `rounds` merge rounds over the initial symbol table `init`
    * (chars here, hex bytes in [[BpeBytes]]). Returns the per-round
    * symbol tables (index 0 = `init`) — each localCheckpoint'd, both to
    * sever the join/window lineage between rounds (the dedup_clusters
    * precedent) and because round r+1's plan would otherwise recompute
    * round r three times — and the merged pairs. The collected winner
    * rows are tokenizer metadata, not data. */
  private[analytics] def trainOnce(init: DataFrame,
      rounds: Int): (Seq[DataFrame], Seq[(String, String)]) = {
    var toks = init.localCheckpoint(true)
    val tables = Seq.newBuilder[DataFrame]
    val pairs = Seq.newBuilder[(String, String)]
    tables += toks
    var exhausted = false
    for (_ <- 1 to rounds) {
      // a degenerate corpus (all words single-symbol) runs out of
      // adjacent pairs: later rounds are no-ops and their winner rows
      // are empty — matching the oracle, whose per-round LIMIT 1 CTEs
      // also come back empty and merge nothing
      val t = if (exhausted) Array.empty[org.apache.spark.sql.Row]
              else topPair(toks).collect()
      if (t.isEmpty) exhausted = true
      else {
        val (a, b) = (t(0).getString(0), t(0).getString(1))
        toks = applyMerge(toks, a, b).localCheckpoint(true)
        pairs += ((a, b))
      }
      tables += toks
    }
    (tables.result(), pairs.result())
  }

  /** The learned merge table — rank, pair, and the weighted pair count
    * that won the round (the tokenizer artifact you'd ship). Each
    * round's winner is re-derived as a one-row plan over that round's
    * checkpointed symbol table, so the declared query is the real
    * distributed aggregation, not a dump of driver state. */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    val (tables, _) = train(s, d)
    (1 to rounds).map { r =>
      topPair(tables(r - 1)).select(
        lit(r).as("merge_rank"), col("a").as("lhs"), col("b").as("rhs"), col("cnt"))
    }.reduce(_ unionByName _)
  }

  /** Price every document under the trained tokenizer: BPE token
    * count, untrained character-token count, and the integer-exact
    * chars-per-token compression ratio (ppm — `div`, not float
    * division, so the oracle hash-matches). The corpus never carries
    * symbol tables: docs aggregate to (doc, word, count) once, then
    * join the vocab-sized per-word token counts. */
  /** The pricing join both encode-side queries share: (key, w, c) word
    * occurrences joined with the trained per-word token counts. `key`
    * is doc_id for per-doc pricing, source for the budget rollup — one
    * spelling, not two drifting copies. */
  private[analytics] def pricedWords(s: SparkSession, d: String, key: String): DataFrame = {
    val (tables, _) = train(s, d)
    val wtc = tables(rounds).groupBy(col("w")).agg(count(lit(1)).as("ntok"))
    documents(s, d)
      .select(col(key), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(key), col("w"))
      .agg(count(lit(1)).as("c"))
      .join(wtc, Seq("w"))
  }

  def bpeEncode(s: SparkSession, d: String): DataFrame =
    pricedWords(s, d, "doc_id")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("ntok")).as("n_tok_bpe"),
        sum(col("c") * length(col("w"))).as("n_tok_char"))
      .withColumn("char_per_tok_ppm", expr("(n_tok_char * 1000000) div n_tok_bpe"))

  /** Greedy application of the learned merges to a char-array column —
    * the INFERENCE path: one chained left-fold (`aggregate` HOF) per
    * merge rule, all built-in codegen'd expressions, so tokenizing a
    * 100 TB corpus is a pure scan with no joins and no shuffles. The
    * fold IS greedy left-to-right: merge when the accumulator's last
    * token is `a` and the incoming symbol is `b` (a just-formed "ab"
    * can't chain — token strings are the symbol identity). Proven
    * equal to the island-parity training path in BpeSpec. */
  private[graft] def segmentCol(chars: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(chars) { case (acc, (a, b)) =>
      aggregate(acc, array().cast("array<string>"), (accArr, x) =>
        when(size(accArr) > 0 &&
            element_at(accArr, -1) === lit(a) && x === lit(b),
          concat(slice(accArr, lit(1), size(accArr) - 1), array(lit(a + b))))
          .otherwise(concat(accArr, array(x))))
    }

  /** Tokenizer APPLICATION: segment the 100 most frequent words with
    * the scan-speed fold above. The oracle computes the same
    * segmentation through the completely independent window-parity
    * CTE path (the training tables), so a hash match proves the two
    * strategies implement the same greedy semantics. */
  def bpeSegment(s: SparkSession, d: String): DataFrame = {
    val (_, merges) = train(s, d)
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val toks = segmentCol(chars, merges)
    vocab(s, d)
      .orderBy(col("wcnt").desc, col("w")).limit(100)
      .select(col("w"), col("wcnt"),
        array_join(toks, "|").as("toks_str"), size(toks).as("n_toks"))
  }

  /** Pre-training token budget: how many tokens does each SOURCE
    * contribute under the trained tokenizer, and what corpus share is
    * that? The planning table every pre-training data mix starts from
    * (mixture weights are set in tokens, not documents — sources with
    * verbose boilerplate inflate document counts but not useful
    * tokens). Same vocab-sized pricing join as `bpe_encode`, rolled up
    * to the bounded source key; the share is an exact ppm via a
    * DECIMAL(28,0) cast (28 + 7 multiply digits + 1 stays ≤ 38, so
    * Spark never caps the precision; DuckDB's lane is HUGEINT),
    * making the budget overflow-free at any corpus size. */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val per = pricedWords(s, d, "source")
      .groupBy(col("source"))
      .agg(sum(col("c") * col("ntok")).as("n_tok_bpe"),
        sum(col("c")).as("n_words"))
    val tot = per.agg(sum(col("n_tok_bpe")).as("tot_bpe"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tok_bpe"), col("n_words"),
        expr("CAST(n_tok_bpe AS DECIMAL(28,0)) * 1000000 div tot_bpe")
          .as("share_ppm"))
  }

  /** Vocabulary-size planning curve (r14): corpus token count and
    * chars-per-token compression after the first r merges, r = 0..5 —
    * the diminishing-returns table a team reads to pick a vocab size
    * (BPE's prefix property makes every vocab size a PREFIX of one
    * training run: merge r's table IS the r-merge tokenizer, so the
    * whole curve costs zero extra training). Each point is one
    * wcnt-weighted count over that round's checkpointed symbol table
    * (vocab-sized); delta_tokens is the marginal saving of merge r —
    * monotone non-increasing marginal gains are the classic curve
    * shape, visible in data. Exact ppm lanes throughout. */
  def bpeVocabCurve(s: SparkSession, d: String): DataFrame = {
    val (tables, _) = train(s, d)
    val chars = tables(0).agg(sum(col("wcnt")).as("n0"))
    (0 to rounds).map { r =>
      tables(r).agg(sum(col("wcnt")).as("n_tokens"))
        .crossJoin(broadcast(chars))
        .select(lit(r).as("n_merges"), col("n_tokens"),
          expr("CAST(CAST(n0 AS DECIMAL(28,0)) * 1000000 div n_tokens AS BIGINT)")
            .as("char_per_tok_ppm"))
    }.reduce(_ unionByName _)
      .withColumn("delta_tokens",
        coalesce(lag(col("n_tokens"), 1)
          .over(Window.orderBy(col("n_merges"))) - col("n_tokens"), lit(0L)))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle: the full training unrolled as MATERIALIZED CTEs
  // (each round reads the previous table 3×; without materialization
  // the CTE tree re-evaluates exponentially). The winner feeds the
  // next round through scalar subqueries — DuckDB derives the merges
  // itself, so a hash match proves the TRAINING agrees, not just the
  // final projection.
  // ---------------------------------------------------------------

  private val oracleBase =
    """WITH words AS (
        SELECT w, count(*) AS wcnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
        WHERE length(w) > 0 GROUP BY 1),
      t0 AS MATERIALIZED (
        SELECT w, wcnt, pos, substr(w, CAST(pos + 1 AS INT), 1) AS tok FROM (
          SELECT w, wcnt, unnest(range(0, length(w))) AS pos FROM words) u)"""

  private[analytics] def oracleRound(r: Int): String = {
    val p = r - 1
    s"""p$r AS (SELECT tok AS a, nxt AS b, sum(wcnt) AS cnt FROM (
          SELECT wcnt, tok, lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM t$p) z
        WHERE nxt IS NOT NULL GROUP BY 1, 2),
      top$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
      c$r AS (SELECT w, pos FROM (
          SELECT w, pos, tok, lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM t$p) z
        WHERE tok = (SELECT a FROM top$r) AND nxt = (SELECT b FROM top$r)),
      s$r AS (SELECT w, pos FROM (
          SELECT w, pos, row_number() OVER (PARTITION BY w, g ORDER BY pos) AS rn FROM (
            SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS g
            FROM c$r) y) z
        WHERE rn % 2 = 1),
      t$r AS MATERIALIZED (
        SELECT w, wcnt, row_number() OVER (PARTITION BY w ORDER BY opos) - 1 AS pos, tok
        FROM (
          SELECT t.w, t.wcnt, t.pos AS opos,
            CASE WHEN m.pos IS NOT NULL THEN (SELECT a || b FROM top$r)
                 ELSE t.tok END AS tok
          FROM t$p t
          LEFT JOIN s$r m  ON t.w = m.w  AND t.pos = m.pos
          LEFT JOIN s$r mp ON t.w = mp.w AND t.pos = mp.pos + 1
          WHERE mp.pos IS NULL) z)"""
  }

  private[analytics] def oracleTraining: String =
    oracleBase + ",\n" + (1 to rounds).map(oracleRound).mkString(",\n")

  /** The pricing join's CTE pair (the SQL twin of `pricedWords`) —
    * appended after `oracleTraining`, parameterized by the rollup key. */
  private[analytics] def pricingCtes(key: String): String =
    s""",
      wtc AS (SELECT w, count(*) AS ntok FROM t$rounds GROUP BY 1),
      dw AS (SELECT $key, w, count(*) AS c FROM (
          SELECT $key, unnest(string_split(text, ' ')) AS w FROM documents) z
        WHERE length(w) > 0 GROUP BY 1, 2)"""

  val registry: Map[String, QueryDef] = Map(
    "bpe_merges" -> QueryDef(bpeMerges _,
      (oracleTraining + "\n" +
      "SELECT merge_rank, lhs, rhs, cnt FROM (" +
      (1 to rounds).map(r =>
        s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt FROM top$r")
        .mkString(" UNION ALL ") + ") u")),
    "bpe_encode" -> QueryDef(bpeEncode _,
      (oracleTraining + pricingCtes("doc_id") + s"""
      SELECT doc_id,
        CAST(sum(c * ntok) AS BIGINT) AS n_tok_bpe,
        CAST(sum(c * length(w)) AS BIGINT) AS n_tok_char,
        CAST((sum(c * length(w)) * 1000000) // sum(c * ntok) AS BIGINT)
          AS char_per_tok_ppm
      FROM dw JOIN wtc USING (w) GROUP BY 1""")),
    "bpe_segment" -> QueryDef(bpeSegment _,
      (oracleTraining + s""",
      top AS (SELECT w, wcnt FROM words ORDER BY wcnt DESC, w LIMIT 100),
      seg AS (SELECT w, string_agg(tok, '|' ORDER BY pos) AS toks_str,
          count(*) AS n_toks
        FROM t$rounds GROUP BY w)
      SELECT top.w, top.wcnt, seg.toks_str, CAST(seg.n_toks AS INT) AS n_toks
      FROM top JOIN seg ON top.w = seg.w""")),
    // bpe_encode's pricing join rolled to source; share in the HUGEINT
    // lane (== Spark DECIMAL(38,0) div)
    // one wcnt-weighted count per checkpointed round table; r = 0 is
    // the char tokenizer, so its count doubles as the char total
    "bpe_vocab_curve" -> QueryDef(bpeVocabCurve _,
      (oracleTraining + s""",
      cv AS (${(0 to rounds).map(r =>
        s"SELECT $r AS n_merges, CAST(sum(wcnt) AS BIGINT) AS n_tokens FROM t$r")
        .mkString(" UNION ALL ")}),
      c0 AS (SELECT CAST(sum(wcnt) AS BIGINT) AS n0 FROM t0)
      SELECT n_merges, n_tokens,
        CAST((CAST(n0 AS HUGEINT) * 1000000) // n_tokens AS BIGINT)
          AS char_per_tok_ppm,
        CAST(coalesce(lag(n_tokens) OVER (ORDER BY n_merges) - n_tokens, 0)
          AS BIGINT) AS delta_tokens
      FROM cv CROSS JOIN c0""")),
    "token_budget" -> QueryDef(tokenBudget _,
      (oracleTraining + pricingCtes("source") + s""",
      per AS (
        SELECT source, sum(c * ntok) AS n_tok_bpe, sum(c) AS n_words
        FROM dw JOIN wtc USING (w) GROUP BY source),
      tot AS (SELECT sum(n_tok_bpe) AS tot_bpe FROM per)
      SELECT source, CAST(n_tok_bpe AS BIGINT) AS n_tok_bpe,
        CAST(n_words AS BIGINT) AS n_words,
        CAST((n_tok_bpe * 1000000) // tot_bpe AS BIGINT) AS share_ppm
      FROM per CROSS JOIN tot""")),
  )
}
