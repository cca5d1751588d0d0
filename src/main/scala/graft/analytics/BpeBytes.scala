package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-level BPE (r14) — the GPT-2/Llama byte-fallback shape the
  * char-lane tokenizers ([[Bpe]], [[Unigram]]) cannot provide: the
  * seed alphabet is the 256 UTF-8 BYTE values, so there is no OOV and
  * no word-length cap — any string, in any script, tokenizes, and
  * decode(encode(x)) = x always (the closure the Unigram MaxW assert
  * can only refuse to violate, closed here by construction).
  *
  * Representation: a byte is its 2-hex-digit token (hex(word) is
  * byte-exact and identically cased on both engines), and a merge of
  * two tokens is their concatenation — so the ENTIRE char-lane
  * machinery transfers verbatim: the island-parity greedy merge
  * ([[Bpe.applyMerge]]), the (count desc, lexicographic) winner rule
  * ([[Bpe.topPair]]), the scan-side inference fold
  * ([[Bpe.segmentCol]]), and the unrolled-CTE oracle rounds
  * ([[Bpe.oracleRound]]). A learned merge can cross a multi-byte
  * character's boundary — "c3|a9" (é) is just another pair — which is
  * the whole point of byte fallback.
  *
  * The corpus is ASCII, so non-ASCII calibration words are planted
  * with the pii_scrub decoration discipline (doc_id-keyed arms:
  * Latin-1 accents, Greek, CJK — each a script the char tokenizers
  * would treat as opaque singletons and none representable in their
  * trained piece inventories).
  *
  * Scale shape: identical to [[Bpe]] — one corpus scan builds the
  * (word, count) vocabulary, every merge round runs on vocab-sized
  * byte tables, inference is a zero-join zero-shuffle fold. Bytes
  * double the symbol-table rows per word versus chars; nothing else
  * changes.
  */
object BpeBytes {

  private val rounds = 5

  /** Non-ASCII plant arms (unicode-escaped: the source file and the
    * oracle SQL stay pure ASCII; the JSON dump ships UTF-8). */
  private val Latin = " caf\u00e9 r\u00e9sum\u00e9"
  private val Latin2 = " na\u00efve fa\u00e7ade"
  private val Greek = " \u03ba\u03cc\u03c3\u03bc\u03b5"
  private val Cjk = " \u65e5\u672c\u8a9e"

  private val decSql =
    s"""text
      || CASE WHEN doc_id % 9 = 2 THEN '$Latin' ELSE '' END
      || CASE WHEN doc_id % 9 = 5 THEN '$Latin2' ELSE '' END
      || CASE WHEN doc_id % 9 = 7 THEN '$Greek' ELSE '' END
      || CASE WHEN doc_id % 21 = 3 THEN '$Cjk' ELSE '' END"""

  private def decorated: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 9 === 2, lit(Latin)).otherwise(""),
      when(id % 9 === 5, lit(Latin2)).otherwise(""),
      when(id % 9 === 7, lit(Greek)).otherwise(""),
      when(id % 21 === 3, lit(Cjk)).otherwise(""))
  }

  /** (word, wcnt) over the planted corpus — NO length cap (the byte
    * lane's contract: everything tokenizes). */
  private def vocab(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(decorated, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wcnt"))

  /** Initial symbol table: one row per (word, byte position, hex-byte
    * token). */
  private def initToks(s: SparkSession, d: String): DataFrame =
    vocab(s, d)
      .withColumn("hx", hex(col("w")))
      .select(col("w"), col("wcnt"), col("hx"),
        explode(sequence(lit(0L), expr("length(hx) div 2 - 1"))).as("pos"))
      .withColumn("tok", col("hx").substr((col("pos") * 2 + 1).cast("int"), lit(2)))
      .select(col("w"), col("wcnt"), col("pos"), col("tok"))

  private def train(s: SparkSession, d: String): (Seq[DataFrame], Seq[(String, String)]) =
    trainMemo.getOrElseUpdate((s, d), Bpe.trainOnce(initToks(s, d), rounds))

  /** One training job per (session, corpus) — the [[Bpe]] memo
    * contract, session-keyed for the same checkpoint-lifetime reason. */
  private val trainMemo =
    new Caches.SessionMemo[(Seq[DataFrame], Seq[(String, String)])]

  /** The learned byte-merge table (the bpe_merges shape: each round's
    * winner re-derived as a one-row plan over that round's
    * checkpointed byte table). */
  def bpeBytes(s: SparkSession, d: String): DataFrame = {
    val (tables, _) = train(s, d)
    (1 to rounds).map { r =>
      Bpe.topPair(tables(r - 1)).select(
        lit(r).as("merge_rank"), col("a").as("lhs"), col("b").as("rhs"),
        col("cnt"))
    }.reduce(_ unionByName _)
  }

  /** INFERENCE + the round-trip receipt: segment the 100 most frequent
    * words PLUS every multi-byte word (the planted non-ASCII
    * calibration set — kept unconditionally so the byte-fallback
    * evidence can't fall out of the top-k) with the scan-side greedy
    * fold, then DECODE the concatenated token bytes back to a string.
    * `rt` round-trips to `w` for every row — including the scripts the
    * char tokenizers cannot represent — and the oracle recomputes the
    * segmentation through the independent window-parity training
    * tables, so a hash match proves both the greedy semantics and the
    * byte-exact closure. */
  def bpeBytesSegment(s: SparkSession, d: String): DataFrame = {
    val (_, merges) = train(s, d)
    val hx = hex(col("w"))
    val bytes = transform(
      sequence(lit(1), expr("length(hex(w)) div 2").cast("int")),
      i => hx.substr((i - 1) * 2 + 1, lit(2)))
    val toks = Bpe.segmentCol(bytes, merges)
    val v = vocab(s, d)
    val top = v.orderBy(col("wcnt").desc, col("w")).limit(100)
    val mb = v.filter(length(hex(col("w"))) > length(col("w")) * 2)
    top.unionByName(mb).distinct()
      .select(col("w"), col("wcnt"),
        expr("CAST(length(hex(w)) div 2 AS INT)").as("n_bytes"),
        size(toks).as("n_toks"),
        array_join(toks, "|").as("toks_str"),
        decode(unhex(concat_ws("", toks)), "UTF-8").as("rt"))
  }


  // ---------------------------------------------------------------
  // DuckDB oracle: the byte-table seed + the SAME unrolled merge
  // rounds as the char lane (Bpe.oracleRound — token identity is the
  // hex string, so the round SQL is unchanged), re-deriving the
  // training from scratch; the segment oracle reads the final symbol
  // table (window-parity path) where Spark runs the greedy fold.
  // ---------------------------------------------------------------

  private def oracleBase =
    s"""WITH words AS (
        SELECT w, count(*) AS wcnt FROM (
          SELECT unnest(string_split($decSql, ' ')) AS w FROM documents) z
        WHERE length(w) > 0 GROUP BY 1),
      t0 AS MATERIALIZED (
        SELECT w, wcnt, pos,
          substr(hex(w), CAST(pos * 2 + 1 AS INT), 2) AS tok FROM (
          SELECT w, wcnt, unnest(range(0, length(hex(w)) // 2)) AS pos
          FROM words) u)"""

  private def oracleTraining: String =
    oracleBase + ",\n" + (1 to rounds).map(Bpe.oracleRound).mkString(",\n")

  val registry: Map[String, QueryDef] = Map(
    "bpe_bytes" -> QueryDef(bpeBytes _,
      (oracleTraining + "\n" +
      "SELECT merge_rank, lhs, rhs, cnt FROM (" +
      (1 to rounds).map(r =>
        s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt FROM top$r")
        .mkString(" UNION ALL ") + ") u")),
    "bpe_bytes_segment" -> QueryDef(bpeBytesSegment _,
      (oracleTraining + s""",
      mb AS (SELECT w, wcnt FROM words WHERE length(hex(w)) > 2 * length(w)),
      topw AS (SELECT w, wcnt FROM words ORDER BY wcnt DESC, w LIMIT 100),
      pop AS (SELECT DISTINCT w, wcnt FROM (
        SELECT * FROM topw UNION ALL SELECT * FROM mb) q),
      seg AS (SELECT w, string_agg(tok, '|' ORDER BY pos) AS toks_str,
          count(*) AS n_toks, string_agg(tok, '' ORDER BY pos) AS hx
        FROM t$rounds GROUP BY w)
      SELECT pop.w, pop.wcnt,
        CAST(length(hex(pop.w)) // 2 AS INT) AS n_bytes,
        CAST(seg.n_toks AS INT) AS n_toks, seg.toks_str,
        decode(unhex(seg.hx)) AS rt
      FROM pop JOIN seg ON seg.w = pop.w""")),
  )
}
