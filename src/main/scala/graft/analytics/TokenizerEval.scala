package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer evaluation (r13) — the comparison table a team builds
  * before committing a pre-training run to a tokenizer: FERTILITY
  * (subword tokens per whitespace word) and COMPRESSION (characters
  * per subword token) per source, side by side for the two trained
  * tokenizers this engine owns — the BPE merges ([[Bpe]]) and the
  * unigram-LM pieces ([[Unigram]]). High fertility on a source means
  * its text fragments badly under that tokenizer (the effective
  * context window shrinks and training FLOPs inflate) — exactly the
  * per-domain diagnostic the mixture planner reads next to
  * token_budget.
  *
  * Exact arithmetic: token prices are integer counts from each
  * tokenizer's own pricing machinery (per-word token counts joined to
  * per-(source, word) occurrence counts — the corpus scans once per
  * side, everything else is vocab-sized); the ratios are exact ppm
  * via truncating division. Both trainings are memoized per corpus
  * (the one-training-job workflow), so the board query pays two
  * vocab-sized joins.
  *
  * The DuckDB oracle re-derives BOTH tokenizers from scratch (the Bpe
  * and Unigram training chains composed in one WITH — their CTE
  * namespaces are disjoint by construction), so the fertility table
  * is pinned against two independently re-trained models. */
object TokenizerEval {

  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    // BPE side: per-(source, word) counts joined with trained
    // per-word BPE token counts (Bpe.pricedWords), rolled to source
    val bpe = Bpe.pricedWords(s, d, "source")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * length(col("w"))).as("n_chars"),
        sum(col("c") * col("ntok")).as("bpe_toks"))
    // unigram side: the final trained segmentation prices every vocab
    // word; the same (source, word) counts join it
    val m = Unigram.trainModel(s, d)
    val up = m.segs.last.select(col("w"), size(col("seg")).as("np"))
    val uni = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .join(up, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("c") * col("np")).as("uni_toks"))
    bpe.join(uni, Seq("source"))
      .selectExpr("source", "n_words", "n_chars", "bpe_toks", "uni_toks",
        "(bpe_toks * 1000000) div n_words AS bpe_fert_ppm",
        "(uni_toks * 1000000) div n_words AS uni_fert_ppm",
        "(n_chars * 1000000) div bpe_toks AS bpe_cpt_ppm",
        "(n_chars * 1000000) div uni_toks AS uni_cpt_ppm")
  }

  val registry: Map[String, QueryDef] = Map(
    // both trainings composed: Bpe's unrolled merge rounds (words/
    // t0..t5) + pricing join (wtc/dw), and Unigram's seed + EM chain
    // + a full-vocab segmentation under the final cost map
    "tokenizer_fertility" -> QueryDef(tokenizerFertility _,
      s"""${Unigram.trainSql},
      ${Unigram.dpCtes("segall", "vocab", s"cm${Unigram.Rounds}")},
      up AS (SELECT w, len(seg) AS np FROM segall),
      ${Bpe.oracleTraining.replaceFirst("WITH ", "")}
      ${Bpe.pricingCtes("source").replaceFirst(",", ",")},
      bpe AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
          CAST(sum(c * length(w)) AS BIGINT) AS n_chars,
          CAST(sum(c * ntok) AS BIGINT) AS bpe_toks
        FROM dw JOIN wtc USING (w) GROUP BY source),
      uni AS (
        SELECT source, CAST(sum(c * np) AS BIGINT) AS uni_toks
        FROM dw JOIN up USING (w) GROUP BY source)
      SELECT source, n_words, n_chars, bpe_toks, uni_toks,
        (bpe_toks * 1000000) // n_words AS bpe_fert_ppm,
        (uni_toks * 1000000) // n_words AS uni_fert_ppm,
        (n_chars * 1000000) // bpe_toks AS bpe_cpt_ppm,
        (n_chars * 1000000) // uni_toks AS uni_cpt_ppm
      FROM bpe JOIN uni USING (source)"""),
  )
}
