package graft.analytics

import graft.analytics.Caches.TrackedPersist
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` table (north-star EXT surface, BASELINE.json): token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * All pure narrow projections built from codegen'd built-ins and
  * higher-order functions — no UDFs, no shuffle, linear scale-out; at
  * 100 TB these run at parquet-scan speed with full column pruning.
  */
object TextAnalysis {

  private val toks = split(col("text"), " ")

  /** Whitespace token + distinct-token counts per document. */
  def textTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"))

  /** Quality heuristics: stopword ratio, mean token length, and a
    * rule-based keep/drop verdict (the shape of a Gopher/C4-style
    * quality filter; thresholds are illustrative).
    * Ratios are single double divisions of exact ints — cross-engine
    * deterministic (see Tables). */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val nTok  = size(toks)
    val nStop = size(filter(toks, t => t === "a" || t === "the"))
    val chars = length(regexp_replace(col("text"), " ", ""))
    documents(s, d).select(
      col("doc_id"),
      col("n_chars"),
      nTok.as("n_tokens"),
      (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
      (chars.cast("double") / nTok.cast("double")).as("avg_token_len"),
      // INT verdict, not BOOLEAN (driver-hash representation hazard)
      (nTok.between(20, 400) &&
        (nStop.cast("double") / nTok.cast("double")) < lit(0.3))
        .cast("int").as("quality_ok"))
  }

  /** Regex (BPE-ish) tokenizer stats: word-like tokens vs punctuation
    * marks — the pre-tokenization split a byte-pair encoder sees. */
  def textTokenRegex(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+"), lit(0)))
        .as("n_word_tokens"),
      size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0)))
        .as("n_punct"))

  /** Marker-token language scoring: per-language stopword-hit ratio,
    * argmax with deterministic tie-break (higher score wins, then
    * alphabetical language code; all-zero → "und"). The n-gram-profile
    * method degenerates to marker tokens on this single-vocabulary
    * synthetic corpus, but the operator shape (score columns + argmax)
    * is the real algorithm. */
  private def langRatio(markers: Seq[String]): Column = {
    val hits = size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))
    hits.cast("double") / size(toks).cast("double")
  }
  private def langScores: Seq[(String, Column)] = Seq(
    "en" -> langRatio(Seq("the", "a", "of")),
    "de" -> langRatio(Seq("der", "die", "das", "und")),
    "fr" -> langRatio(Seq("le", "la", "et")),
    "es" -> langRatio(Seq("el", "los", "y")))

  /** The argmax prediction as a pure per-row expression (shared by
    * langId and langConfusion — both are scan-side). */
  private def predLangCol: Column = {
    val m = langScores.toMap
    val best = greatest(m.values.toSeq: _*)
    when(best === 0, "und")
      .when(m("de") === best, "de")   // alphabetical priority on ties
      .when(m("en") === best, "en")
      .when(m("es") === best, "es")
      .otherwise("fr")
  }

  def langId(s: SparkSession, d: String): DataFrame = {
    val m = langScores.toMap
    documents(s, d).select(
      col("doc_id"),
      m("en").as("score_en"), m("de").as("score_de"),
      m("fr").as("score_fr"), m("es").as("score_es"),
      predLangCol.as("pred_lang"))
  }

  /** Declared-vs-predicted language confusion matrix — the label-noise
    * audit a multilingual corpus runs before trusting its `lang` tags
    * (mislabeled docs poison per-language mixtures and eval splits;
    * here the zh slice has NO marker coverage, so the matrix also
    * surfaces detector blind spots as an `und`/misroute column). One
    * scan: the prediction is the same per-row expression langId uses,
    * so lang and pred_lang come off the same rows — no self-join; one
    * exchange on the bounded lang×pred domain. */
  def langConfusion(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), predLangCol.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("is_match", (col("lang") === col("pred_lang")).cast("int"))

  /** Language-ID confidence: the margin between the best and
    * second-best marker-hit counts — the gate real pipelines use to
    * route "confidently X" vs "ambiguous, keep or re-check" docs.
    * Everything stays in integer hit counts (no ratio division), so
    * the margin is exact; prediction + tie rule match langId. */
  def langIdMargin(s: SparkSession, d: String): DataFrame = {
    def hits(markers: Seq[String]): Column =
      size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))
    val hEn = hits(Seq("the", "a", "of"))
    val hDe = hits(Seq("der", "die", "das", "und"))
    val hFr = hits(Seq("le", "la", "et"))
    val hEs = hits(Seq("el", "los", "y"))
    val sorted = array_sort(array(hEn, hDe, hFr, hEs))
    val best = greatest(hEn, hDe, hFr, hEs)
    documents(s, d).select(
      col("doc_id"),
      when(best === 0, "und")
        .when(hDe === best, "de")   // alphabetical priority on ties
        .when(hEn === best, "en")
        .when(hEs === best, "es")
        .otherwise("fr").as("pred_lang"),
      (element_at(sorted, 4) - element_at(sorted, 3)).cast("long")
        .as("margin_hits"),
      size(toks).cast("long").as("n_tokens"))
  }

  /** Content fingerprint: md5 of case-normalized text (the grouping key
    * for exact dedup; md5 is identical across engines). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      md5(lower(col("text"))).as("fp"))

  /** Rolling-hash fingerprints: a Karp-Rabin-style polynomial fold over
    * tokens (order-sensitive content hash) and a winnowing-style
    * fingerprint (min over 5-gram shingle hashes — robust to small
    * edits, the MOSS/winnowing idea). xxhash64 (the fast production
    * hash) has no DuckDB equivalent, so this variant is spec-tested
    * (identical docs ⇒ identical fingerprints); the DECLARED query is
    * `rollingHashPortable` below, same folds over an md5-derived token
    * hash both engines compute. */
  def rollingHash(s: SparkSession, d: String): DataFrame = {
    // Karp-Rabin over the Mersenne prime 2^31-1: acc stays < p, so
    // acc*31 + tokenHash stays far below 2^63 (ANSI-safe, no overflow)
    val p = lit(2147483647L)
    documents(s, d).select(
      col("doc_id"),
      aggregate(toks, lit(0L),
        (acc, t) => pmod(acc * 31L + pmod(xxhash64(t), p), p))
        .as("poly_hash"),
      array_min(transform(graft.functions.text.shingles(toks, 5),
        sh => xxhash64(sh))).as("winnow_fp"))
  }

  /** Oracle-checkable rolling hash: token hash = low 15 hex digits of
    * md5 (fits BIGINT exactly in both engines), same Karp-Rabin fold
    * and winnowing min as `rollingHash`. */
  def rollingHashPortable(s: SparkSession, d: String): DataFrame = {
    val p = lit(2147483647L)
    def th(t: Column): Column =
      conv(substring(md5(t), 18, 15), 16, 10).cast("long")
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        aggregate(toks, lit(0L), (acc, t) => pmod(acc * 31L + pmod(th(t), p), p))
          .as("poly_hash"),
        array_min(transform(graft.functions.text.shingles(toks, 5),
          sh => th(sh))).as("winnow_fp"))
  }

  /** Bigram frequency table (n-gram language-model counts) via the
    * native shingle expression. */
  def bigrams(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(graft.functions.text.shingles(toks, 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))

  /** Positional word 3-grams via the custom row-generating
    * `NGramGenerator` (`grams` in SQL) — the Catalyst `Generator` tier
    * (see `functions/GeneratorExpressions.scala`): rows stream out of
    * `GenerateExec` instead of materializing a per-document gram array
    * first, and the window ordinal comes for free. Scan-side only —
    * the exchange is the final (gram, pos)-key rollup. */
  def genNgrams(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.registerAll(s)
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .selectExpr("doc_id", "grams(split(text, ' '), 3)")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"), min(col("pos")).as("min_pos"),
        countDistinct(col("doc_id")).as("df"))
  }

  /** Most-salient term per document, TF-IDF-style but ranked on the
    * raw integers (tf desc, corpus df asc, token asc): ln() is not
    * bit-identical across engines, the integer ordering is. Three
    * shuffles — (doc,token) tf, token df, per-doc top-1 window — all on
    * small keys; the document text itself never shuffles. */
  def topTerm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(toks).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tok.distinct().groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    tf.join(df, Seq("token"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_term"), col("tf"), col("df"))
  }

  /** Canonicalization — the normalization stage every ingest runs
    * before hashing/dedup: lowercase, strip non-alphanumerics, collapse
    * whitespace runs, trim. Output is the canonical fingerprint (the
    * key exact-dedup SHOULD group on — raw-text md5 treats "Hello!" and
    * "hello" as distinct docs) plus the normalized length. Pure
    * scan-speed projection. */
  def textNormalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    documents(s, d).select(
      col("doc_id"),
      md5(norm).as("norm_fp"),
      length(norm).as("n_chars_norm"))
  }

  // ---------------------------------------------------------------
  // quality_gopher (r12) — the NAMED Gopher rule bundle (Rae et al.
  // 2021, appendix A: quality filtering) as a DECLARATIVE SuiteLoader
  // tier: mean-word-length band, symbol-to-word ratio, bullet-line
  // and ellipsis-line fractions, stopword presence. The thresholds
  // live in Great-Expectations JSON ([[gopherSuiteJson]]) compiled by
  // the SAME SuiteLoader the pipeline's quality gate runs
  // (LogisticsPipeline.run suitePath — editing the JSON retunes the
  // gate with no code change), and an Expectation's violation flag is
  // a per-row column, so the whole bundle is ONE SCAN: line
  // synthesis, metrics, thresholds and keep-verdict are a single
  // codegen'd projection with zero exchanges at any corpus size. The
  // corpus has no line structure or symbols, so 10-token lines are
  // synthesized with co-rotating bullet/symbol/ellipsis decorations,
  // including three whole-document failure classes (%11: every line
  // bulleted, breaching the 0.9 bullet-fraction cap; %13: every line
  // ellipsis-terminated, breaching 0.3; %17: symbol-heavy, breaching
  // the 0.1 symbol-to-word cap) plus the natural stopword failures.
  // ---------------------------------------------------------------

  private val GopherStops = Seq("the", "a", "of", "and", "to", "in")

  /** The Gopher thresholds as a GE suite document — integer-scaled
    * metric columns (×100/×1000) keep every comparison exact. */
  private[graft] val gopherSuiteJson: String =
    """{"expectations": [
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "mean_word_len_x100",
      |              "min_value": 300, "max_value": 1000}},
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "symbol_ratio_x1000",
      |              "min_value": 0, "max_value": 100}},
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "bullet_frac_x1000",
      |              "min_value": 0, "max_value": 900}},
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "ellipsis_frac_x1000",
      |              "min_value": 0, "max_value": 300}},
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "n_stop_distinct",
      |              "min_value": 2, "max_value": 6}}
      |]}""".stripMargin

  /** The synthesized-line Gopher metrics, per document. */
  private[graft] def gopherMetricsOf(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val id = col("doc_id")
    val tk = toks
    val nL = floor((size(tk) + lit(9)) / lit(10)).cast("int")
    val lines = transform(sequence(lit(0), nL - 1), i =>
      concat(
        when(id % 11 === 0 || (id + i) % 3 === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(tk, i * 10 + 1, lit(10)), " "),
        when(id % 17 === 0 || (id + i) % 5 === 0, lit(" #####")).otherwise(lit("")),
        when(id % 13 === 0 || (id + i) % 4 === 0, lit(" ...")).otherwise(lit(""))))
    // MATERIALIZE the synthesized arrays once per row (r13): higher-
    // order functions are interpreted (no whole-stage codegen), and
    // referencing `lines` from every metric column re-evaluated the
    // whole line synthesis ~12× per row — invisible under a pruned
    // count() but 100× on a full evaluation (the streaming gate
    // exposed it: 32 s vs 0.3 s at sf1). Staged projections survive
    // because CollapseProject refuses to inline a non-cheap expression
    // into multiple consumers.
    val staged = docs
      .withColumn("_lines", lines)
      .withColumn("_words",
        flatten(transform(col("_lines"), l => split(l, " "))))
      .withColumn("_joined", array_join(col("_lines"), "\n"))
    val nStop = GopherStops
      .map(w => when(array_contains(col("_words"), w), 1L).otherwise(0L))
      .reduce(_ + _)
    staged.select(Seq(id) ++ carry.map(col) ++ Seq(
      size(col("_lines")).cast("long").as("n_lines"),
      size(col("_words")).cast("long").as("n_words"),
      aggregate(col("_words"), lit(0L), (acc, w) => acc + length(w))
        .as("_sum_len"),
      (length(col("_joined")) -
        length(regexp_replace(col("_joined"), "#", "")))
        .cast("long").as("_n_hash"),
      ((length(col("_joined")) -
        length(regexp_replace(col("_joined"), "\\.\\.\\.", ""))) / 3)
        .cast("long").as("_n_ell"),
      size(filter(col("_lines"), l => l.startsWith("- ")))
        .cast("long").as("_n_bullet"),
      size(filter(col("_lines"), l => l.endsWith("...")))
        .cast("long").as("_n_ell_line"),
      nStop.as("n_stop_distinct")): _*)
      .withColumn("mean_word_len_x100", expr("_sum_len * 100 div n_words"))
      .withColumn("symbol_ratio_x1000", expr("(_n_hash + _n_ell) * 1000 div n_words"))
      .withColumn("bullet_frac_x1000", expr("_n_bullet * 1000 div n_lines"))
      .withColumn("ellipsis_frac_x1000", expr("_n_ell_line * 1000 div n_lines"))
      .drop("_sum_len", "_n_hash", "_n_ell", "_n_bullet", "_n_ell_line")
  }

  /** Metrics + the JSON-declared gate applied per row: gopher_keep is
    * 1 iff every loaded expectation's violation flag is 0. */
  def qualityGopher(s: SparkSession, d: String): DataFrame =
    qualityGopherOf(documents(s, d))

  private[graft] def qualityGopherOf(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val suite = graft.expect.SuiteLoader.fromJson(gopherSuiteJson)
    val violSum = suite.map(_.violation).reduce(_ + _)
    gopherMetricsOf(docs, carry)
      .withColumn("gopher_keep", when(violSum === 0, 1).otherwise(0))
  }

  // ---------------------------------------------------------------
  // Unicode/encoding hygiene (r12) — the ftfy step every web corpus
  // runs before exact dedup: composed-vs-decomposed accent spellings
  // (NFC vs NFD) silently split canonical keys, classic mojibake
  // (UTF-8 bytes re-decoded as cp1252) corrupts real words, and
  // U+FFFD replacement characters mark byte-level damage that no
  // repair can undo — those gate the document out. The fold table is
  // a BOUNDED literal mapping shared by both engines (a full NFC
  // fold is a Unicode-data walk; the operator contract here is the
  // shared table + the counting/gating shape, which is the real
  // algorithm). Scan-speed projection: pure codegen'd string surgery,
  // zero exchanges at any corpus size.
  // ---------------------------------------------------------------

  /** Fold table, applied in order. Mojibake repairs FIRST — they emit
    * composed characters, never combining marks, so the two stages
    * cannot interact; combining-sequence → NFC folds second. The
    * planted keys are mutually non-overlapping (spec-guarded), so
    * per-entry occurrence counts on the pre-fix text are exact. */
  private[graft] val UnicodeFolds: Seq[(String, String)] = Seq(
    // mojibake repairs (UTF-8 read as cp1252: \u00c3\u00a9 = "A-tilde
    // copyright" is e-acute's UTF-8 byte pair re-decoded; likewise
    // \u00c3\u00a8, and \u00e2\u20ac\u2122 for the right single quote)
    "\u00c3\u00a9" -> "\u00e9",
    "\u00c3\u00a8" -> "\u00e8",
    "\u00e2\u20ac\u2122" -> "\u2019",
    // combining-mark sequences (NFD) -> their NFC composed forms
    "e\u0301" -> "\u00e9",
    "a\u0300" -> "\u00e0",
    "o\u0302" -> "\u00f4",
    "u\u0308" -> "\u00fc",
    "n\u0303" -> "\u00f1",
    "c\u0327" -> "\u00e7")

  private[analytics] val Replacement = "\ufffd"

  /** Render a string as a DuckDB expression — ASCII runs as quoted
    * literals, everything else as chr(codepoint) — so the oracle SQL
    * stays 7-bit clean while spelling the IDENTICAL table. */
  private[analytics] def sqlStr(s: String): String = {
    val parts = Seq.newBuilder[String]
    val run = new StringBuilder
    def flush(): Unit = if (run.nonEmpty) {
      parts += "'" + run.toString.replace("'", "''") + "'"
      run.clear()
    }
    s.foreach { c =>
      if (c >= 0x20 && c < 0x7f) run.append(c)
      else { flush(); parts += s"chr(${c.toInt})" }
    }
    flush()
    val ps = parts.result()
    if (ps.isEmpty) "''" else ps.mkString(" || ")
  }

  /** The shared fold, as a column transform (also the seam the
    * cross-op spec uses: folding BEFORE exact dedup merges the
    * composed/decomposed spellings of one document). */
  private[graft] def unicodeFoldCol(c: Column): Column =
    UnicodeFolds.foldLeft(c) { case (acc, (k, v)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(k), v)
    }

  /** Planted decoration (co-rotating doc_id moduli — the url_canon
    * discipline): decomposed sequences to fold, an already-composed
    * accent that must pass through UNTOUCHED, mojibake signatures,
    * and 1–3 replacement characters on the %7 class. The base corpus
    * is ASCII (the html-extract precondition spec guards it), so the
    * plants are the only non-ASCII content. */
  // the three decoration strings \u2014 ONE definition each, rendered into
  // the Spark plan as literals and into the oracle via sqlStr
  private[analytics] val DecNfd = " cafe\u0301 garc\u0327on"
  private[analytics] val DecNfc = " caf\u00e9"
  private[analytics] val DecMoji = " \u00c3\u00a9clair a\u0300 propos"

  /** The planted decoration over an arbitrary text/key pair \u2014 the key
    * column selects the decoration classes. The board query keys on
    * doc_id; corpus_build keys on a CONTENT hash so exact-duplicate
    * documents decorate identically and the plants can never split a
    * duplicate family (one definition, two keyings). */
  private[analytics] def unicodeDecoratedOf(text: Column, key: Column): Column =
    concat(text,
      when(key % 3 === 0, lit(DecNfd))
        .when(key % 3 === 1, lit(DecNfc))
        .otherwise(lit("")),
      when(key % 5 === 0, lit(DecMoji))
        .otherwise(lit("")),
      when(key % 7 === 0,
        concat(lit(" "), element_at(
          typedlit(Seq(Replacement, Replacement * 2, Replacement * 3)),
          (key % 3 + 1).cast("int"))))
        .otherwise(lit("")))

  private def unicodeDecorated: Column =
    unicodeDecoratedOf(col("text"), col("doc_id"))

  /** DuckDB spelling of [[unicodeDecoratedOf]] \u2014 parameterized by the
    * text/key SQL expressions (the board oracle passes text/doc_id,
    * corpus_build its fixed-key pair). */
  private[analytics] def unicodeDecSqlExpr(textExpr: String, keyExpr: String): String =
    s"""$textExpr
          || CASE WHEN ($keyExpr) % 3 = 0 THEN ${sqlStr(DecNfd)}
                  WHEN ($keyExpr) % 3 = 1 THEN ${sqlStr(DecNfc)}
                  ELSE '' END
          || CASE WHEN ($keyExpr) % 5 = 0 THEN ${sqlStr(DecMoji)}
                  ELSE '' END
          || CASE WHEN ($keyExpr) % 7 = 0
               THEN ' ' || repeat(chr(65533), CAST(1 + ($keyExpr) % 3 AS INT))
               ELSE '' END"""

  /** DuckDB spelling of [[unicodeFoldCol]] over an arbitrary inner
    * expression (the shared fold table, chained replace()s). */
  private[analytics] def unicodeFoldSqlExpr(inner: String): String =
    UnicodeFolds.foldLeft(inner) { case (acc, (k, v)) =>
      s"replace($acc, ${sqlStr(k)}, ${sqlStr(v)})"
    }

  /** decorate → repair/fold → count → gate. n_fixed counts fold
    * substitutions (per-entry occurrence arithmetic on the pre-fix
    * text), n_bad counts unrepairable U+FFFD marks, and the verdict
    * keeps documents at ≤ 1 replacement char per 1000 chars — the
    * mojibake-rate gate. The sha pins the repaired text bit-exactly. */
  def textUnicodeFix(s: SparkSession, d: String): DataFrame = {
    val dec = unicodeDecorated
    val nFixed = UnicodeFolds.map { case (k, _) =>
      ((length(dec) - length(regexp_replace(dec,
        java.util.regex.Pattern.quote(k), ""))) / k.length).cast("long")
    }.reduce(_ + _)
    val fixed = unicodeFoldCol(dec)
    val nBad = (length(fixed) -
      length(regexp_replace(fixed, Replacement, ""))).cast("long")
    documents(s, d)
      .select(col("doc_id"),
        nFixed.as("n_fixed"),
        nBad.as("n_bad"),
        length(fixed).cast("long").as("n_chars_fixed"),
        sha2(fixed, 256).as("fixed_sha"))
      .withColumn("bad_per_kchar", expr("n_bad * 1000 div n_chars_fixed"))
      .withColumn("keep",
        (col("n_bad") * 1000 <= col("n_chars_fixed")).cast("int"))
  }

  /** Repetition score: the fraction of a document's bigrams taken by
    * its single most frequent bigram — the cheap detector for looping /
    * boilerplate text (degenerate generations, templated spam) that a
    * quality filter gates on. Two aggregations on (doc_id[, bigram])
    * keys; the ratio is one double division of exact integers. */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.text.shingles(toks, 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("top_cnt"),
        (col("top_cnt").cast("double") / col("n_bigrams").cast("double"))
          .as("rep_ratio"))

  /** Stratified (balanced) sampling: cap every language stratum at 40
    * docs, chosen by a deterministic md5-of-id order — downsampling the
    * over-represented languages is how a multilingual training mix is
    * rebalanced. Same stable-hash-order idea as `sample_det`, per
    * stratum; one shuffle on the tiny (lang) key. */
  def sampleStratified(s: SparkSession, d: String, cap: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
  }

  /** Corpus-LM likelihood proxy: each document scored by the MEAN
    * corpus frequency of its bigrams — the integer-exact stand-in for
    * an n-gram LM perplexity filter (log-probabilities are not
    * cross-engine reproducible; raw count sums are). Gibberish and
    * OCR noise sit at the bottom of this score, templated text at the
    * top. Two aggregations + one join, all on bigram/doc_id keys; at
    * 100 TB the LM count table is the broadcast side once df-capped. */
  def textLmScore(s: SparkSession, d: String): DataFrame = {
    val bg = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.text.shingles(toks, 2)).as("bigram"))
    val lm = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    bg.join(lm, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        (col("sum_freq").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_freq"))
  }

  /** Top-5 salient terms per document, scored tf·idf with the LOG-FREE
    * odds idf — idf = (N − df + 0.5)/(df + 0.5), the inside of BM25's
    * ln() — because ln is not bit-identical across engines while this
    * rational form is: every input is an exact integer-derived double
    * and each IEEE op is correctly rounded, so the score (and therefore
    * the rank order) is reproducible anywhere. Per-term ranking under a
    * monotone idf transform is the same algorithm, differently scaled.
    *
    * Scale: the doc text never shuffles — only (doc_id, token) pairs
    * do. Three hash shuffles (tf, df, per-doc top-k window) on small
    * keys; N rides along as a broadcast 1-row aggregate, never a
    * driver-side action. The df table is vocabulary-sized (≪ corpus)
    * and joins on its own key. */
  def textTfidf(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(toks).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tok.distinct().groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n  = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") *
      ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"),
        col("score"))
  }

  /** BM25 keyword retrieval: score every document against a fixed
    * query-term set. Same log-free odds idf as `textTfidf`; the tf
    * saturation term is the standard k1/b form (k1=1.2, b=0.75).
    * Per-term contributions are fixed-point-quantized (floor·10⁹ →
    * exact long sum → one double division) so the per-doc Σ is
    * independent of evaluation order AND cross-engine exact — the same
    * trick that oracle-proofs agg_stats and the IVF k-means.
    *
    * Scale: the token explode filters to query terms IMMEDIATELY (the
    * filter rides the scan; post-filter volume ∝ matches, not corpus),
    * the df/stats sides are broadcast (query-sized and 1 row), and the
    * only shuffles are the two (doc_id…) aggregations. */
  def textBm25(s: SparkSession, d: String,
      terms: Seq[String] = Seq("spark", "window", "merge")): DataFrame = {
    val docs = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), size(toks).as("dl"), col("text"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfd = col("tf").cast("double")
    // 2.2 spelled as ONE literal (k1+1): both engines parse the same
    // nearest-double; computing 1.2+1.0 at runtime could round once more
    val denom = tfd + lit(1.2) * (lit(1.0) - lit(0.75) +
      lit(0.75) * col("dl").cast("double") / col("avgdl"))
    val contrib = idf * (tfd * lit(2.2)) / denom
    tf.join(broadcast(df), Seq("token")).crossJoin(broadcast(stats))
      .select(col("doc_id"), floor(contrib * lit(1e9)).cast("long").as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        (sum(col("c")).cast("double") / lit(1e9)).as("bm25"))
  }

  /** Tokenizer-vocabulary build: the top-`topK` tokens by corpus
    * frequency with contiguous ids in (count desc, token) order — the
    * id-assignment step of training a word-level tokenizer. The global
    * row_number window looks like a scale smell but only ever sees the
    * topK rows that survive the TakeOrderedAndProject (vocabulary =
    * index metadata, like IVF centroids); the corpus-sized work is one
    * hash aggregation. */
  /** Inverted-index construction — the retrieval-side counterpart to
    * the BM25 SCORER (`text_bm25`): token → document frequency +
    * ordered posting list. One (doc, token) distinct collapse, one
    * token shuffle; postings serialize as an ordered comma string (a
    * sortable scalar the driver can hash). The df band — at least 2
    * docs, at most 80% of the corpus — drops hapaxes and stopwords
    * (whose postings a real index stores as skip-list blocks, not
    * verbatim); the cap is RELATIVE (multiply-through exact integers,
    * df·10 ≤ 8·N against a 1-row broadcast count) so the same query
    * is meaningful at every corpus size. */
  def textInverted(s: SparkSession, d: String, dfMin: Int = 2): DataFrame = {
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
      .distinct()
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"),
        // sort NUMERICALLY first, stringify after (string order would
        // put doc 10 before doc 9)
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("postings"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= dfMin && col("df") * 10 <= col("n_docs") * 8)
      .drop("n_docs")
  }

  def vocabBuild(s: SparkSession, d: String, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(topK)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))) - 1)
      .select(col("token_id"), col("token"), col("cnt"))
  }

  /** Token-count histogram (25-token buckets) — the corpus-shape
    * overview every curation run starts with. Integer bucket
    * arithmetic (n − n % 25), cross-engine exact. */
  def textHistogram(s: SparkSession, d: String): DataFrame = {
    val n = size(toks)
    documents(s, d)
      .groupBy((n - pmod(n, lit(25))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Token-collision (Simpson) index per document: Σc²/n² over the
    * token frequency vector — the log-free concentration measure
    * (1 / effective vocabulary size). It flags repetitive/spam docs
    * the way low-entropy filters do, but with exact integer Σc² and n
    * (ln() is not cross-engine-safe; integer sums are) and one final
    * double division. Shuffle key is (doc_id, token) — 16-byte rows,
    * never the text. */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("doc_id"), col("n_tokens"), col("sum_sq"),
        (col("sum_sq").cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"))

  /** Per-source curation dashboard: doc count, quality-gate passes,
    * token mass, distinct canonical texts, and uniqueness ratio per
    * feed — the rollup that decides which sources keep getting
    * crawled. Exact integer counts (the same gate as textQuality, the
    * same md5 canonical key as exact dedup) + one double division;
    * one shuffle on the tiny source key. */
  def sourceQuality(s: SparkSession, d: String): DataFrame = {
    val nTok  = size(toks)
    val nStop = size(filter(toks, t => t === "a" || t === "the"))
    val ok = nTok.between(20, 400) &&
      (nStop.cast("double") / nTok.cast("double")) < lit(0.3)
    documents(s, d)
      .select(col("source"), nTok.as("nt"), ok.as("ok"),
        md5(lower(col("text"))).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(col("nt").cast("long")).as("sum_tokens"),
        countDistinct(col("fp")).as("n_unique"),
        (countDistinct(col("fp")).cast("double")
          / count(lit(1)).cast("double")).as("uniq_ratio"))
  }

  /** Out-of-vocabulary rate per document against the corpus top-100
    * vocab — the coverage check run before committing to a tokenizer
    * vocabulary. The vocab is top-K small by construction ⇒ broadcast
    * (the corpus-side token stream never shuffles for the join); the
    * per-doc rollup shuffles (doc_id, token) ids only, never text.
    * Exact integer counts + one double division. */
  def textOov(s: SparkSession, d: String): DataFrame = {
    val vocab = vocabBuild(s, d).select(col("token")).withColumn("in_vocab", lit(1))
    documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Type-token ratio (lexical diversity) per document — distinct
    * tokens / total tokens. The repetition gate curation stacks next
    * to entropy; exact integers, one double division. Shuffle carries
    * (doc_id, token) pairs, partial-aggregated map-side. */
  def textTtr(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_types"))
      .withColumn("ttr",
        col("n_types").cast("double") / col("n_tokens").cast("double"))

  /** Data-mixture weights — the sampling plan every training run
    * computes before reading a corpus: given a uniform target token
    * share per language, the per-language keep probability is
    * min(1, target/actual). Two integer-exact aggregations + one 1-row
    * broadcast of the corpus total (the scalar-subquery shape tfidf/
    * bm25 use); all ratios are single double divisions of exact
    * integers, so the plan is bit-stable under any partitioning. At
    * 100 TB the output is |languages| rows — the actual sampling then
    * happens scan-side with a deterministic hash against keep_prob
    * (see sample_det / sample_stratified). */
  def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    val perLang = documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("lang_tokens"))
    val totals = perLang.agg(
      sum(col("lang_tokens")).as("total_tokens"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        (col("total_tokens").cast("double") / col("n_langs")).as("target_tokens"),
        least(lit(1.0), (col("total_tokens").cast("double") / col("n_langs"))
          / col("lang_tokens").cast("double")).as("keep_prob"))
  }

  /** Top-3 tokens per source through the CUSTOM top-k operator
    * (plans.TopK — map-side bounded heaps, k rows per key per task
    * before the exchange) composed with the token-count aggregation:
    * the operator tier doing real curation work, not a demo. Stopword
    * tokens are gated out first so the ranking says something. */
  def sourceTopTerms(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(col("source"), explode(toks).as("token"))
      .filter(!col("token").isin("a", "the"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    graft.plans.TopK.perKey(counts,
      Seq(col("source")), Seq(col("cnt").desc, col("token")), 3)
  }

  /** mixture_weights APPLIED — the deterministic weighted sample: a doc
    * survives iff its md5-uniform (first 6 hex chars, compared as a
    * fixed-width string against the hex-encoded threshold
    * floor(keep_prob·16^6)) falls under its language's keep
    * probability. Same rows on every engine/run/partitioning — the
    * scan-side sampling step the mixture plan exists for; weights
    * broadcast, documents never shuffle. keep_prob = 1 compares
    * against 'g' (sorts after every hex digit) so full-keep languages
    * are immune to the 7-char threshold edge. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val weights = mixtureWeights(s, d).select(col("lang"), col("keep_prob"))
    documents(s, d)
      .join(broadcast(weights), Seq("lang"))
      .withColumn("thresh",
        when(col("keep_prob") >= 1.0, lit("g"))
          .otherwise(format_string("%06x",
            floor(col("keep_prob") * lit(16777216.0)).cast("int"))))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 6) < col("thresh"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Per-source distribution drift — exact L1 distance between each
    * source's token distribution and the whole corpus's (the
    * data-mixing health signal: a source whose unigram distribution
    * walks away from the corpus is re-weighted or quarantined).
    *
    * Shares are quantized to exact integers q = (n·10⁹) div total
    * (HUGEINT/DECIMAL(38,0) product, integer floor division — no
    * floats anywhere), so the L1 sum is order-independent and
    * cross-engine exact. Absent tokens need no source×vocab grid:
    *   L1(s) = Σ_{t∈s} |q_s(t) − q_g(t)| + (Q_g − Σ_{t∈s} q_g(t))
    * where Q_g = Σ_t q_g(t) is ONE broadcast scalar — the missing-mass
    * term folds into algebra instead of an outer join. Two shuffles
    * (source-token agg, token join with the global counts). */
  def sourceDivergence(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val bySrc = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .withColumn("q_s",
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000000) div tot AS BIGINT)"))
    val glob = toks.groupBy(col("tok")).agg(count(lit(1)).as("gn"))
    val gtotal = glob.agg(sum(col("gn")).as("gtot"))
    val gq = glob.crossJoin(broadcast(gtotal))
      .withColumn("q_g",
        expr("CAST((CAST(gn AS DECIMAL(38,0)) * 1000000000) div gtot AS BIGINT)"))
      .select(col("tok"), col("q_g"))
    val qgTotal = gq.agg(sum(col("q_g")).as("qg_total"))
    bySrc.join(gq, Seq("tok"))
      .groupBy(col("source"))
      .agg(
        max(col("tot")).as("n_toks"),
        sum(abs(col("q_s") - col("q_g"))).as("present_l1"),
        sum(col("q_g")).as("covered_qg"))
      .crossJoin(broadcast(qgTotal))
      .select(col("source"), col("n_toks"),
        (col("present_l1") + (col("qg_total") - col("covered_qg")))
          .as("l1_q"))
  }

  /** Blocklist gate — the banned-term curation filter: occurrences of
    * any blocklisted token per document (HOF filter over the token
    * array, no explode, no shuffle until the per-source rollup).
    * The list ships as a literal here; at 100 TB it is a broadcast
    * the same expression reads — either way the scan stays linear and
    * the only exchange is the final source aggregation. */
  def textBlocklist(s: SparkSession, d: String): DataFrame = {
    val banned = Seq("spark", "vector", "stream")
    val hits = size(filter(toks, t => t.isInCollection(banned)))
    documents(s, d)
      .select(col("source"), hits.as("hits"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("hits") > 0, 1)).as("n_flagged"),
        sum(col("hits")).cast("long").as("total_hits"),
        (count(when(col("hits") > 0, 1)).cast("double") / count(lit(1)))
          .as("flag_rate"))
  }

  /** Curriculum decile bucketing by document length — the scale-safe
    * EXACT quantile pattern: a global ntile() would funnel every row
    * through ONE window partition; instead (1) aggregate rows into a
    * score histogram (shuffle on the small distinct-score domain),
    * (2) run the cumulative window over the tiny histogram, (3) assign
    * bucket = 1 + (rows_before·10) div N — ties share a bucket by
    * construction — and (4) broadcast the score→bucket map back onto
    * the scan. All integer arithmetic, so both engines agree bit-for-
    * bit on every boundary. */
  def curriculumBuckets(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = documents(s, d)
      .groupBy(col("n_chars").as("score"))
      .agg(count(lit(1)).as("c"))
    val buckets = hist
      .withColumn("before", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("total", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("score"),
        expr("CAST(1 + (before * 10) div total AS INT)").as("bucket"))
    documents(s, d)
      .join(broadcast(buckets), col("n_chars") === col("score"))
      .select(col("doc_id"), col("n_chars"), col("bucket"))
  }

  /** URL parsing — the domain-extraction primitive every web-corpus
    * pipeline leads with (domain blocklists, per-domain dedup and
    * rate caps). Deterministic URLs are synthesized from document
    * fields, then `parse_url` recovers HOST/PATH/QUERY scan-side —
    * codegen'd, no shuffle until the per-host rollup. The oracle
    * rebuilds the same parts from the construction rule, pinning the
    * parser's component split. */
  def urlParse(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
      col("doc_id"), lit("?lang="), col("lang"))
    documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"))
      .groupBy(col("host"), col("q_lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("path")).as("n_paths"),
        min(col("doc_id")).as("min_doc"))
  }

  /** Hapax-legomena profile per source — the Zipf-tail corpus-health
    * check (natural text keeps a large once-only vocabulary; template/
    * bot output collapses it, OCR noise explodes it): per source,
    * vocabulary size, hapax count (corpus frequency exactly 1 within
    * the source), and their ratio. One (source, token) aggregation —
    * token counts partial-aggregate map-side so the shuffle carries the
    * per-source vocabulary, then a tiny per-source rollup. Log-free by
    * construction: two exact BIGINTs and one double division. */
  def textHapax(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("hapax"),
        (col("hapax").cast("double") / col("vocab").cast("double"))
          .as("hapax_rate"))

  /** Feature hashing (Weinberger 2009) — the vectorizer that needs NO
    * vocabulary pass: token → bucket by md5 mod k (k=32), emitted in
    * the SPARSE (doc, bucket, count) triple form — the representation
    * that actually scales (a dense k-wide array per doc ships zeros;
    * the triple form ships only occupied buckets, and downstream ML
    * joins consume triples anyway). One (doc, bucket) aggregation,
    * partial-aggregated map-side. The md5-hex→int bucket arithmetic is
    * engine-portable where a murmur hash is not. */
  def textFeatureHash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"), featureBucket(col("tok")).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** THE feature-hash bucket rule (md5-hex prefix mod k) — one
    * definition shared by text_feature_hash / quality_train (k = 32)
    * and DocEmbed's wider vectorizer (k = 1024); a rule change here
    * retunes all of them together. */
  private[analytics] def featureBucketK(t: Column, k: Int): Column =
    conv(substring(md5(t), 1, 6), 16, 10).cast("long") % k

  private[analytics] def featureBucket(t: Column): Column =
    featureBucketK(t, 32)

  /** Token-pair association (log-free PMI — the lift form): for the
    * top-50 vocabulary, how often do two tokens share a document vs
    * what independence predicts? lift = n_ab·N / (n_a·n_b) — the word-
    * association miner behind collocation detection and topic seeding.
    * The vocabulary CAP is the scale valve (the |V|² pair space is
    * meaningless and quadratic uncapped): top-50 broadcasts, each doc
    * contributes ≤ C(50,2) pairs from its DISTINCT capped tokens, and
    * the pair rollup partial-aggregates. Same multiply-through lift as
    * events_cooccur. */
  def textPairLift(s: SparkSession, d: String): DataFrame = {
    val top = vocabBuild(s, d, 50).select(col("token"))
    val incid = documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(top), Seq("token"))
      .distinct()
      .persistTracked()
    val nDocs = incid.select(countDistinct(col("doc_id")).as("n_docs"))
    val marg = incid.groupBy(col("token")).agg(count(lit(1)).as("n_t"))
    incid.toDF("tok_a", "doc_id")
      .join(incid.toDF("tok_b", "doc_id"), Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
      .join(broadcast(marg.toDF("tok_a", "n_a")), Seq("tok_a"))
      .join(broadcast(marg.toDF("tok_b", "n_b")), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_docs"),
        ((col("n_ab") * col("n_docs")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Heaps'-law vocabulary growth curve — corpus saturation at a
    * glance: distinct-vocabulary size at five ingest-order checkpoints
    * (doc_id < 100·k). A curve that flattens early means new documents
    * stopped bringing new words (the aggregate twin of text_novelty's
    * per-doc view). All five checkpoints are conditional DISTINCTs in
    * ONE aggregation pass (one expand, one shuffle) — five separate
    * scans would read the corpus five times for no reason. */
  def textHeaps(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(toks).as("token"))
    val cps = (1 to 5).map(k => Seq(
      countDistinct(when(col("doc_id") < k * 100, col("token")))
        .as(s"v$k"),
      sum(when(col("doc_id") < k * 100, 1L).otherwise(0L)).as(s"n$k")))
      .flatten
    tok.agg(cps.head, cps.tail: _*)
      .selectExpr(
        """stack(5,
          100L, n1, v1, 200L, n2, v2, 300L, n3, v3,
          400L, n4, v4, 500L, n5, v5) AS (docs, n_tokens, vocab)""")
      .withColumn("ttr_ppm", expr("(vocab * 1000000) div n_tokens"))
  }

  /** S-stemmer (Harman 1991, "How effective is suffixing?") vocabulary
    * fold — the conservative three-rule plural stemmer retrieval
    * pipelines run before indexing (Porter's 60 rules buy ~nothing
    * over it for English plurals and cost conflation errors):
    *   1. "-ies" → "-y"   unless the word ends "-eies"/"-aies"
    *   2. "-es"  → "-e"   unless the word ends "-aes"/"-ees"/"-oes"
    *   3. "-s"   → drop   unless the word ends "-us"/"-ss"
    * The driver corpus's vocabulary is singular by construction (zero
    * s-final tokens), so the query PLANTS inflected surface forms
    * deterministically — suffix by (position mod 8) over
    * {s, es, ies, ss, us, ∅, oes, eies} — and stems them back; the
    * plant set is chosen to fire every rule AND every guard (base
    * words ending in -e/-a make "-ies" plants hit the eies/aies
    * guards naturally). Output per source: token count, inflected vs
    * stemmed DISTINCT vocabulary (the fold the stemmer exists to
    * buy), and per-rule fire counts — each rule branch pinned
    * separately. Everything is a codegen'd CASE chain per token; one
    * aggregation exchange, exact integers. */
  def textStem(s: SparkSession, d: String): DataFrame =
    textStemOf(documents(s, d))

  private[graft] def textStemOf(docs: DataFrame): DataFrame = {
    val inflected = docs
      .select(col("source"),
        explode(expr(
          """transform(split(text, ' '), (t, i) ->
               CASE (i % 8) WHEN 0 THEN concat(t, 's')
                 WHEN 1 THEN concat(t, 'es') WHEN 2 THEN concat(t, 'ies')
                 WHEN 3 THEN concat(t, 'ss') WHEN 4 THEN concat(t, 'us')
                 WHEN 6 THEN concat(t, 'oes') WHEN 7 THEN concat(t, 'eies')
                 ELSE t END)""")).as("w"))
      .withColumn("rule", expr(
        """CASE
             WHEN w LIKE '%ies' AND w NOT LIKE '%eies'
               AND w NOT LIKE '%aies' THEN 'ies'
             WHEN w LIKE '%es' AND w NOT LIKE '%aes'
               AND w NOT LIKE '%ees' AND w NOT LIKE '%oes' THEN 'es'
             WHEN w LIKE '%s' AND w NOT LIKE '%us'
               AND w NOT LIKE '%ss' THEN 's'
             ELSE 'none' END"""))
      .withColumn("stem", expr(
        """CASE rule
             WHEN 'ies' THEN concat(substring(w, 1, length(w) - 3), 'y')
             WHEN 'es'  THEN substring(w, 1, length(w) - 1)
             WHEN 's'   THEN substring(w, 1, length(w) - 1)
             ELSE w END"""))
    inflected.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("vocab_inflected"),
        countDistinct(col("stem")).as("vocab_stemmed"),
        sum(when(col("rule") === "ies", 1L).otherwise(0L)).as("n_ies"),
        sum(when(col("rule") === "es", 1L).otherwise(0L)).as("n_es"),
        sum(when(col("rule") === "s", 1L).otherwise(0L)).as("n_s"))
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents"): candidate phrases are the
    * maximal token runs BETWEEN stopwords, a word's score is
    * degree/frequency over the phrase co-occurrence graph (deg(w) =
    * Σ phrase-length over w's occurrences — words living in long
    * phrases score high; freq alone rewards boilerplate), and a
    * phrase scores the sum of its words. The corpus stop set is the
    * board's shared {the, a, of}.
    *
    * Exactness: the degree/frequency RATIO is quantized per word as
    * q_w = (deg·10⁶) div freq (truncating division — identical both
    * engines), so phrase scores are exact BIGINT sums; identical
    * phrase instances carry identical scores, so the per-phrase
    * rollup recovers the instance score as total div n_occ exactly.
    * Output: top-5 phrases per source by (score, phrase).
    *
    * Scale shape: phrase slicing is row-level expression work on the
    * scan (the dedup_cdc ends-array spelling with stopword
    * boundaries EXCLUDED from their phrases); the shuffles carry
    * (source, word) and (source, phrase) keys — the sourceDivergence
    * contract (token-sized keys, never documents). */
  def textRake(s: SparkSession, d: String): DataFrame =
    textRakeOf(documents(s, d))

  private[graft] def textRakeOf(docs: DataFrame): DataFrame = {
    val phrases = docs
      .select(col("doc_id"), col("source"), toks.as("tk"))
      .withColumn("sts", expr(
        """filter(transform(tk, (t, i) ->
             IF(t IN ('the', 'a', 'of'), i, -1)), x -> x >= 0)"""))
      .select(col("doc_id"), col("source"), col("tk"), col("sts"),
        posexplode(expr("sequence(0, size(sts))")).as(Seq("pos", "k")))
      .withColumn("start0",
        expr("IF(k = 0, 0, element_at(sts, k) + 1)"))
      .withColumn("end0", expr(
        "IF(k = size(sts), size(tk) - 1, element_at(sts, k + 1) - 1)"))
      .filter(col("end0") >= col("start0"))
      .select(col("doc_id"), col("source"), col("k"),
        expr("array_join(slice(tk, start0 + 1, end0 - start0 + 1), ' ')")
          .as("phrase"),
        expr("CAST(end0 - start0 + 1 AS BIGINT)").as("plen"))
      .persistTracked()
    val words = phrases
      .select(col("source"), col("doc_id"), col("k"), col("phrase"),
        col("plen"), explode(split(col("phrase"), " ")).as("w"))
    val scores = words.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("q_w", expr("(deg * 1000000) div freq"))
      .select(col("source"), col("w"), col("q_w"))
    val perPhrase = words
      .join(scores, Seq("source", "w"))
      .groupBy(col("source"), col("phrase"))
      .agg(sum(col("q_w")).as("total"),
        countDistinct(col("doc_id"), col("k")).as("n_occ"))
      .withColumn("score", expr("total div n_occ"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score").desc, col("phrase"))
    perPhrase
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("source"), col("rn"), col("phrase"),
        col("n_occ"), col("score"))
  }


  /** lang_id's full oracle SQL (shared: the lang_id board row and the
    * lang_confusion derived subquery — also consumed by
    * Curation.registry("training_select").oracle). */
  private[analytics] val langIdSql: String =
    """WITH s AS (SELECT doc_id,
          CAST(len(list_filter(string_split(text,' '), t -> t='the' OR t='a' OR t='of')) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE) AS score_en,
          CAST(len(list_filter(string_split(text,' '), t -> t='der' OR t='die' OR t='das' OR t='und')) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE) AS score_de,
          CAST(len(list_filter(string_split(text,' '), t -> t='le' OR t='la' OR t='et')) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE) AS score_fr,
          CAST(len(list_filter(string_split(text,' '), t -> t='el' OR t='los' OR t='y')) AS DOUBLE)
            / CAST(len(string_split(text,' ')) AS DOUBLE) AS score_es
        FROM documents)
        SELECT doc_id, score_en, score_de, score_fr, score_es,
          CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
               WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
               WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
               WHEN score_es = greatest(score_en, score_de, score_fr, score_es) THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM s"""


  /** The full Gopher-metrics + gate oracle chain over an arbitrary
    * (doc_id, text) relation — the board `quality_gopher` entry is
    * gopherSqlFrom("documents"); corpus_build feeds it the repaired
    * survivor slice (one SQL spelling, two call sites). */
  private[analytics] def gopherSqlFrom(rel: String): String =
    s"""WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM $rel),
        ln AS MATERIALIZED (
          SELECT doc_id,
            CASE WHEN doc_id % 11 = 0 OR (doc_id + u.i) % 3 = 0
              THEN '- ' ELSE '' END
            || array_to_string(tk[u.i*10+1 : u.i*10+10], ' ')
            || CASE WHEN doc_id % 17 = 0 OR (doc_id + u.i) % 5 = 0
              THEN ' #####' ELSE '' END
            || CASE WHEN doc_id % 13 = 0 OR (doc_id + u.i) % 4 = 0
              THEN ' ...' ELSE '' END AS line
          FROM t, unnest(generate_series(0, (len(tk) + 9) // 10 - 1)) AS u(i)),
        w AS (
          SELECT doc_id, unnest(string_split(line, ' ')) AS word FROM ln),
        ws AS (
          SELECT doc_id, count(*) AS n_words, sum(length(word)) AS sum_len,
            max(CASE WHEN word = 'the' THEN 1 ELSE 0 END)
            + max(CASE WHEN word = 'a' THEN 1 ELSE 0 END)
            + max(CASE WHEN word = 'of' THEN 1 ELSE 0 END)
            + max(CASE WHEN word = 'and' THEN 1 ELSE 0 END)
            + max(CASE WHEN word = 'to' THEN 1 ELSE 0 END)
            + max(CASE WHEN word = 'in' THEN 1 ELSE 0 END) AS n_stop
          FROM w GROUP BY 1),
        ls AS (
          SELECT doc_id, count(*) AS n_lines,
            sum(CASE WHEN line LIKE '- %' THEN 1 ELSE 0 END) AS n_bullet,
            sum(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END) AS n_ell_line,
            sum(length(line) - length(replace(line, '#', ''))) AS n_hash,
            sum((length(line) - length(replace(line, '...', ''))) // 3) AS n_ell
          FROM ln GROUP BY 1),
        m AS (
          SELECT ws.doc_id,
            CAST(ls.n_lines AS BIGINT) AS n_lines,
            CAST(ws.n_words AS BIGINT) AS n_words,
            CAST(ws.sum_len * 100 // ws.n_words AS BIGINT) AS mean_word_len_x100,
            CAST((ls.n_hash + ls.n_ell) * 1000 // ws.n_words AS BIGINT)
              AS symbol_ratio_x1000,
            CAST(ls.n_bullet * 1000 // ls.n_lines AS BIGINT) AS bullet_frac_x1000,
            CAST(ls.n_ell_line * 1000 // ls.n_lines AS BIGINT)
              AS ellipsis_frac_x1000,
            CAST(ws.n_stop AS BIGINT) AS n_stop_distinct
          FROM ws JOIN ls ON ls.doc_id = ws.doc_id)
        SELECT doc_id, n_lines, n_words, n_stop_distinct,
          mean_word_len_x100, symbol_ratio_x1000, bullet_frac_x1000,
          ellipsis_frac_x1000,
          CAST(mean_word_len_x100 BETWEEN 300 AND 1000
            AND symbol_ratio_x1000 BETWEEN 0 AND 100
            AND bullet_frac_x1000 BETWEEN 0 AND 900
            AND ellipsis_frac_x1000 BETWEEN 0 AND 300
            AND n_stop_distinct BETWEEN 2 AND 6 AS INT) AS gopher_keep
        FROM m"""

  val registry: Map[String, QueryDef] = Map(
    // same stopword-boundary phrase rebuild (running stop count BEFORE
    // each token, stop rows dropped), the same (deg·10⁶) div freq word
    // quantization and total // n_occ instance-score recovery
    "text_rake" -> QueryDef(textRake _,
      """WITH t AS (
          SELECT doc_id, source, string_split(text, ' ') AS tk
          FROM documents),
        tok AS (
          SELECT doc_id, source, i, tk[i] AS w,
            CASE WHEN tk[i] IN ('the', 'a', 'of') THEN 1 ELSE 0 END
              AS is_stop
          FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
        seg AS (
          -- the running stop count must see ALL tokens (WHERE runs
          -- before window functions): count first, then drop stops
          SELECT doc_id, source, i, w, k FROM (
            SELECT doc_id, source, i, w, is_stop,
              coalesce(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
            FROM tok) WHERE is_stop = 0),
        phr AS (
          SELECT doc_id, source, k,
            string_agg(w, ' ' ORDER BY i) AS phrase,
            CAST(count(*) AS BIGINT) AS plen
          FROM seg GROUP BY 1, 2, 3),
        pw AS (
          SELECT source, doc_id, k, phrase, plen,
            unnest(string_split(phrase, ' ')) AS w
          FROM phr),
        sc AS (
          SELECT source, w,
            (CAST(sum(plen) AS BIGINT) * 1000000)
              // CAST(count(*) AS BIGINT) AS q_w
          FROM pw GROUP BY 1, 2),
        pp AS (
          SELECT pw.source, pw.phrase,
            CAST(sum(q_w) AS BIGINT) AS total,
            count(DISTINCT (pw.doc_id, pw.k)) AS n_occ
          FROM pw JOIN sc ON sc.source = pw.source AND sc.w = pw.w
          GROUP BY 1, 2),
        ranked AS (
          SELECT source, phrase, CAST(n_occ AS BIGINT) AS n_occ,
            total // n_occ AS score,
            row_number() OVER (PARTITION BY source
              ORDER BY total // n_occ DESC, phrase) AS rn
          FROM pp)
        SELECT source, CAST(rn AS BIGINT) AS rn, phrase, n_occ, score
        FROM ranked WHERE rn <= 5"""),
    // same deterministic plant (1-based series → (i-1) % 8) and the
    // same three-rule CASE chain
    "text_stem" -> QueryDef(textStem _,
      """WITH tk AS (
          SELECT source, string_split(text, ' ') AS a FROM documents),
        inflected AS (
          SELECT source,
            CASE ((i - 1) % 8)
              WHEN 0 THEN a[i] || 's' WHEN 1 THEN a[i] || 'es'
              WHEN 2 THEN a[i] || 'ies' WHEN 3 THEN a[i] || 'ss'
              WHEN 4 THEN a[i] || 'us' WHEN 6 THEN a[i] || 'oes'
              WHEN 7 THEN a[i] || 'eies' ELSE a[i] END AS w
          FROM tk, unnest(generate_series(1, len(a))) AS u(i)),
        ruled AS (
          SELECT source, w,
            CASE
              WHEN w LIKE '%ies' AND w NOT LIKE '%eies'
                AND w NOT LIKE '%aies' THEN 'ies'
              WHEN w LIKE '%es' AND w NOT LIKE '%aes'
                AND w NOT LIKE '%ees' AND w NOT LIKE '%oes' THEN 'es'
              WHEN w LIKE '%s' AND w NOT LIKE '%us'
                AND w NOT LIKE '%ss' THEN 's'
              ELSE 'none' END AS rule
          FROM inflected),
        stemmed AS (
          SELECT source, w, rule,
            CASE rule
              WHEN 'ies' THEN substr(w, 1, length(w) - 3) || 'y'
              WHEN 'es'  THEN substr(w, 1, length(w) - 1)
              WHEN 's'   THEN substr(w, 1, length(w) - 1)
              ELSE w END AS stem
          FROM ruled)
        SELECT source,
          CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(count(DISTINCT w) AS BIGINT) AS vocab_inflected,
          CAST(count(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
          CAST(sum(CASE WHEN rule = 'ies' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ies,
          CAST(sum(CASE WHEN rule = 'es' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_es,
          CAST(sum(CASE WHEN rule = 's' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_s
        FROM stemmed GROUP BY source"""),
    // same one-pass conditional distincts, unpivoted
    "text_heaps" -> QueryDef(textHeaps _,
      """WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents),
        agg AS (
          SELECT count(DISTINCT CASE WHEN doc_id < 100 THEN token END) AS v1,
          CAST(sum(CASE WHEN doc_id < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          count(DISTINCT CASE WHEN doc_id < 200 THEN token END) AS v2,
          CAST(sum(CASE WHEN doc_id < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          count(DISTINCT CASE WHEN doc_id < 300 THEN token END) AS v3,
          CAST(sum(CASE WHEN doc_id < 300 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          count(DISTINCT CASE WHEN doc_id < 400 THEN token END) AS v4,
          CAST(sum(CASE WHEN doc_id < 400 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
          count(DISTINCT CASE WHEN doc_id < 500 THEN token END) AS v5,
          CAST(sum(CASE WHEN doc_id < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n5
          FROM tok),
        rows_ AS (
          SELECT CAST(100 AS BIGINT) AS docs, n1 AS n_tokens, v1 AS vocab FROM agg
          UNION ALL
          SELECT CAST(200 AS BIGINT) AS docs, n2 AS n_tokens, v2 AS vocab FROM agg
          UNION ALL
          SELECT CAST(300 AS BIGINT) AS docs, n3 AS n_tokens, v3 AS vocab FROM agg
          UNION ALL
          SELECT CAST(400 AS BIGINT) AS docs, n4 AS n_tokens, v4 AS vocab FROM agg
          UNION ALL
          SELECT CAST(500 AS BIGINT) AS docs, n5 AS n_tokens, v5 AS vocab FROM agg)
        SELECT docs, n_tokens, vocab,
          (vocab * 1000000) // n_tokens AS ttr_ppm
        FROM rows_"""),
    // same md5-prefix bucket arithmetic via the ('0x'||hex)::BIGINT lane
    "text_feature_hash" -> QueryDef(textFeatureHash _,
      """SELECT doc_id,
          ('0x' || substr(md5(tok), 1, 6))::BIGINT % 32 AS bucket,
          count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2"""),
    // same top-50 cap, distinct incidences, and multiply-through lift
    "text_pair_lift" -> QueryDef(textPairLift _,
      """WITH tf AS (
          SELECT tok AS token, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY 1),
        top AS (
          SELECT token FROM tf ORDER BY cnt DESC, token LIMIT 50),
        incid AS (
          SELECT DISTINCT doc_id, tok AS token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
          WHERE tok IN (SELECT token FROM top)),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM incid),
        marg AS (SELECT token, count(*) AS n_t FROM incid GROUP BY 1),
        pairs AS (
          SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_ab
          FROM incid a JOIN incid b
            ON a.doc_id = b.doc_id AND a.token < b.token
          GROUP BY 1, 2 HAVING count(*) >= 5)
        SELECT tok_a, tok_b, n_ab, ma.n_t AS n_a, mb.n_t AS n_b, n_docs,
          CAST(n_ab * n_docs AS DOUBLE)
            / CAST(ma.n_t * mb.n_t AS DOUBLE) AS lift
        FROM pairs
        JOIN marg ma ON ma.token = tok_a
        JOIN marg mb ON mb.token = tok_b
        CROSS JOIN nd"""),
    "text_hapax" -> QueryDef(textHapax _,
      """WITH tf AS (
          SELECT source, tok, count(*) AS tf FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
          GROUP BY 1, 2),
        v AS (
          SELECT source, count(*) AS vocab,
            CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
          FROM tf GROUP BY 1)
        SELECT source, vocab, hapax,
          CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_rate
        FROM v"""),
    // the construction rule replayed component-wise
    "url_parse" -> QueryDef(urlParse _,
      """SELECT source || '.example.com' AS host, lang AS q_lang,
          count(*) AS n_docs,
          count(DISTINCT '/docs/' || doc_id) AS n_paths,
          min(doc_id) AS min_doc
        FROM documents GROUP BY 1, 2"""),
    "text_blocklist" -> QueryDef(textBlocklist _,
      """WITH h AS (
          SELECT source,
            len(list_filter(string_split(text, ' '),
              t -> t IN ('spark', 'vector', 'stream'))) AS hits
          FROM documents)
        SELECT source, count(*) AS n_docs,
          count(CASE WHEN hits > 0 THEN 1 END) AS n_flagged,
          CAST(sum(hits) AS BIGINT) AS total_hits,
          CAST(count(CASE WHEN hits > 0 THEN 1 END) AS DOUBLE)
            / count(*) AS flag_rate
        FROM h GROUP BY source"""),
    // same histogram-cumulative algebra: rows_before over the distinct
    // score domain, integer floor-division bucket boundaries
    "curriculum_buckets" -> QueryDef(curriculumBuckets _,
      """WITH h AS (
          SELECT n_chars AS score, count(*) AS c FROM documents GROUP BY 1),
        b AS (
          SELECT score,
            CAST(1 + (COALESCE(sum(c) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)
              // (SELECT sum(c) FROM h) AS INT) AS bucket
          FROM h)
        SELECT doc_id, n_chars, bucket
        FROM documents JOIN b ON n_chars = score"""),
    // same algebra: per-token quantized shares, missing mass as the
    // scalar Q_g − Σcovered; all integer arithmetic (HUGEINT // )
    "source_divergence" -> QueryDef(sourceDivergence _,
      """WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        by_src AS (
          SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok),
        with_tot AS (
          SELECT source, tok, n,
            sum(n) OVER (PARTITION BY source) AS tot
          FROM by_src),
        qs AS (
          SELECT source, tok,
            CAST((CAST(n AS HUGEINT) * 1000000000) // tot AS BIGINT) AS q_s,
            CAST(tot AS BIGINT) AS tot
          FROM with_tot),
        gcnt AS (SELECT tok, count(*) AS gn FROM toks GROUP BY tok),
        gq AS (
          SELECT tok,
            CAST((CAST(gn AS HUGEINT) * 1000000000)
              // (SELECT sum(gn) FROM gcnt) AS BIGINT) AS q_g
          FROM gcnt),
        qg_total AS (SELECT CAST(sum(q_g) AS BIGINT) AS qg FROM gq)
        SELECT qs.source, max(qs.tot) AS n_toks,
          CAST(sum(abs(qs.q_s - gq.q_g))
            + (max(qg_total.qg) - sum(gq.q_g)) AS BIGINT) AS l1_q
        FROM qs JOIN gq USING (tok), qg_total
        GROUP BY qs.source"""),
    "sample_weighted" -> QueryDef(sampleWeighted _,
      """WITH per_lang AS (
          SELECT lang, count(*) AS n_docs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
          FROM documents GROUP BY lang),
        t AS (
          SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
            count(*) AS n_langs
          FROM per_lang),
        w AS (
          SELECT lang,
            least(1.0, (CAST(total_tokens AS DOUBLE) / n_langs)
              / CAST(lang_tokens AS DOUBLE)) AS keep_prob
          FROM per_lang, t)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN w ON d.lang = w.lang
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) <
          CASE WHEN keep_prob >= 1.0 THEN 'g'
            ELSE printf('%06x', CAST(floor(keep_prob * 16777216.0) AS INT))
          END"""),
    "source_top_terms" -> QueryDef(sourceTopTerms _,
      """WITH c AS (
          SELECT source, token, count(*) AS cnt FROM (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents)
          WHERE token NOT IN ('a', 'the')
          GROUP BY source, token)
        SELECT source, token, cnt FROM (
          SELECT source, token, cnt,
            row_number() OVER (PARTITION BY source
              ORDER BY cnt DESC, token) AS rn
          FROM c)
        WHERE rn <= 3"""),
    "mixture_weights" -> QueryDef(mixtureWeights _,
      """WITH per_lang AS (
          SELECT lang, count(*) AS n_docs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
          FROM documents GROUP BY lang),
        t AS (
          SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
            count(*) AS n_langs
          FROM per_lang)
        SELECT lang, n_docs, lang_tokens,
          CAST(total_tokens AS DOUBLE) / n_langs AS target_tokens,
          least(1.0, (CAST(total_tokens AS DOUBLE) / n_langs)
            / CAST(lang_tokens AS DOUBLE)) AS keep_prob
        FROM per_lang, t"""),
    "text_oov" -> QueryDef(textOov _,
      """WITH v AS (
          SELECT token FROM (
            SELECT token, count(*) AS cnt FROM (
              SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY token ORDER BY cnt DESC, token LIMIT 100)),
        t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
        SELECT doc_id, count(*) AS n_tokens,
          CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_oov,
          CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS oov_rate
        FROM t LEFT JOIN v ON t.token = v.token
        GROUP BY doc_id"""),
    "text_ttr" -> QueryDef(textTtr _,
      """SELECT doc_id, count(*) AS n_tokens,
          count(DISTINCT token) AS n_types,
          CAST(count(DISTINCT token) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS ttr
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY doc_id"""),
    "source_quality" -> QueryDef(sourceQuality _,
      """WITH q AS (
          SELECT source,
            len(string_split(text, ' ')) AS nt,
            (len(string_split(text, ' ')) BETWEEN 20 AND 400)
              AND (CAST(len(list_filter(string_split(text, ' '),
                    t -> t = 'a' OR t = 'the')) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.3) AS ok,
            md5(lower(text)) AS fp
          FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
          CAST(sum(nt) AS BIGINT) AS sum_tokens,
          count(DISTINCT fp) AS n_unique,
          CAST(count(DISTINCT fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS uniq_ratio
        FROM q GROUP BY source"""),
    "text_entropy" -> QueryDef(textEntropy _,
      """WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents),
        c AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          CAST(sum(c * c) AS BIGINT) AS sum_sq,
          CAST(sum(c * c) AS DOUBLE)
            / CAST(sum(c) * sum(c) AS DOUBLE) AS simpson
        FROM c GROUP BY doc_id"""),
    "text_tokens" -> QueryDef(textTokens _,
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents"""),
    "text_quality" -> QueryDef(textQuality _,
      """SELECT doc_id, n_chars,
          len(string_split(text, ' ')) AS n_tokens,
          CAST(len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the')) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
          ((len(string_split(text, ' ')) BETWEEN 20 AND 400)
            AND (CAST(len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the')) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.3))::INT AS quality_ok
        FROM documents"""),
    "text_token_regex" -> QueryDef(textTokenRegex _,
      """SELECT doc_id,
          len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS n_word_tokens,
          len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
        FROM documents"""),
    "lang_id_margin" -> QueryDef(langIdMargin _,
      """WITH h AS (SELECT doc_id,
          len(list_filter(string_split(text,' '), t -> t='the' OR t='a' OR t='of')) AS h_en,
          len(list_filter(string_split(text,' '), t -> t='der' OR t='die' OR t='das' OR t='und')) AS h_de,
          len(list_filter(string_split(text,' '), t -> t='le' OR t='la' OR t='et')) AS h_fr,
          len(list_filter(string_split(text,' '), t -> t='el' OR t='los' OR t='y')) AS h_es,
          len(string_split(text,' ')) AS n
        FROM documents)
        SELECT doc_id,
          CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
               WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
               WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
               WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
               ELSE 'fr' END AS pred_lang,
          CAST(list_sort([h_en, h_de, h_fr, h_es])[4]
             - list_sort([h_en, h_de, h_fr, h_es])[3] AS BIGINT) AS margin_hits,
          CAST(n AS BIGINT) AS n_tokens
        FROM h"""),
    "lang_id" -> QueryDef(langId _, langIdSql),
    // the lang_id prediction joined back to the declared label (the
    // engine computes both on one scan; the oracle's doc_id join is
    // plan-shape-free)
    "lang_confusion" -> QueryDef(langConfusion _,
      s"""SELECT d.lang, p.pred_lang, count(*) AS n_docs,
          CAST(d.lang = p.pred_lang AS INT) AS is_match
        FROM documents d
        JOIN ($langIdSql) p USING (doc_id)
        GROUP BY d.lang, p.pred_lang"""),
    "text_fingerprint" -> QueryDef(fingerprint _,
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents"),
    // token hash = ('0x' || low 15 md5 hex digits)::BIGINT; polynomial
    // fold seeded with 0 via list_reduce over [0] ++ hashes
    "text_rolling_hash" -> QueryDef(rollingHashPortable _,
      """WITH t AS (
          SELECT doc_id,
            list_transform(string_split(text, ' '),
              tk -> ('0x' || substr(md5(tk), 18, 15))::BIGINT) AS hs,
            list_transform(
              generate_series(1, len(string_split(text, ' ')) - 4),
              i -> ('0x' || substr(md5(
                array_to_string(string_split(text, ' ')[i:i+4], ' ')), 18, 15))::BIGINT)
              AS shs
          FROM documents)
        SELECT doc_id,
          list_reduce(list_concat([CAST(0 AS BIGINT)], hs),
            (acc, h) -> (acc * 31 + h % 2147483647) % 2147483647) AS poly_hash,
          list_min(shs) AS winnow_fp
        FROM t"""),
    "text_top_term" -> QueryDef(topTerm _,
      """WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        df AS (SELECT token, count(*) AS df FROM
          (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token)
        SELECT doc_id, token AS top_term, tf, df FROM (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rn
          FROM tf JOIN df USING (token))
        WHERE rn = 1"""),
    "text_bigrams" -> QueryDef(bigrams _,
      """SELECT bigram, count(*) AS cnt FROM (
          SELECT unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 1),
            i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
          FROM documents)
        GROUP BY bigram"""),
    "gen_ngrams" -> QueryDef(genNgrams _,
      """WITH g AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 2),
            i -> struct_pack(pos := i - 1,
              gram := array_to_string(string_split(text, ' ')[i:i+2], ' '))))
            AS r
          FROM documents)
        SELECT r.gram AS gram, count(*) AS cnt,
          CAST(min(r.pos) AS INT) AS min_pos,
          count(DISTINCT doc_id) AS df
        FROM g GROUP BY 1"""),
    "text_histogram" -> QueryDef(textHistogram _,
      """SELECT CAST(len(string_split(text, ' '))
            - len(string_split(text, ' ')) % 25 AS BIGINT) AS bucket,
          count(*) AS n_docs
        FROM documents GROUP BY 1"""),
    "text_repetition" -> QueryDef(textRepetition _,
      """WITH bg AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 1),
            i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
          FROM documents WHERE len(string_split(text, ' ')) >= 2),
        cnts AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          count(*) AS n_distinct_bigrams,
          CAST(max(c) AS BIGINT) AS top_cnt,
          CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio
        FROM cnts GROUP BY doc_id"""),
    "text_lm_score" -> QueryDef(textLmScore _,
      """WITH bg AS (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 1),
            i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
          FROM documents WHERE len(string_split(text, ' ')) >= 2),
        lm AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(cnt) AS BIGINT) AS sum_freq,
          CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_freq
        FROM bg JOIN lm USING (bigram)
        GROUP BY doc_id"""),
    // same parenthesization as the Spark expression tree: each IEEE op
    // rounds identically, so score (and rank) match bit-for-bit
    "text_tfidf" -> QueryDef(textTfidf(_, _),
      """WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        df AS (SELECT token, count(*) AS df FROM
          (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, rn, token, tf, df, score FROM (
          SELECT tf.doc_id, tf.token, tf.tf, df.df,
            CAST(tf.tf AS DOUBLE) * ((n.n_docs - df.df + 0.5) / (df.df + 0.5)) AS score,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY CAST(tf.tf AS DOUBLE) * ((n.n_docs - df.df + 0.5) / (df.df + 0.5)) DESC,
                tf.token) AS rn
          FROM tf JOIN df USING (token) CROSS JOIN n)
        WHERE rn <= 5"""),
    "text_bm25" -> QueryDef(textBm25(_, _),
      """WITH docs AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        stats AS (SELECT count(*) AS n_docs,
          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
        tf AS (
          SELECT doc_id, dl, token, count(*) AS tf FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
              unnest(string_split(text, ' ')) AS token
            FROM documents)
          WHERE token IN ('spark', 'window', 'merge')
          GROUP BY doc_id, dl, token),
        df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        c AS (
          SELECT tf.doc_id,
            CAST(floor(((s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
                + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
              * 1000000000.0) AS BIGINT) AS c
          FROM tf JOIN df USING (token) CROSS JOIN stats s)
        SELECT doc_id, count(*) AS n_terms,
          CAST(sum(c) AS DOUBLE) / 1000000000.0 AS bm25
        FROM c GROUP BY doc_id"""),
    "vocab_topk" -> QueryDef(vocabBuild(_, _),
      """WITH c AS (
          SELECT token, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          GROUP BY token ORDER BY cnt DESC, token LIMIT 100)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INT)
            AS token_id, token, cnt
        FROM c"""),
    "text_inverted" -> QueryDef(textInverted(_, _),
      """WITH dt AS (
          SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents) z)
        SELECT token, CAST(count(*) AS BIGINT) AS df,
          string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        FROM dt GROUP BY token
        HAVING count(*) >= 2
          AND count(*) * 10 <= 8 * (SELECT count(*) FROM documents)"""),
    // the identical line synthesis, integer-scaled metrics, and the
    // SAME thresholds the JSON suite declares (between is inclusive
    // on both ends, matching Expectations.between)
    "quality_gopher" -> QueryDef(qualityGopher _, gopherSqlFrom("documents")),
    // the IDENTICAL fold table (rendered 7-bit clean via chr()), the
    // same per-entry occurrence arithmetic, the same FFFD-rate gate;
    // sha256 pins the repaired text bit-exactly
    "text_unicode_fix" -> QueryDef(textUnicodeFix _, {
      val decSql =
        s"""SELECT doc_id, ${unicodeDecSqlExpr("text", "doc_id")} AS s
        FROM documents"""
      val fixedSql = unicodeFoldSqlExpr("s")
      val countsSql = UnicodeFolds.map { case (k, _) =>
        s"(length(s) - length(replace(s, ${sqlStr(k)}, ''))) // ${k.length}"
      }.mkString(" + ")
      s"""WITH dec AS ($decSql),
        fx AS (
          SELECT doc_id, $fixedSql AS fixed,
            CAST($countsSql AS BIGINT) AS n_fixed
          FROM dec),
        o AS (
          SELECT doc_id, n_fixed,
            CAST(length(fixed)
              - length(replace(fixed, chr(65533), '')) AS BIGINT) AS n_bad,
            CAST(length(fixed) AS BIGINT) AS n_chars_fixed,
            sha256(fixed) AS fixed_sha
          FROM fx)
        SELECT doc_id, n_fixed, n_bad, n_chars_fixed, fixed_sha,
          n_bad * 1000 // n_chars_fixed AS bad_per_kchar,
          CAST(n_bad * 1000 <= n_chars_fixed AS INT) AS keep
        FROM o"""
    }),
    // DuckDB regexp_replace is first-match-only without the 'g' flag
    // (Spark's replaces all occurrences)
    "text_normalize" -> QueryDef(textNormalize _,
      """SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp,
          length(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_chars_norm
        FROM documents"""),
    "sample_stratified" -> QueryDef(sampleStratified(_, _),
      """SELECT doc_id, lang, rn FROM (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        WHERE rn <= 40"""),
  )
}
