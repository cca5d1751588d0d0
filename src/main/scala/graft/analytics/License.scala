package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** License / copyright detection over crawl text (r13 — the gate the
  * crawl tier was missing next to robots + domain caps): tag every
  * document with the licenses its text declares — SPDX-style
  * identifiers, license-grant phrases, and Creative-Commons URL shapes
  * — and report the per-source license mix a corpus release publishes
  * (the LAION/C4 release-notes table; phrase lists modeled on the
  * public SPDX identifier registry and CC deed URLs).
  *
  * The rule bundle is DECLARATIVE JSON ([[licenseRulesJson]], parsed
  * with Spark's bundled json4s — the SuiteLoader discipline: unknown
  * fields reject loudly, because a silently dropped rule is a license
  * audit that lies). Each rule compiles to phrase-containment and
  * URL-regex predicates; a document's PRIMARY license is its
  * most-restrictive match (rank desc, name asc — deterministic on
  * both engines), `unknown` when nothing matches.
  *
  * The corpus carries no license text, so markers are planted with
  * the pii_scrub decoration discipline (doc_id-keyed moduli), with
  * two traps: a decoy sentence containing the bare word "license"
  * that must match NO rule, and a dual-license class whose primary
  * must resolve by rank, plus a URL-ONLY class (no phrase) proving
  * the URL-shape detector is load-bearing.
  *
  * Scale shape: detection is a per-row codegen'd predicate stack over
  * the scan (contains + RE2-safe regex — no explode, no UDF); the
  * only exchanges are the bounded (source × license) rollup and its
  * share window. Tagging 100 TB is a map pass.
  */
object License {

  /** The user-editable artifact. rank orders restrictiveness
    * (higher = more restrictive; primary tag = max rank). */
  private[graft] val licenseRulesJson: String =
    """{"rules": [
      |  {"license": "mit", "rank": 1,
      |   "phrases": ["released under the mit license"], "urls": []},
      |  {"license": "apache-2.0", "rank": 1,
      |   "phrases": ["spdx-license-identifier: apache-2.0"], "urls": []},
      |  {"license": "cc-by-4.0", "rank": 2,
      |   "phrases": ["licensed under creative commons attribution"],
      |   "urls": ["creativecommons\\.org/licenses/by/[0-9][0-9.]*"]},
      |  {"license": "cc-by-nc-4.0", "rank": 3,
      |   "phrases": [],
      |   "urls": ["creativecommons\\.org/licenses/by-nc/[0-9][0-9.]*"]},
      |  {"license": "gpl-3.0", "rank": 3,
      |   "phrases": ["gnu general public license"], "urls": []},
      |  {"license": "all-rights-reserved", "rank": 4,
      |   "phrases": ["all rights reserved",
      |               "unauthorized reproduction prohibited"], "urls": []}
      |]}""".stripMargin

  private[graft] final case class Rule(
    license: String, rank: Int, phrases: Seq[String], urls: Seq[String])

  /** Strict parse: unknown rule fields, empty rules, or a rule with
    * neither phrases nor urls reject loudly. */
  private[graft] def parseRules(json: String): Seq[Rule] = {
    import org.json4s._
    val JObject(top) = org.json4s.jackson.JsonMethods.parse(json): @unchecked
    val rules = top.toMap.getOrElse("rules",
      throw new IllegalArgumentException("license bundle: no 'rules'"))
    val out = rules match {
      case JArray(rs) => rs.map { r =>
        val fields = r.asInstanceOf[JObject].obj.toMap
        val unknown = fields.keySet -- Set("license", "rank", "phrases", "urls")
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"license rule: unknown fields $unknown")
        def strs(k: String) = fields(k) match {
          case JArray(vs) => vs.map(_.asInstanceOf[JString].s)
          case other => throw new IllegalArgumentException(s"$k: $other")
        }
        val rule = Rule(
          fields("license").asInstanceOf[JString].s,
          fields("rank").asInstanceOf[JInt].num.toInt,
          strs("phrases"), strs("urls"))
        if (rule.phrases.isEmpty && rule.urls.isEmpty)
          throw new IllegalArgumentException(
            s"rule ${rule.license} matches nothing — a dead rule lies")
        rule
      }
      case other => throw new IllegalArgumentException(s"rules: $other")
    }
    require(out.nonEmpty, "license bundle: empty rules")
    out
  }

  private[graft] lazy val rules: Seq[Rule] = parseRules(licenseRulesJson)

  // planted license markers — doc_id-keyed decoration classes; the
  // %13 decoy must match nothing, the %17 second grant forces the
  // rank-precedence path, %7=6 is URL-only
  private def decorated: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 7 === 1, lit(" released under the mit license")).otherwise(""),
      when(id % 7 === 2, lit(" licensed under creative commons attribution" +
        " see https://creativecommons.org/licenses/by/4.0/")).otherwise(""),
      when(id % 7 === 3, lit(" this work is distributed under the" +
        " gnu general public license")).otherwise(""),
      when(id % 7 === 4, lit(" all rights reserved unauthorized" +
        " reproduction prohibited")).otherwise(""),
      when(id % 7 === 5, lit(" spdx-license-identifier: apache-2.0")).otherwise(""),
      when(id % 7 === 6, lit(" source https://creativecommons.org/licenses/by-nc/4.0/" +
        " archive")).otherwise(""),
      when(id % 13 === 0, lit(" the word license appears here without" +
        " any grant")).otherwise(""),
      when(id % 17 === 0, lit(" mirror copy also released under the" +
        " mit license")).otherwise(""))
  }

  private[graft] def matchCol(t: Column, r: Rule): Column =
    (r.phrases.map(p => t.contains(lit(p))) ++ r.urls.map(u => t.rlike(u)))
      .reduce(_ || _)

  /** Licenses at or above this rank are too restrictive to ship in a
    * training release ([[CorpusBuild]]'s gate: cc-by-nc, gpl, ARR). */
  private[graft] val RestrictiveRank = 3

  /** The rank-precedence primary-license CASE chain over an arbitrary
    * text column — shared by the board tagger and the corpus_build
    * datasheet. */
  private[graft] def primaryCol(t: Column): Column =
    rules.sortBy(r => (-r.rank, r.license)).foldRight(lit("unknown")) {
      (r, els) => when(matchCol(t, r), lit(r.license)).otherwise(els)
    }

  /** True iff ANY restrictive rule matches — equivalent to
    * "primary rank ≥ [[RestrictiveRank]]" because the primary is the
    * max-rank match; the gate spelling avoids evaluating the full
    * precedence chain. */
  private[graft] def restrictiveCol(t: Column): Column =
    rules.filter(_.rank >= RestrictiveRank)
      .map(r => matchCol(t, r)).reduce(_ || _)

  /** Per-document tags: every matched license (name-sorted), the
    * rank-precedence primary, and the match count. */
  def textLicense(s: SparkSession, d: String): DataFrame = {
    val t = decorated
    val byName = rules.sortBy(_.license)
    val matched = byName.map(r => when(matchCol(t, r), lit(r.license)))
    val byRank = rules.sortBy(r => (-r.rank, r.license))
    val primary = byRank.foldRight(lit("unknown")) { (r, els) =>
      when(matchCol(t, r), lit(r.license)).otherwise(els)
    }
    documents(s, d).select(
      col("doc_id"), col("source"),
      concat_ws(",", filter(array(matched: _*), c => c.isNotNull))
        .as("licenses"),
      primary.as("primary_license"),
      byName.map(r => when(matchCol(t, r), 1).otherwise(0))
        .reduce(_ + _).cast("long").as("n_matched"))
  }

  /** The release-notes table: per (source, primary license) document
    * counts and the exact within-source ppm share (window over the
    * bounded source domain). */
  def licenseMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    textLicense(s, d)
      .groupBy(col("source"), col("primary_license"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_total",
        sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .selectExpr("source", "primary_license", "n_docs",
        "(n_docs * 1000000) div src_total AS share_ppm")
  }


  // oracle: the SAME rule table rendered into SQL — contains() for
  // phrases, RE2 regexp_matches for URL shapes, the same decoration
  // and the same rank-precedence CASE chain
  private def decSql: String =
    """text
      || CASE WHEN doc_id % 7 = 1 THEN ' released under the mit license' ELSE '' END
      || CASE WHEN doc_id % 7 = 2 THEN ' licensed under creative commons attribution see https://creativecommons.org/licenses/by/4.0/' ELSE '' END
      || CASE WHEN doc_id % 7 = 3 THEN ' this work is distributed under the gnu general public license' ELSE '' END
      || CASE WHEN doc_id % 7 = 4 THEN ' all rights reserved unauthorized reproduction prohibited' ELSE '' END
      || CASE WHEN doc_id % 7 = 5 THEN ' spdx-license-identifier: apache-2.0' ELSE '' END
      || CASE WHEN doc_id % 7 = 6 THEN ' source https://creativecommons.org/licenses/by-nc/4.0/ archive' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' the word license appears here without any grant' ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' mirror copy also released under the mit license' ELSE '' END"""

  /** The SQL twin of [[matchCol]] over column expression `t`. */
  private[analytics] def matchSqlOn(r: Rule, t: String): String =
    (r.phrases.map(p => s"contains($t, '${p.replace("'", "''")}')") ++
      r.urls.map(u => s"regexp_matches($t, '${u.replace("'", "''")}')"))
      .mkString("(", " OR ", ")")

  private def matchSql(r: Rule): String = matchSqlOn(r, "t")

  /** SQL twin of [[primaryCol]] over column expression `t`. */
  private[analytics] def primarySqlOn(t: String): String = {
    val arms = rules.sortBy(r => (-r.rank, r.license))
      .map(r => s"WHEN ${matchSqlOn(r, t)} THEN '${r.license}'").mkString(" ")
    s"CASE $arms ELSE 'unknown' END"
  }

  /** SQL twin of [[restrictiveCol]] over column expression `t`. */
  private[analytics] def restrictiveSqlOn(t: String): String =
    rules.filter(_.rank >= RestrictiveRank)
      .map(r => matchSqlOn(r, t)).mkString("(", " OR ", ")")

  private def licenseCtes: String = {
    val byName = rules.sortBy(_.license)
    val byRank = rules.sortBy(r => (-r.rank, r.license))
    val arms = byRank.map(r =>
      s"WHEN ${matchSql(r)} THEN '${r.license}'").mkString(" ")
    val arr = byName.map(r =>
      s"CASE WHEN ${matchSql(r)} THEN '${r.license}' END").mkString(", ")
    val nm = byName.map(r =>
      s"CASE WHEN ${matchSql(r)} THEN 1 ELSE 0 END").mkString(" + ")
    s"""dec AS (SELECT doc_id, source, $decSql AS t FROM documents),
      tags AS (
        SELECT doc_id, source,
          coalesce(
            array_to_string(list_filter([$arr], x -> x IS NOT NULL), ','),
            '') AS licenses,
          CASE $arms ELSE 'unknown' END AS primary_license,
          CAST($nm AS BIGINT) AS n_matched
        FROM dec)"""
  }

  val registry: Map[String, QueryDef] = Map(
    "text_license" -> QueryDef(textLicense _,
      s"""WITH $licenseCtes
        SELECT doc_id, source, licenses, primary_license, n_matched
        FROM tags"""),
    "license_mix" -> QueryDef(licenseMix _,
      s"""WITH $licenseCtes,
        mix AS (
          SELECT source, primary_license, count(*) AS n_docs
          FROM tags GROUP BY 1, 2)
        SELECT source, primary_license, n_docs,
          CAST((n_docs * 1000000)
            // sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
            AS share_ppm
        FROM mix"""),
  )
}
