package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The release pipeline's semantic gate on COMPUTED embeddings under
  * PINNED artifacts (r16 — the r15 verdict's top item). Until now the
  * composed release ([[CorpusBuild]] stage 10, [[IncrementalBuild]]
  * stage 10) screened against the driver-SUPPLIED embeddings table;
  * [[DocEmbed]] computed the corpus → embedding edge but retrained its
  * IDF weights on every invocation's own frame — which breaks the
  * incremental equivalence theorem (a delta arrival changes df and
  * silently moves OLD documents' vectors). This module closes both
  * gaps:
  *
  *   - the IDF weight table is a SNAPSHOT-PINNED versioned artifact
  *     ([[DocEmbed.pinnedIdf]] — trained once on the natural corpus,
  *     checkpointed; the classifier-weights precedent), and the sign
  *     matrix was always a fixed md5 rule, so the whole embedding
  *     chain is population-independent;
  *   - `corpus_build_computed` runs the FULL ten-stage v2 release with
  *     stage 10 = the computed screen over the repaired text the
  *     pipeline actually ships — a supplied-vector-free release.
  *
  * The plant that proves the gate fires is the leak class the
  * supplied-vector stage PROVABLY CANNOT catch: paraphrased eval pages
  * entering as new crawl docs (id + [[ParaPlantBase]]) with every
  * token position ≡ [[ParaRes]] (mod [[ParaMod]]) deleted. Deletion
  * mod 5 leaves runs of at most 4 consecutive original tokens, so the
  * plant shares NO 5-gram with its eval twin and sails through the
  * stage-9 n-gram screen; it carries no embedding row (its id is past
  * the natural range), so v2's stage 10 passes it un-scored — in the
  * v2 pipeline this leak SHIPS. Under the computed screen its
  * embedding sits at cos ≥ [[TauRelease]] to the eval twin and it
  * drops at stage 10. (Deletion rather than novel-token substitution
  * for the measured r15 reason: IDF hands a novel token near-maximal
  * weight and the twin cosine craters; mod 5 rather than DocEmbed's
  * mod 7 because a mod-7 deletion leaves 6-token runs — two intact
  * 5-grams per run — and the plant would die at stage 9 instead.)
  *
  * Scale shape: identical to corpus_build for stages 1–9; stage 10
  * adds one token-scan + 64-sum-column rollup over (eval ∪ stage-9
  * survivors) against two bounded broadcasts (the ≤1024-row pinned
  * weight table and the sign table) and the bounded eval vector
  * broadcast — a map pass, no corpus self-join. The DuckDB oracle
  * re-derives the pinned artifact and every sign cell from the md5
  * rules and replays all ten stages.
  */
object ReleaseComputed {

  /** Paraphrase plants enter as new crawl docs under id +
    * ParaPlantBase (10M+ — the r15 collision lesson). */
  private[graft] val ParaPlantBase = 30000000L

  /** Deletion rotation: drop 1-based token positions ≡ ParaRes
    * (mod ParaMod). Mod 5 ⇒ max 4 consecutive original tokens ⇒ zero
    * shared 5-grams with the twin. */
  private[graft] val ParaMod = 5
  private[graft] val ParaRes = 2

  /** Computed-screen release threshold — set between the measured
    * mod-5 paraphrase-twin floor and the natural p99.9 (see
    * RELEASE_COMPUTED measurement note in BASELINE.md). */
  private[graft] val TauRelease = 0.93

  private val EvalMax = CorpusBuild.EvalMax

  /** The paraphrase-leak plant arm: one cropped re-post per eval page,
    * entering the crawl as a NEW document. */
  private[graft] def paraPlants(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    require(mx < ParaPlantBase,
      s"corpus max doc_id $mx reaches the plant base $ParaPlantBase — " +
        "plant ids would collide with naturals; raise ParaPlantBase")
    docs.filter(col("doc_id") < EvalMax)
      .select((col("doc_id") + ParaPlantBase).as("doc_id"), col("source"),
        col("lang"),
        DocEmbed.paraphrase(col("text"), ParaMod, ParaRes).as("text"))
  }

  /** Stage-10 screen: embed the repaired text of (eval slice ∪ stage-9
    * survivors) under the pinned artifact, flag at cos ≥ τ. */
  private def computedSemOf(s: SparkSession, d: String)(
      base: DataFrame, ids9: DataFrame): DataFrame = {
    val txt = base.select(col("doc_id"), col("ftext").as("text"))
    val slice = txt.filter(col("doc_id") < EvalMax)
      .unionByName(txt.join(ids9, Seq("doc_id"), "left_semi"))
    DocEmbed.semDropComputedOf(slice, DocEmbed.pinnedIdf(s, d),
      EvalMax, TauRelease)
  }

  /** One materialized run per (session, corpus) — the corpus_build
    * memo discipline: v2 plants + the paraphrase arm, stages 1–9
    * byte-identical to v2, stage 10 the computed screen. */
  private[analytics] def build(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    memo.getOrElseUpdate((s, d), {
      val planted = CorpusBuild.v2Planted(documents(s, d))
        .unionByName(paraPlants(s, d))
      CorpusBuild.stagedBuild(s, d, CorpusBuild.decorate(planted),
        computedSemOf(s, d))
    })

  private val memo = new Caches.SessionMemo[(DataFrame, Seq[DataFrame])]

  private val StageNamesC = CorpusBuild.StageNames.init :+ "semantic_computed"

  /** The supplied-vector-free release ledger: ten rows, the last being
    * the computed-embedding screen — its n_dropped counts the
    * paraphrase plants that SHIPPED under v2. */
  def corpusBuildComputed(s: SparkSession, d: String): DataFrame =
    CorpusBuild.ledgerOf(build(s, d)._2, StageNamesC)


  // ---------------------------------------------------------------
  // DuckDB oracle: the pinned weight table, every sign cell, the
  // paraphrase plants and all ten stages re-derived from scratch.
  // ---------------------------------------------------------------

  private def pdocsC: String =
    s"""${CorpusBuild.v2PdocsSql}
          UNION ALL
          SELECT doc_id + $ParaPlantBase, source, lang,
            array_to_string(list_filter(string_split(text, ' '),
              (t, i) -> i % $ParaMod <> $ParaRes), ' ')
          FROM documents WHERE doc_id < $EvalMax"""

  private def chainC: String =
    s"""WITH RECURSIVE ${Curation.qualityTrainCtes},
        ${CorpusBuild.stageCtesTo9(pdocsC)},
        ${DocEmbed.sgnCte},
        ${DocEmbed.pinnedIdfCtes},
        ${DocEmbed.semDropComputedCtes(
           "(SELECT doc_id, ftext AS text FROM fixd)", EvalMax, TauRelease)},
        s10 AS MATERIALIZED (
          SELECT * FROM s9
          WHERE doc_id NOT IN (SELECT doc_id FROM csemdrop))"""

  private def ledgerSql(names: Seq[String]): String = {
    val rows = names.zipWithIndex.map { case (n, i) =>
      val inRel = if (i == 0) "fixd" else s"s$i"
      s"""SELECT ${i + 1} AS r, '$n' AS stage,
            (SELECT count(*) FROM $inRel) AS n_in,
            (SELECT count(*) FROM s${i + 1}) AS n_out"""
    }.mkString("\n          UNION ALL ")
    s"""SELECT CAST(r AS INT) AS stage_rank, stage, n_in,
          n_in - n_out AS n_dropped, n_out
        FROM ($rows) u"""
  }

  val registry: Map[String, QueryDef] = Map(
    "corpus_build_computed" -> QueryDef(corpusBuildComputed _,
      s"""$chainC
        ${ledgerSql(StageNamesC)}"""),
  )
}
