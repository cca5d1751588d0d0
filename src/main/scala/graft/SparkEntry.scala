package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is an operator/query from SURVEY.md §2; the
  * matching `oracleSql` is ANSI SQL that DuckDB runs over the same
  * parquet tables for a hash-compare. Column names/aliases match
  * exactly on both sides (the driver sorts columns by name). Both are
  * views of `registry`, where each family registers a query once.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The pipeline's defining computation: validate → reject
    * with machine-readable reasons (SURVEY.md §7.2 step 1). */
  def entry(spark: SparkSession): DataFrame =
    analytics.EventsPipeline.splitInvalid(spark, "/root/testdata/sf0.001")

  /** Every family's queries by name; a name registered twice fails. */
  lazy val registry: Map[String, QueryDef] = {
    val families = Seq(Relational.registry, EventsPipeline.registry,
      TextAnalysis.registry, Dedup.registry, Similarity.registry,
      Multimodal.registry, StreamingQueries.registry, Curation.registry,
      CorpusBuild.registry, IncrementalBuild.registry,
      MixtureOptimize.registry, DocEmbed.registry, ReleaseComputed.registry,
      Chunking.registry, Bpe.registry, BpeBytes.registry, Unigram.registry,
      License.registry, TokenizerEval.registry, Stats.registry,
      Geo.registry, Web.registry, Codecs.registry)
    val all = families.flatten
    val dups = all.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
    all.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  /** The default name list of every harness walk: the registry's names,
    * sorted, narrowed to the comma-separated `SPARK_GRAFT_ONLY` list
    * when that is set, else minus `skip`. An explicit selection
    * overrides the skip list, so a stale skip list in the environment
    * cannot silently empty a single-query profiling run. */
  def selected(skip: Set[String] = Set.empty): Seq[String] = {
    val all = registry.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .fold(all.filterNot(skip))(sel => all.filter(sel))
  }

  /** The one registry walk every harness runs (Bench, Verify, PlanSpec):
    * for each of `names` in order, `act` gets the name and the query's
    * builder bound to (`spark`, `sfDir`); a failure is logged and
    * captured, never thrown, so one bad query cannot end the walk; and
    * `Caches.endQuery(spark, standalone)` runs after every query. */
  def walk[A](spark: SparkSession, sfDir: String, names: Seq[String],
      standalone: Boolean)(act: (String, () => DataFrame) => A): Seq[(String, Try[A])] =
    names.map { name =>
      val q = registry(name)
      val r =
        try Success(act(name, () => q.build(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[walk] $name FAILED: ${e.getMessage}")
          e.printStackTrace()
          Failure(e)
        }
      Caches.endQuery(spark, standalone)
      name -> r
    }
}
