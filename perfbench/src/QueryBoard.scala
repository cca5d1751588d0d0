package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import graft.analytics.Caches
import org.apache.commons.io.FileUtils

/** The query board, probed in every traced run: one client runs the
  * board queries one after another over the seed's tables. A first,
  * untimed pass writes each output as parquet for the oracle comparison
  * the Python side makes; the second, traced pass materializes each
  * output with a `noop` write (a `count()` would let the optimizer skip
  * work that only feeds output columns). Caches, memos and the catalog
  * cache are released after every query, so every time is a standalone
  * cost.
  *
  * Two classes, each the control for the other's optimisations: corpus
  * work runs through the `Caches` memos, persists and heavy shuffles;
  * TPC-H work runs through Catalyst, the custom plans and fixed per-job
  * overhead. */
final class QueryBoard(ctx: Ctx, tables: String, tablesGenS: Double) extends Probe {

  val Corpus = Seq("corpus_build")
  val Tpch = Seq("q1_agg", "q5_local", "q13_custdist", "q18_having", "q21_waiting")
  val Queries: Seq[String] = Corpus ++ Tpch
  private val dir = s"${ctx.work}/board"
  private val failed = mutable.LinkedHashSet.empty[String]

  private def release(): Unit = {
    Caches.release()
    Caches.releaseMemos()
    ctx.spark.catalog.clearCache()
  }

  private def attempt(q: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      PerfBench.log(s"board query $q failed: $e")
      failed += q
      false
    } finally release()

  def probe(): Unit = {
    ctx.put("datagen.tables_s", tablesGenS, "s")
    Queries.foreach { q =>
      val out = s"$dir/check/$q"
      if (!attempt(q)(SparkEntry.queries(q)(ctx.spark, tables).write.parquet(out)))
        FileUtils.deleteQuietly(new File(out))
    }
    var constructJobs = 0L
    var trackedAfter = 0L
    val c0 = ctx.counters.counts
    val times = Queries.map { q =>
      val t0 = System.nanoTime()
      attempt(q)(ctx.tracer.span(s"query.$q") {
        ctx.drain()
        val jobs0 = ctx.counters.counts.jobs
        val df = ctx.tracer.span("analytics.construct")(SparkEntry.queries(q)(ctx.spark, tables))
        ctx.drain()
        constructJobs += ctx.counters.counts.jobs - jobs0
        ctx.tracer.span("analytics.action")(df.write.format("noop").mode("overwrite").save())
        trackedAfter += Caches.trackedCount
      })
      q -> PerfBench.secondsSince(t0)
    }.toMap
    ctx.drain()
    ctx.put("plans.exchanges", (ctx.counters.counts - c0).exchanges.toDouble, "count")
    Corpus.foreach(q => ctx.put(s"query.${q}_s", times(q), "s"))
    ctx.put("query.corpus_s", Corpus.map(times).sum, "s")
    ctx.put("query.tpch_s", Tpch.map(times).sum, "s")
    val n = Queries.size.toDouble
    ctx.put("analytics.construct_s", ctx.tracer.meanSeconds("analytics.construct") * n, "s")
    ctx.put("analytics.action_s", ctx.tracer.meanSeconds("analytics.action") * n, "s")
    ctx.put("analytics.construct_jobs", constructJobs.toDouble, "count")
    ctx.put("caches.tracked_after", trackedAfter.toDouble, "count")

    ctx.check(failed.isEmpty, s"query_board: queries failed: ${failed.mkString(",")}")
    val oracle = s"$dir/oracle_sql.json"
    val w = new java.io.PrintWriter(oracle, "UTF-8")
    try w.println(Json(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)) finally w.close()
    ctx.pythonChecks += Map("kind" -> "board", "tables" -> tables,
      "outputs" -> s"$dir/check", "oracle" -> oracle, "queries" -> Queries)
  }
}
