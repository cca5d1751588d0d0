package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built and the one place a query swaps a
  * session conf. Every harness main and spec builds through `local`,
  * so the specs pin plan budgets under the same shape the board runs. */
object GraftSession {

  /** The session Bench and Verify run, on `cpus` local cores. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // local-mode fix: Tungsten page size scales with heap; with a big
      // driver heap 32 tasks each zero multi-MB pages per operator and
      // page allocation dominates small-SF runs (113s -> 15s observed)
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE replan INSIDE cached-plan compilation (off by default):
      // without it the hot-set anti-join inside the persisted shingle
      // relation stays a SortMergeJoin with two corpus-shingle
      // exchanges even when the hot set is runtime-tiny (BASELINE.md
      // "Shingle-family A/B"). Scale-safe: AQE still falls back to the
      // shuffle join when the build side is genuinely big
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with `conf._1` set to `conf._2`, then puts the key back
    * as it was: the prior value if the session had set one, unset if
    * not — also when `body` throws. The conf is session-global, so this
    * assumes no concurrent query on the same session while `body` runs
    * (true for Verify and Bench, which run queries serially). */
  def withConf[A](s: SparkSession, conf: (String, String))(body: => A): A = {
    val (key, value) = conf
    val prev = s.conf.getAll.get(key) // explicitly set values only
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
