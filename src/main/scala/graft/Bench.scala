package graft
import org.apache.spark.sql.SparkSession
import java.util.Locale

object Bench {

  /** (steal, total) jiffies from /proc/stat — hypervisor contention
    * marker: this VM sees CPU-steal spikes that can stall arbitrary
    * queries for tens of seconds. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src  = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f    = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Nanoseconds of CPU this JVM has used — the same-VM contention
    * marker. /proc/stat steal is blind to OTHER PROCESSES on this VM
    * (round-2's driver bench recorded 70 s for a query that reproduces
    * at 3 s with steal at 1%); if an external process eats the cores,
    * this process's CPU share of the pass drops and the JSON says so. */
  private def processCpuNs(): Long =
    try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      }
    } catch { case _: Throwable => -1L }

  private def fmt(v: Double, dec: Int): String =
    String.format(Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** Compact seconds: 0.21 / 3.24 / 70.7 — the metric line must fit the
    * driver's 2000-char stdout tail or it is unparseable. */
  private def sec(v: Double): String =
    if (v < 0) "-1" else if (v >= 100) fmt(v, 1) else fmt(v, 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warm up the JVM/codegen/shuffle machinery once so the first timed
    // query doesn't absorb ~4s of session start-up cost
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // optional comma-separated filter for profiling single queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // optional comma-separated SKIP list (r12 verdict item 7): scale
    // audits exclude documented by-construction demos (e.g. the 16-bit
    // dedup_simhash_pairs calibration row: ~54% of full-board sf3 wall
    // time and ~90 GB of spill) without touching the correctness board.
    // Record BOTH totals in BASELINE.md when a sweep uses this.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // an explicit ONLY selection overrides the skip list (r13 advice:
    // a stale SKIP in the environment must not silently empty a
    // single-query profiling run)
    val qs0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only match {
        case Some(sel) => sel.contains(n)
        case None      => !skip.contains(n)
      } }

    case class PassStats(times: Map[String, Double], steal: Double,
      cpuShare: Double, wall: Double)

    def pass(tag: String, qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): PassStats = {
      val (st0, tot0) = cpuJiffies()
      val pc0 = processCpuNs()
      val w0  = System.nanoTime()
      val res = qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must not masquerade as a fast one: sentinel -1,
        // never the partial elapsed time
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench:$tag] $name FAILED: ${e.getMessage}")
            false
        }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // queries persist() intermediates for their own multi-consumer
        // plans; drop them so caches don't accumulate across the run
        // (release() also drains the tracked-frame registry). r17
        // measurement-honesty fix (r16 verdict item 2): ALSO purge the
        // SessionMemos, which survive release() and let one timed
        // query inherit a shared artifact (the corpus-stack memo, the
        // old-snapshot stores) a previous timed query derived — the
        // per-query numbers are now standalone costs. Old numbers for
        // the incremental family were warm-memo and are NOT comparable;
        // see BASELINE.md.
        graft.analytics.Caches.release()
        graft.analytics.Caches.releaseMemos()
        spark.catalog.clearCache()
        System.err.println(f"[bench:$tag] $name%-26s $dt%8.2f s")
        name -> dt
      }.toMap
      val (st1, tot1) = cpuJiffies()
      val wall = (System.nanoTime() - w0) / 1e9
      val pc1  = processCpuNs()
      val stealPct =
        if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else -1.0
      // fraction of the machine's CPU capacity this JVM got during the
      // pass; local[32] keeps cores busy, so a LOW value on a SLOW pass
      // means something else on the VM was eating the cores
      val share =
        if (pc0 >= 0 && pc1 >= 0 && wall > 0)
          (pc1 - pc0) / 1e9 / (wall * Runtime.getRuntime.availableProcessors())
        else -1.0
      PassStats(res, stealPct, share, wall)
    }

    // three passes, min per query, each in a DIFFERENT order (sorted /
    // reversed / md5-shuffled): a contention window at a fixed offset
    // into the run covers a different set of queries each pass, so the
    // min is a believable quiet-machine number even when one pass is
    // poisoned (two reverse-ordered passes still double-hit the middle).
    val orders = Seq(
      ("1", qs0),
      ("2", qs0.reverse),
      ("3", qs0.sortBy { case (n, _) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(n.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }),
    )
    val passes = orders.map { case (tag, qs) => pass(tag, qs) }
    val results: Map[String, Double] = qs0.map { case (name, _) =>
      val vs = passes.map(_.times(name))
      val ok = vs.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap

    val failed = results.count(_._2 < 0)
    val total  = results.values.filter(_ >= 0).sum

    // full per-pass forensics → a repo file (no length limit there)
    val fullJson = {
      val perQuery = qs0.map { case (name, _) =>
        s""""$name":[${passes.map(p => sec(p.times(name))).mkString(",")}]"""
      }.mkString("{", ",", "}")
      s"""{"sf":"$sfDir","total_min":${fmt(total, 3)},"failed":$failed,""" +
        s""""wall":[${passes.map(p => fmt(p.wall, 1)).mkString(",")}],""" +
        s""""steal_pct":[${passes.map(p => fmt(p.steal, 2)).mkString(",")}],""" +
        s""""cpu_share":[${passes.map(p => fmt(p.cpuShare, 2)).mkString(",")}],""" +
        s""""passes":$perQuery}"""
    }
    val fullPath = "BENCH_FULL.json"
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }

    // plan artifact for judges (r7 item 8): EXPLAIN FORMATTED of the
    // sweep's 10 most expensive queries → PLANS.md, so plan audits
    // don't require rebuilding the session. Skipped for filtered
    // (SPARK_GRAFT_ONLY) profiling runs — only a full sweep's top-10
    // is a meaningful ranking.
    if (only.isEmpty) try {
      val top = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(10)
      val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      val w = new java.io.PrintWriter("PLANS.md", "UTF-8")
      try {
        w.println("# PLANS — EXPLAIN FORMATTED, top-10 by sweep cost")
        w.println()
        w.println(s"Generated by `graft.Bench` against `$sfDir` " +
          "(regenerated every sweep; times are the 3-pass min).")
        w.println()
        w.println("Iterative queries (connected components, BFS, label " +
          "propagation) localCheckpoint each round to sever lineage, so " +
          "their FINAL plan is a checkpoint scan — the loop-body plan " +
          "shape is documented at the implementation site and audited " +
          "by PlanSpec's per-query budgets instead.")
        top.zipWithIndex.foreach { case ((name, t), i) =>
          // construct ONCE — construction itself runs real driver work
          // for some queries (quantizer training collects, sizing
          // count() pre-passes), so a second build per query is waste
          val dfOpt =
            try Some(SparkEntry.queries(name)(spark, sfDir))
            catch { case _: Throwable => None }
          val plan = dfOpt.fold("(plan unavailable)")(df =>
            try df.queryExecution.explainString(mode)
            catch { case e: Throwable => s"(plan unavailable: ${e.getMessage})" })
          // for the 3 most expensive: execute the SAME QueryExecution
          // and capture the FINAL adaptive plan — where AQE's runtime
          // decisions (broadcast-after-measure, skew splits, coalesced
          // partitions) become visible. df.count() would wrap it in a
          // new agg plan and leave this one un-finalized
          // (isFinalPlan=false), so drive this plan's own toRdd.
          val finalPlan = if (i < 3) dfOpt.flatMap { df =>
            try {
              df.queryExecution.toRdd.count()
              Some(df.queryExecution.executedPlan.toString)
            } catch { case _: Throwable => None }
          } else None
          graft.analytics.Caches.release()
          graft.analytics.Caches.releaseMemos()
          spark.catalog.clearCache()
          w.println()
          w.println(s"## $name — ${sec(t)} s")
          w.println()
          w.println("```")
          w.println(plan)
          w.println("```")
          finalPlan.foreach { p =>
            w.println()
            w.println("Final adaptive plan (post-execution):")
            w.println()
            w.println("```")
            w.println(p)
            w.println("```")
          }
        }
      } finally w.close()
    } catch { case _: Throwable => () }

    // the metric line: headline + as many per-query times as fit the
    // driver's 2000-char tail capture (slowest first — the fast tail is
    // uniform sub-second noise; the full map is in BENCH_FULL.json)
    val head =
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","sf":"$sfDir","nq":${results.size},"failed":$failed,""" +
      s""""steal_pct":[${passes.map(p => fmt(p.steal, 2)).mkString(",")}],""" +
      s""""cpu_share":[${passes.map(p => fmt(p.cpuShare, 2)).mkString(",")}],""" +
      s""""full":"$fullPath","queries":{"""
    val entries = results.toSeq.sortBy(-_._2).map { case (n, v) => s""""$n":${sec(v)}""" }
    val budget  = 1600 - head.length
    val keep = entries.scanLeft(0)((acc, e) => acc + e.length + 1)
      .tail.takeWhile(_ <= budget).size
    println(head + entries.take(keep).mkString(",") + "}}")
    spark.stop()
  }
}
