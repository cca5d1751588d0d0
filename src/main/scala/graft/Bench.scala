package graft
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
    // optional comma-separated SKIP list (r12 verdict item 7): scale
    // audits exclude documented by-construction demos (e.g. the 16-bit
    // dedup_simhash_pairs calibration row: ~54% of full-board sf3 wall
    // time and ~90 GB of spill) without touching the correctness board.
    // Record BOTH totals in BASELINE.md when a sweep uses this.
    // An explicit selection overrides it (SparkEntry.selected).
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.selected(skip)

    case class PassStats(times: Map[String, Double], steal: Double,
      cpuShare: Double, wall: Double)

    def pass(tag: String, order: Seq[String]): PassStats = {
      val (st0, tot0) = cpuJiffies()
      val pc0 = processCpuNs()
      val w0  = System.nanoTime()
      // standalone boundary (r17): no timed query rides a memo an
      // earlier timed query derived, so per-query times are standalone
      // costs (see Caches.endQuery; older incremental-family numbers
      // were memo-warm and are NOT comparable, see BASELINE.md)
      val res = SparkEntry.walk(spark, sfDir, order, standalone = true) {
        (name, build) =>
          val t0 = System.nanoTime()
          build().count()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench:$tag] $name%-26s $dt%8.2f s")
          dt
      }.map { case (name, r) =>
        // a failed query must not masquerade as a fast one: sentinel -1,
        // never the partial elapsed time
        name -> r.getOrElse(-1.0)
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
      ("1", names),
      ("2", names.reverse),
      ("3", names.sortBy { n =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(n.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }),
    )
    val passes = orders.map { case (tag, order) => pass(tag, order) }
    val results: Map[String, Double] = names.map { name =>
      val vs = passes.map(_.times(name))
      val ok = vs.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap

    val failed = results.count(_._2 < 0)
    val total  = results.values.filter(_ >= 0).sum

    // full per-pass forensics → a repo file (no length limit there)
    val fullJson = {
      val perQuery = names.map { name =>
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
