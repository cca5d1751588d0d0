package graft

/** Diagnostic harness (r16): replicate PlanSpec's plan-audit loop
  * outside sbt — same session (`GraftSession.local(4)`),
  * same sorted construction order (memo warmth matches the spec) —
  * and dump each non-streaming query's executedPlan string plus its
  * "Exchange hashpartitioning" count to a directory for offline diff.
  *
  * Usage: tools/run.sh graft.PlanAudit <sfDir> <outDir> [only,csv]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(_.split(",").toSet)
    new java.io.File(outDir).mkdirs()
    val spark = GraftSession.local(4)
    val counts = new java.io.PrintWriter(s"$outDir/_exchanges.tsv", "UTF-8")
    SparkEntry.registry.toSeq.sortBy(_._1).foreach { case (name, q) =>
      if (!q.streaming) {
        val t0 = System.nanoTime()
        val (p, fmt) =
          try {
            val qe = q.build(spark, sfDir).queryExecution
            (qe.executedPlan.toString,
              qe.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          } catch {
            case e: Throwable =>
              val msg = s"(plan unavailable: ${e.getMessage})"
              (msg, msg)
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // release() also drains the tracked-frame registry (as Verify)
        graft.analytics.Caches.release()
        spark.catalog.clearCache()
        val ex = "Exchange hashpartitioning".r.findAllIn(p).size
        if (only.forall(_.contains(name))) {
          val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
          // the deliverable format (explain "formatted") first, then the
          // executedPlan string the exchange counter runs over
          try {
            w.println(fmt)
            w.println()
            w.println("== executedPlan (exchange-count source) ==")
            w.println(p)
          } finally w.close()
        }
        counts.println(f"$name\t$ex\t$dt%.2f")
        counts.flush()
      }
    }
    counts.close()
    spark.stop()
  }
}
