package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.walk(spark, sfDir, SparkEntry.selected(), standalone = false) {
      (name, build) =>
        build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.foreach { case (name, r) =>
      // remove any STALE dump from a previous run so the checker sees
      // a missing output, not yesterday's rows
      if (r.isFailure)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys: two builds' dumps compare with a plain diff
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
