package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import scala.util.Try

/** Layered-lake sinks (/root/reference/Glue/Glue_job.py:124-128,142).
  *
  * The reference writes Delta with mergeSchema; this environment may not
  * ship delta jars, so we feature-detect and fall back to plain parquet
  * (identical columnar bytes — the reference's own warehouse tail reads
  * the parquet inside Delta, Snowflake/Curated_pipe.sql:16-17).
  *
  * The two layer writers guard against an empty write with `isEmpty`
  * (one job that stops at the first row), not the reference's
  * `count() > 0` (a full scan per guard, Glue_job.py:124,127). A caller
  * that already knows the row count (LogisticsPipeline) calls the
  * unguarded [[save]] and pays no guard job at all.
  */
object Sinks {

  lazy val deltaAvailable: Boolean =
    Try(Class.forName("io.delta.sql.DeltaSparkSessionExtension")).isSuccess

  private def fmt: String = if (deltaAvailable) "delta" else "parquet"

  /** Curated layer: overwrite world (the reference reprocesses the whole
    * raw prefix every run — Glue_job.py:25,31,125). */
  def writeCurated(df: DataFrame, path: String): Unit =
    if (!df.isEmpty) save(df, path, SaveMode.Overwrite)

  /** Rejected + lineage layers: append-only (Glue_job.py:128,142). */
  def writeAppend(df: DataFrame, path: String): Unit =
    if (!df.isEmpty) save(df, path, SaveMode.Append)

  /** One layer write, unguarded: an empty `df` still writes. */
  def save(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.write.format(fmt).option("mergeSchema", "true").mode(mode).save(path)

  /** Keyed MERGE (upsert) into a partitioned parquet table — the
    * Delta-MERGE equivalent this image's jar set can't run natively.
    * updates rows replace existing rows with the same key; new keys
    * append.
    *
    * Scale contract: only the partitions PRESENT IN THE UPDATE are
    * rewritten (dynamic partition overwrite) — existing rows of touched
    * partitions are kept via a left-anti join on the key, untouched
    * partitions' files are not even read. At 100 TB the cost is
    * O(touched partitions), not O(table). That contract is only sound
    * when a key cannot MOVE between partitions (an old copy in an
    * untouched partition would survive), so the partition column must
    * be part of the key — enforced below; a genuine cross-partition
    * move is a delete + insert, not an upsert. The merged plan is
    * localCheckpoint'ed before the write because Spark refuses to
    * overwrite a path it is still lazily reading from.
    *
    * `updates` must be unique per key: a Delta-style MERGE errors on
    * ambiguous matches, and silently keeping both copies would corrupt
    * the table — enforced with one cheap agg over the (small) update
    * batch before anything is written.
    *
    * Durability caveat: the dynamic overwrite is NOT atomic (plain
    * parquet has no transaction log) — a crash mid-write can leave a
    * touched partition half-rewritten. Delta/Iceberg close that window
    * with a commit protocol; with plain parquet, re-running the same
    * upsert repairs the partition (the operation is idempotent). */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partitionCol: String): Unit = {
    require(keyCols.contains(partitionCol),
      s"upsert: partition column '$partitionCol' must be part of the key " +
        s"$keyCols — otherwise a key moving partitions leaves a stale copy " +
        "in a partition this upsert never rewrites")
    val dupKeys = updates.groupBy(keyCols.map(col): _*)
      .count().filter(col("count") > 1)
    require(dupKeys.isEmpty,
      s"upsert: updates contain duplicate keys $keyCols (e.g. " +
        s"${dupKeys.limit(3).collect().mkString(", ")}) — a MERGE with " +
        "ambiguous matches is an error, not a double-insert")
    val exists = Try(spark.read.parquet(path).schema).isSuccess
    val merged =
      if (!exists) updates
      else {
        val touched = updates.select(partitionCol).distinct()
        val kept = spark.read.parquet(path)
          // only touched partitions participate (partition pruning does
          // the skipping; broadcast keeps the probe small)
          .join(broadcast(touched), Seq(partitionCol), "left_semi")
          .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
        kept.unionByName(updates.select(kept.columns.map(col): _*))
      }
    merged
      .localCheckpoint(true) // sever lineage: the write overwrites its own input
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Small-file compaction — the lakehouse OPTIMIZE primitive. A
    * streaming/CDC ingest path (one file per micro-batch, see
    * StreamingPipeline's batch_id partitions) accretes thousands of
    * small files per partition; at 100 TB the scan-side cost is
    * dominated by file-open overhead and footer reads long before
    * bytes matter. Rewrites the directory into `targetFiles` files of
    * roughly equal size via a round-robin repartition (no shuffle key
    * needed — compaction preserves content, not order).
    *
    * Same durability caveat as `upsert`: plain parquet has no commit
    * log, so the overwrite window is non-atomic; re-running repairs.
    * Returns (filesBefore, filesAfter) for ops telemetry. */
  def compact(spark: SparkSession, path: String, targetFiles: Int): (Int, Int) = {
    def parquetFiles(p: String): Int = {
      val d = new java.io.File(p)
      Option(d.listFiles()).map(_.count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))).getOrElse(0)
    }
    val before = parquetFiles(path)
    spark.read.parquet(path)
      .repartition(targetFiles)
      .localCheckpoint(true) // sever lineage: the write overwrites its own input
      .write.mode("overwrite").parquet(path)
    (before, parquetFiles(path))
  }
}
