package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, lit, raise_error}

/** Layered-lake sinks (/root/reference/Glue/Glue_job.py:124-128,142).
  *
  * Every lake layer is written here, as plain parquet through [[save]].
  * The reference writes Delta; `delta-spark` is in neither this image
  * nor its offline mirror, and parquet is the same columnar bytes that
  * the reference's own warehouse tail reads inside Delta
  * (Snowflake/Curated_pipe.sql:16-17). Every reader of the lake
  * (`WarehouseLoad`, the specs, perfbench) reads those files in place.
  *
  * An empty layer is still written: a zero-row file with the layer's
  * schema. So every run rewrites every layer it owns, and what a run
  * records in its lineage is what its layers hold (the reference skips a
  * layer whose `count()` is 0, Glue_job.py:124,127, which leaves an older
  * run's rows standing as the current curated layer).
  */
object Sinks {

  /** Curated layer: overwrite world (the reference reprocesses the whole
    * raw prefix every run — Glue_job.py:25,31,125). */
  def writeCurated(df: DataFrame, path: String): Unit = save(df, path, SaveMode.Overwrite)

  /** Rejected + lineage layers: append-only (Glue_job.py:128,142). */
  def writeAppend(df: DataFrame, path: String): Unit = save(df, path, SaveMode.Append)

  /** One layer write; an empty `df` writes a zero-row file. */
  def save(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(path)

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
    * the table. The check is a `raise_error` inside the merged plan: a
    * filter on each update row's per-key count, which the optimizer
    * cannot prune, and which the checkpoint that precedes the write
    * evaluates. A duplicate key fails that checkpoint, before any file
    * is written, and a clean update pays no job of its own for it.
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
    val checked = updates
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("_n") === 1 || raise_error(lit(
        s"upsert: updates contain duplicate keys $keyCols; a MERGE with " +
          "ambiguous matches is an error, not a double-insert")).isNull)
      .drop("_n")
    val merged =
      if (parquetFiles(spark, path).isEmpty) checked
      else {
        val touched = updates.select(partitionCol).distinct()
        val kept = spark.read.parquet(path)
          // only touched partitions participate (partition pruning does
          // the skipping; broadcast keeps the probe small)
          .join(broadcast(touched), Seq(partitionCol), "left_semi")
          .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
        kept.unionByName(checked.select(kept.columns.map(col): _*))
      }
    merged
      .localCheckpoint(true) // sever lineage: the write overwrites its own input
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** The parquet data files under `path` at any depth, outside hidden
    * (`_`/`.`) files and directories such as a write's `_temporary`; a
    * missing target has none. The Hadoop listing is lazy: asking whether
    * there is one stops at the first data file and reads none, so a new
    * target logs nothing (reading it would log Spark's
    * `FileNotFoundException` at WARN). */
  private def parquetFiles(spark: SparkSession, path: String): Iterator[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = fs.makeQualified(root)
    def visible(f: Path): Boolean =
      Iterator.iterate(f)(_.getParent).takeWhile(p => p != null && p != top)
        .forall(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    if (!fs.exists(root)) Iterator.empty
    else {
      val files = fs.listFiles(root, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(f => f.getName.endsWith(".parquet") && visible(f))
    }
  }

  /** Small-file compaction — the lakehouse OPTIMIZE primitive. A
    * streaming/CDC ingest path accretes thousands of small files
    * (StreamingPipeline writes one file per layer for each poll-sized
    * micro-batch, and one per ~4 MB of raw input for a larger one, each
    * batch in its own `batch_id=<id>` directory); at 100 TB the
    * scan-side cost is dominated by file-open overhead and footer reads
    * long before bytes matter. Rewrites the directory into `targetFiles`
    * files of roughly equal size via a round-robin repartition (no
    * shuffle key needed — compaction preserves content, not order).
    *
    * Same durability caveat as `upsert`: plain parquet has no commit
    * log, so the overwrite window is non-atomic; re-running repairs.
    * Returns (filesBefore, filesAfter) for ops telemetry; `path` may be a
    * local path or any Hadoop URI. */
  def compact(spark: SparkSession, path: String, targetFiles: Int): (Int, Int) = {
    val before = parquetFiles(spark, path).size
    spark.read.parquet(path)
      .repartition(targetFiles)
      .localCheckpoint(true) // sever lineage: the write overwrites its own input
      .write.mode("overwrite").parquet(path)
    (before, parquetFiles(spark, path).size)
  }
}
