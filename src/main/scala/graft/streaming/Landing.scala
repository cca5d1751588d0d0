package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** A frame landed as an ORDERED file stream — the port's model of the
  * reference consumer, which writes one file per Kafka poll while the
  * downstream jobs pick new files up in arrival order
  * (Kafka/Consumer/consumer_etl.py:43-67,
  * airflow/dags/kafka_to_glue_dag.py:37-82).
  *
  * The file stream source replays files by (modification time, path),
  * so arrival order is made explicit instead of left to job-commit
  * order or sub-second tie-breaks:
  *  - ONE write job, partitioned by the batch column — a unioned replay
  *    copy or a range split costs one scan of the input, not one per
  *    batch. The caller partitions the frame (`coalesce(1)` for one file
  *    per batch, `repartition(k, key)` for a k-way fan-out).
  *  - each batch's files are MOVED into one source dir and their mtimes
  *    pinned to batch order; a pin the file system silently rejects
  *    would degrade ordering to tie-break luck, so every file is
  *    re-stat'ed and a miss fails loudly.
  *  - every batch but the last holds exactly `filesPerBatch` files and
  *    the last 1 to `filesPerBatch`, so `maxFilesPerTrigger =
  *    filesPerBatch` admits exactly one batch per micro-batch. */
object Landing {

  /** Epoch-ms mtime of batch `i`: a minute apart, far in the past. */
  private def mtimeOf(i: Int): Long = 1000000000000L + i * 60000L

  /** Lands `frame` under a fresh temp dir named after `prefix` and
    * returns it as a stream of the frame's columns minus `batch`, one
    * batch per trigger. `batch` names an integer column of `frame`
    * whose values are 0, 1, … with no gap. */
  def land(frame: DataFrame, batch: String, filesPerBatch: Int,
      prefix: String): DataFrame = {
    val parts = graft.Tables.tempOutDir(s"${prefix}_parts")
    frame.write.partitionBy(batch).parquet(parts)
    // the partition dirs `batch=<value>`, in batch order
    val batchDirs = Option(new File(parts).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(f => f.getName.stripPrefix(s"$batch=").toIntOption.getOrElse(-1) -> f)
      .sortBy(_._1)
    require(batchDirs.map(_._1).toSeq == batchDirs.indices,
      s"$prefix: batch values must be 0, 1, ... with no gap; got " +
        batchDirs.map(_._2.getName).mkString(","))
    val src = new File(graft.Tables.tempOutDir(prefix))
    require(src.mkdirs() || src.isDirectory, s"cannot create $src")
    batchDirs.foreach { case (i, dir) =>
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val last = i == batchDirs.length - 1
      require(
        if (last) fs.nonEmpty && fs.length <= filesPerBatch
        else fs.length == filesPerBatch,
        s"$prefix: batch $i has ${fs.length} parquet files; expected " +
          (if (last) s"1 to $filesPerBatch" else s"$filesPerBatch"))
      val want = mtimeOf(i)
      fs.zipWithIndex.foreach { case (f, k) =>
        val dst = new File(src, f"batch-$i%03d-part-$k%03d.parquet")
        Files.move(f.toPath, dst.toPath)
        dst.setLastModified(want)
        require(dst.lastModified == want,
          s"could not pin ${dst.getName} to batch-$i mtime $want " +
            s"(got ${dst.lastModified}); the file stream source's " +
            "arrival order would be tie-break luck")
      }
    }
    frame.sparkSession.readStream
      .schema(StructType(frame.schema.filterNot(_.name == batch)))
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(src.getPath)
  }
}

/** The one bounded wait on a streaming query. */
object Drain {

  /** Generous bound for AvailableNow queries that finish in seconds at
    * any test SF — awaitTermination without a timeout turns a wedged
    * micro-batch (hung executor, sink fault) into a harness hang. */
  val TimeoutMs = 600000L

  /** Waits at most [[TimeoutMs]] for `q` to terminate, failing with a
    * message naming `what` if it is still running (a failed query
    * rethrows its own error), and stops `q` either way. */
  def apply(q: StreamingQuery, what: String): Unit =
    try require(q.awaitTermination(TimeoutMs),
      s"$what: streaming query still running after $TimeoutMs ms")
    finally if (q.isActive) q.stop()
}
