package perfbench

import java.io.File

import graft.datagen.TelemetryGen
import graft.expect.Expectations
import graft.ingest.RawJsonReader
import graft.lineage.Lineage
import graft.pipeline.LogisticsPipeline
import graft.schemas.Schemas
import graft.sinks.Sinks
import graft.split.Splitter
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** etl_batch: a closed loop with one client. Each operation is one
  * back-to-back `LogisticsPipeline.run` over the same raw directory,
  * writing to a fresh output root (the rejected and lineage sinks append,
  * so a reused root would time a growing append). */
final class EtlBatch(ctx: Ctx) extends Section {
  import PerfBench.{secondsSince, timed}

  /** 200 k records, 15 % anomalies, in lines of 500 (the consumer's poll
    * cap) spread over 16 files: ~33 MB of raw JSON. A probe uses 50 k. */
  var records = 200000L
  val ProbeRecords = 50000L
  val RawFiles = 16
  private val dir = s"${ctx.work}/etl"
  val raw = s"$dir/raw"
  private var runs = 0
  private var lastOut: Option[String] = None
  val traceOps = 2

  private def generate(): Unit = {
    FileUtils.deleteQuietly(new File(raw))
    TelemetryGen.rawJsonLines(ctx.spark, records, 500, ctx.seed)
      .repartition(RawFiles).write.text(raw)
  }

  def setUp(seconds: Double, ops: Int, repeats: Int, warmOps: Int): Double = {
    val genS = medianOf(repeats)(generate())
    ctx.put("datagen.raw_s", genS, "s")
    val (_, warmS) = timed(Seq.fill(warmOps)(runOnce()))
    PerfBench.log(f"etl_batch inputs $genS%.2f s, warm-up $warmS%.2f s")
    genS + warmS
  }

  def probe(): Unit = {
    records = ProbeRecords
    ctx.put("datagen.raw_s", timed(generate())._2, "s")
    ctx.drain()
    val c0 = ctx.counters.counts
    ctx.check(runOnce().nonEmpty, "etl_batch probe: the pipeline run failed")
    ctx.drain()
    traceLayers(ctx.counters.counts - c0, 1)
    check()
  }

  private def freshOut(): String = {
    runs += 1
    s"$dir/out/$runs"
  }

  /** One pipeline run; None when it throws or the gate does not pass. */
  private def runOnce(): Option[Double] = {
    val out = freshOut()
    val t0 = System.nanoTime()
    val ok =
      try ctx.tracer.span("pipeline.run") {
        LogisticsPipeline.run(ctx.spark, raw, out).geStatus == "PASSED"
      } catch { case e: Throwable => PerfBench.log(s"etl run failed: $e"); false }
    val dt = secondsSince(t0)
    lastOut.foreach(p => FileUtils.deleteQuietly(new File(p)))
    lastOut = Some(out)
    if (ok) Some(dt) else None
  }

  def measure(seconds: Double, maxOps: Int): Outcome = {
    val t0 = System.nanoTime()
    val results = Iterator.continually(()).takeWhile(_ => secondsSince(t0) < seconds)
      .take(maxOps).map(_ => runOnce()).toVector
    val samples = results.flatten
    Outcome(samples, results.size, results.count(_.isEmpty), records * samples.size)
  }

  def traceLayers(phase: Counts, ops: Int): Unit = {
    // raw bytes read per raw byte, and jobs, per traced run
    val rawBytes = FileUtils.sizeOfDirectory(new File(raw)).toDouble
    ctx.put("pipeline.raw_read_ratio", phase.inputBytes / rawBytes / ops, "ratio")
    ctx.put("pipeline.jobs", phase.jobs.toDouble / ops, "count")
    ctx.put("pipeline.run_s", ctx.tracer.meanSeconds("pipeline.run"), "s")
    recomposed()
    Seq("ingest.parse", "rules.validate", "split.split", "expect.gate",
      "sinks.write", "lineage.record").foreach { n =>
      ctx.put(s"${n}_s", ctx.tracer.selfSeconds(n), "s")
    }
  }

  /** The pipeline's stages re-composed one by one from the same public
    * functions, each stage's output persisted and materialized at its
    * boundary so that every span times only its own stage. */
  private def recomposed(): Unit = ctx.tracer.span("pipeline.recomposed") {
    val spark = ctx.spark
    val out = freshOut()
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }
    try {
      val parsed = ctx.tracer.span("ingest.parse")(
        mat(RawJsonReader.read(spark, raw, Schemas.telemetry)))
      val validated = ctx.tracer.span("rules.validate")(
        mat(LogisticsPipeline.validateStage(parsed)))
      val (curated, rejected) = ctx.tracer.span("split.split")((
        mat(Splitter.curated(validated)),
        mat(Splitter.rejected(validated, LogisticsPipeline.coreCols))))
      val ge = ctx.tracer.span("expect.gate")(
        Expectations.verdictFull(curated, Expectations.referenceSuite, Nil))
      ctx.check(ge == "PASSED", s"etl_batch: re-composed gate returned $ge")
      val (curatedF, rejectedF) = Expectations.applyVerdict(curated, rejected, ge)
      val lineage = ctx.tracer.span("lineage.record")(mat(Lineage.record(validated)))
      ctx.drain()
      val c0 = ctx.counters.counts
      ctx.tracer.span("sinks.write") {
        Sinks.writeCurated(curatedF, s"$out/curated")
        Sinks.writeAppend(rejectedF, s"$out/rejected")
        Sinks.writeAppend(lineage, s"$out/validated")
      }
      ctx.drain()
      ctx.put("sinks.bytes_out", (ctx.counters.counts - c0).outputBytes.toDouble, "bytes")
      ctx.put("rules.reject_frac", rejected.count().toDouble / validated.count(), "ratio")
    } finally {
      held.foreach(_.unpersist(blocking = true))
      FileUtils.deleteQuietly(new File(out))
    }
  }

  /** Records per second of one pipeline run in another session: the
    * local[1] baseline of a traced run. It reads a quarter of the raw
    * files, to keep the traced run short; the JIT is warm by then. */
  def singleThreaded(spark: SparkSession): Double = {
    val out = freshOut()
    val (r, t) = timed(LogisticsPipeline.run(spark, s"$raw/part-0000[0-3]-*", out))
    ctx.check(r.geStatus == "PASSED", s"etl_batch local[1]: gate returned ${r.geStatus}")
    val read = spark.read.parquet(s"$out/validated").where("layer = 'raw'")
      .select("record_count").first().getLong(0)
    FileUtils.deleteQuietly(new File(out))
    read / t
  }

  /** Lineage reconciles with the generated count and with the layers the
    * last run wrote; the curated count goes to the Python side, which
    * recounts it from the raw files with its own filter. */
  def check(): Unit = lastOut match {
    case None => ctx.check(ok = false, "etl_batch: no run completed")
    case Some(out) =>
      val spark = ctx.spark
      val lineage = spark.read.parquet(s"$out/validated").collect()
        .map(r => r.getAs[String]("layer") -> r.getAs[Long]("record_count")).toMap
      val curated = spark.read.parquet(s"$out/curated").count()
      val rejected = spark.read.parquet(s"$out/rejected").count()
      ctx.check(lineage.get("raw").contains(records),
        s"etl_batch: lineage raw ${lineage.get("raw")} != generated $records")
      ctx.check(lineage.get("curated").contains(curated) && lineage.get("rejected").contains(rejected),
        s"etl_batch: lineage $lineage does not match written layers curated=$curated rejected=$rejected")
      ctx.check(curated + rejected == records,
        s"etl_batch: curated $curated + rejected $rejected != $records")
      ctx.pythonChecks += Map("kind" -> "etl", "raw_dir" -> raw,
        "curated_dir" -> s"$out/curated", "curated" -> curated, "records" -> records)
  }
}
