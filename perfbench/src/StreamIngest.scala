package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.datagen.TelemetryGen
import graft.streaming.StreamingPipeline
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** stream_ingest: the pipeline fed as many small batches of pre-rendered
  * files of 500 records (the consumer's poll cap), each landed by an
  * atomic rename, each batch committed by one `StreamingPipeline.run`
  * trigger on one checkpoint.
  *
  * The measured window is a closed loop with one client: land
  * `FilesPerTrigger` files, run one trigger to completion, repeat. Every
  * trigger does the same work, so the CPU a window costs per record moves
  * with the fixed cost of a trigger.
  *
  * The traced run adds the open loop the reference's "detect new files,
  * run job" DAG forms: a timer thread lands files at a fixed rate, and the
  * trigger loop runs whenever landed files are not yet committed. It
  * gives the files' freshness. A file's freshness runs from its due
  * landing time to the end of the trigger that committed it.
  * `Trigger.AvailableNow` snapshots the files present when the query
  * starts, and the file source's checkpoint log names them, so the files
  * new in the log after a trigger are the ones that trigger committed. */
final class StreamIngest(ctx: Ctx) extends Section {
  import PerfBench.timed

  val RecordsPerFile = 500
  /** The batch the open loop's triggers settle at: 4 files a second
    * against triggers of about a second. */
  val FilesPerTrigger = 4
  val FilesPerSecond = 4.0
  /** Length of the traced run's open loop, and of the probe's. */
  val OpenSeconds = 6.0
  val ProbeSeconds = 3.0
  val ProbeTriggers = 2
  val traceOps = 3
  private val dir = s"${ctx.work}/stream"
  private val stage = s"$dir/stage"
  private var staged = 0       // files rendered into `stage`
  private var taken = 0        // files handed to a landing directory
  private var loops = 0
  private val ran = mutable.ArrayBuffer.empty[Loop]

  /** Render files [0, n) of the seed's record stream into `stage`. */
  private def render(n: Int): Unit = {
    FileUtils.deleteQuietly(new File(stage))
    new File(stage).mkdirs()
    val rows = TelemetryGen.recordJson(ctx.spark, n.toLong * RecordsPerFile, ctx.seed)
      .orderBy("id").select("json").collect().map(_.getString(0))
    rows.grouped(RecordsPerFile).zipWithIndex.foreach { case (recs, i) =>
      Files.write(Paths.get(stagePath(i)), recs.mkString("[", ",", "]\n").getBytes("UTF-8"))
    }
    staged = n
    taken = 0
  }
  private def name(i: Int): String = f"f_$i%06d.json"
  private def stagePath(i: Int): String = s"$stage/${name(i)}"

  private def openFiles(seconds: Double): Int = math.ceil(seconds * FilesPerSecond).toInt

  def setUp(seconds: Double, ops: Int, repeats: Int, warmOps: Int): Double = {
    // closed-loop files for `ops` triggers, or for `seconds` of triggers up
    // to twice as fast as today's one a second; then the open loop's and
    // the warm-up's
    val triggers = math.min(ops.toDouble, math.ceil(seconds * 2)).toInt
    val files = (triggers + warmOps) * FilesPerTrigger + openFiles(OpenSeconds)
    val genS = medianOf(repeats)(render(files))
    ctx.put("datagen.stream_s", genS, "s")
    val (_, warmS) = timed {
      // untimed triggers on their own checkpoint: the first is cold
      val w = new Loop("warm")
      Seq.fill(warmOps) { w.landNow(FilesPerTrigger); w.trigger() }
    }
    PerfBench.log(f"stream_ingest inputs $genS%.2f s, warm-up $warmS%.2f s")
    genS + warmS
  }

  /** One landing directory, output root and checkpoint. */
  private final class Loop(tag: String) {
    loops += 1
    val root = s"$dir/$tag-$loops"
    val landing = s"$root/landing"
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    new File(landing).mkdirs()
    ran += this
    val first = taken
    val landed = new AtomicInteger(0)
    val committedAt = mutable.HashMap.empty[String, Long]
    val triggerS = mutable.ArrayBuffer.empty[Double]
    val filesPerTrigger = mutable.ArrayBuffer.empty[Int]
    var backlogMax = 0
    var failedTriggers = 0

    def land(k: Int): Unit = {
      val i = first + k
      require(i < staged, s"stream_ingest: only $staged files rendered")
      Files.move(Paths.get(stagePath(i)), Paths.get(s"$landing/${name(i)}"),
        StandardCopyOption.ATOMIC_MOVE)
      landed.set(k + 1)
    }
    def canLand(n: Int): Boolean = first + landed.get + n <= staged
    def landNow(n: Int): Unit = {
      val have = landed.get
      (have until have + n).foreach(land)
      taken = first + landed.get
    }

    /** Files the checkpoint's source log names. */
    private def logged(): Set[String] = {
      val log = new File(s"$ckpt/sources/0")
      Option(log.listFiles()).toSeq.flatten
        .filter(_.getName.matches("\\d+(\\.compact)?")).flatMap { f =>
        Files.readAllLines(f.toPath).asScala.flatMap { line =>
          "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1).split('/').last)
        }
      }.toSet
    }

    /** Run one AvailableNow trigger; returns false if it threw. */
    def trigger(): Boolean = {
      backlogMax = math.max(backlogMax, landed.get - committedAt.size)
      val t0 = System.nanoTime()
      val ok =
        try {
          ctx.tracer.span("streaming.trigger") {
            StreamingPipeline.run(ctx.spark, landing, out, ckpt).awaitTermination()
          }
          true
        } catch { case e: Throwable => PerfBench.log(s"stream trigger failed: $e"); false }
      val end = System.nanoTime()
      triggerS += (end - t0) / 1e9
      val fresh = logged() -- committedAt.keySet
      fresh.foreach(committedAt(_) = end)
      filesPerTrigger += fresh.size
      if (!ok) failedTriggers += 1
      ok
    }

    /** Every landed record appears exactly once across the curated and
      * rejected batch_id partitions. Record i carries the timestamp
      * 1700000000 + i seconds, so the landed files cover one contiguous
      * range of timestamps. */
    def verify(): Unit = {
      val n = landed.get
      val lo = first.toLong * RecordsPerFile
      val hi = (first + n).toLong * RecordsPerFile - 1
      val ts = ctx.spark.read.parquet(s"$out/curated").select("timestamp")
        .unionAll(ctx.spark.read.parquet(s"$out/rejected").select("timestamp"))
      val r = ts.agg(count(lit(1)), countDistinct(col("timestamp")),
        min(col("timestamp")), max(col("timestamp"))).first()
      val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
      def at(i: Long) = fmt.format(Instant.ofEpochSecond(1700000000L + i))
      val want = (n.toLong * RecordsPerFile, n.toLong * RecordsPerFile, at(lo), at(hi))
      val got = (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
      ctx.check(got == want, s"stream_ingest $tag: rows/distinct/min/max $got, expected $want")
      ctx.check(committedAt.size == n, s"stream_ingest $tag: ${committedAt.size} of $n files committed")
    }
  }

  private var lastLoop: Option[Loop] = None

  /** Land `FilesPerTrigger` files and run one trigger, `maxOps` times or
    * until `seconds` have passed; one sample per trigger, its wall time. A
    * trigger that throws ends the loop. The window ends early, and says
    * so, if the rendered files run out. */
  private def closedLoop(seconds: Double, maxOps: Int): Outcome = {
    val lp = new Loop("closed")
    lastLoop = Some(lp)
    ctx.progress.batches.clear()
    val t0 = System.nanoTime()
    var ops = 0
    var ok = true
    while (ok && ops < maxOps && PerfBench.secondsSince(t0) < seconds) {
      if (!lp.canLand(FilesPerTrigger)) {
        PerfBench.log(s"stream_ingest: rendered files ran out after $ops triggers")
        ok = false
      } else {
        lp.landNow(FilesPerTrigger)
        ok = lp.trigger()
        ops += 1
      }
    }
    Outcome(lp.triggerS.toSeq.take(ops - lp.failedTriggers), ops, lp.failedTriggers,
      lp.committedAt.size.toLong * RecordsPerFile)
  }

  /** Land files for `seconds` at the fixed rate, trigger until every
    * landed file is committed, and return one freshness sample per file. */
  private def openLoop(seconds: Double): Outcome = {
    val lp = new Loop("open")
    val n = math.max(1, math.round(seconds * FilesPerSecond).toInt)
    val periodNs = (1e9 / FilesPerSecond).toLong
    val start = System.nanoTime() + 20000000L
    val due = Array.tabulate(n)(k => start + k * periodNs)
    val late = new Array[Long](n)
    val timer = new Thread(() => {
      for (k <- 0 until n) {
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lp.land(k)
        late(k) = System.nanoTime() - due(k)
      }
    }, "perfbench-lander")
    timer.start()
    taken = lp.first + n
    var stalled = 0
    while ((timer.isAlive || lp.committedAt.size < lp.landed.get) && stalled < 3) {
      if (lp.landed.get > lp.committedAt.size) {
        val before = lp.committedAt.size
        val ok = lp.trigger()
        // a trigger that throws, or commits nothing three times running,
        // ends the loop; its files count as failed
        if (!ok) stalled = 3
        else if (lp.committedAt.size == before) stalled += 1
        else stalled = 0
      } else Thread.sleep(2)
    }
    timer.join()
    val fresh = (0 until n).flatMap(k =>
      lp.committedAt.get(name(lp.first + k)).map(c => (c - due(k)) / 1e9)).sorted
    ctx.put("stream.fresh_p50_s", Stats.median(fresh), "s")
    ctx.put("stream.fresh_p90_s",
      if (fresh.isEmpty) Double.NaN else fresh(math.ceil(0.9 * fresh.size).toInt - 1), "s")
    ctx.put("stream.gen_late_max_s", late.max / 1e9, "s")
    ctx.put("streaming.files_per_trigger", Stats.mean(lp.filesPerTrigger.map(_.toDouble).toSeq), "count")
    ctx.put("streaming.backlog_max_files", lp.backlogMax.toDouble, "count")
    ctx.put("streaming.triggers", lp.triggerS.size.toDouble, "count")
    Outcome(fresh, n, n - fresh.size, fresh.size.toLong * RecordsPerFile)
  }

  def measure(seconds: Double, maxOps: Int): Outcome = closedLoop(seconds, maxOps)

  def probe(): Unit = {
    val files = ProbeTriggers * FilesPerTrigger + openFiles(ProbeSeconds)
    ctx.put("datagen.stream_s", timed(render(files))._2, "s")
    closedLoop(Double.PositiveInfinity, ProbeTriggers)
    layers(ProbeSeconds)
    check()
  }

  def traceLayers(phase: Counts, ops: Int): Unit = layers(OpenSeconds)

  /** Trigger phases of the last closed loop, then an open loop of
    * `openSeconds` for freshness and the shape of its batches. */
  private def layers(openSeconds: Double): Unit = {
    val lp = lastLoop.get
    ctx.drain()
    // the engine reports whole milliseconds, so phases are averaged
    // over the loop's batches rather than taken as a median
    val batches = ctx.progress.batches.asScala.toSeq
    def phase(k: String): Double = Stats.mean(batches.map(_.getOrElse(k, 0L) / 1e3))
    ctx.put("streaming.trigger_s", Stats.median(lp.triggerS.toSeq), "s")
    ctx.put("streaming.start_stop_s", Stats.mean(lp.triggerS.toSeq) - phase("triggerExecution"), "s")
    ctx.put("streaming.latest_offset_s", phase("latestOffset"), "s")
    ctx.put("streaming.planning_s", phase("queryPlanning"), "s")
    ctx.put("streaming.add_batch_s", phase("addBatch"), "s")
    ctx.put("streaming.wal_commit_s", phase("walCommit"), "s")
    openLoop(openSeconds)
  }

  /** Verifies every loop run since the last check. */
  def check(): Unit = {
    ctx.check(ran.nonEmpty, "stream_ingest: no loop ran")
    ran.foreach { lp =>
      lp.verify()
      ctx.check(lp.failedTriggers == 0, s"stream_ingest: ${lp.failedTriggers} triggers threw")
    }
    ran.clear()
  }
}
