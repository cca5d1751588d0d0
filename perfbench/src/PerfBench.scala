package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Stats {
  /** NaN for no samples, which the result line reports as null. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** What a measured window hands back: one latency sample in seconds per
  * completed operation, the operations tried and failed, and the records
  * the completed operations processed. */
final case class Outcome(samples: Seq[Double], attempted: Int, failed: Int,
    records: Long)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Int,
    val tracer: Tracer, val counters: SparkCounters, val progress: StreamProgress) {
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val pythonChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var checksOk = true
  def check(ok: Boolean, what: String): Unit =
    if (!ok) { checksOk = false; notes += s"FAILED: $what" }
  def put(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  /** Wait until every listener has seen the events posted so far. */
  def drain(): Unit = org.apache.spark.PerfBenchAccess.drain(spark.sparkContext)

  /** Turn tracing on or off: spans plus the three listeners. */
  def instrument(on: Boolean): Unit = if (on != tracer.enabled) {
    tracer.enabled = on
    val sc = spark.sparkContext
    if (on) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
      spark.streams.addListener(progress)
    } else {
      drain()
      sc.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      spark.streams.removeListener(progress)
    }
  }
}

/** A traced run of another workload: a small set-up, one traced pass,
  * the probe's per-layer numbers and its output checks. */
trait Probe {
  def probe(): Unit
}

/** One measured workload. */
trait Section extends Probe {
  /** Generate the inputs for a window of `seconds` or `ops` operations,
    * whichever ends first, `repeats` times (the median time kept) and run
    * `warmOps` untimed operations; returns the set-up seconds without the
    * session start. */
  def setUp(seconds: Double, ops: Int, repeats: Int, warmOps: Int): Double
  /** Operations in each of the three measured phases of a traced run. */
  def traceOps: Int
  /** Operations back to back for `seconds` or `maxOps` operations,
    * whichever ends first. */
  def measure(seconds: Double, maxOps: Int): Outcome
  /** Per-layer numbers, computed after the traced phase; `phase` holds
    * the phase's Spark counters and `ops` its completed operations. */
  def traceLayers(phase: Counts, ops: Int): Unit
  def check(): Unit

  protected def medianOf(repeats: Int)(gen: => Unit): Double =
    Stats.median(Seq.fill(repeats)(PerfBench.timed(gen)._2))
}

object PerfBench {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** The session shape of the project's own harnesses (Bench, Verify),
    * with scratch space kept inside the benchmark's work directory. */
  def session(master: String, partitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val start = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secondsSince(start)}%7.2f s] $msg")

  private def arg(argv: Array[String], key: String): String = {
    val i = argv.indexOf(key)
    require(i >= 0 && i + 1 < argv.length, s"missing $key")
    argv(i + 1)
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload")
    val seed = arg(argv, "--seed").toInt
    val seconds = arg(argv, "--seconds").toDouble
    val trace = arg(argv, "--trace") == "1"
    val work = arg(argv, "--work")

    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = timed(session(s"local[$cores]", cores, work))
    val ctx = new Ctx(spark, work, seed, new Tracer(s"$workload-$seed", enabled = false),
      new SparkCounters, new StreamProgress)
    val etl = new EtlBatch(ctx)
    val stream = new StreamIngest(ctx)
    val own: Section = workload match {
      case "etl_batch" => etl
      case "stream_ingest" => stream
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val result: Map[String, Any] =
      if (!trace) {
        // the first operation in a fresh JVM is several times slower than
        // the second, and the second still slower than the rest
        val setupS = sessionS + own.setUp(seconds, Int.MaxValue, repeats = 3, warmOps = 2)
        log(f"set up in $setupS%.2f s (session $sessionS%.2f s)")
        val contention = new Contention
        val out = own.measure(seconds, Int.MaxValue)
        val (steal, share) = contention.read()
        val cpuS = contention.cpuSeconds()
        log("measured")
        own.check()
        spark.stop()
        Map("attempted" -> out.attempted, "failed" -> out.failed,
          "samples" -> out.samples, "steal_pct" -> steal, "cpu_share" -> share,
          "metrics" -> Map(
            "setup_s" -> Seq(setupS, "s"),
            "records_per_cpu_s" -> Seq(out.records / cpuS, "rec/cpu-s")))
      } else {
        // Every module reports in every traced run. The named workload
        // runs its traced phase between two untraced ones of the same
        // operation count (the difference is the tracing overhead, with
        // the JIT's warming spread over both sides) and owns the spark.*
        // counters, per operation of its traced phase; the other workload
        // and the query board run a short traced probe.
        val board = new QueryBoard(ctx, arg(argv, "--tables"), arg(argv, "--tables-gen-s").toDouble)
        val contention = new Contention
        // one warm-up operation: the medians below shrug off the second
        // operation's extra cost
        val setupS = sessionS + own.setUp(Double.PositiveInfinity, 3 * own.traceOps,
          repeats = 1, warmOps = 1)
        log("set up")
        val before = own.measure(Double.PositiveInfinity, own.traceOps)
        ctx.instrument(on = true)
        ctx.counters.resetPeak()
        val c0 = ctx.counters.counts
        val traced = own.measure(Double.PositiveInfinity, own.traceOps)
        ctx.drain()
        val d = ctx.counters.counts - c0
        val ops = math.max(1, traced.samples.size)
        ctx.put("setup.total_s", setupS, "s")
        ctx.put("setup.session_s", sessionS, "s")
        ctx.put("spark.jobs_per_op", d.jobs.toDouble / ops, "count")
        ctx.put("spark.tasks_per_op", d.tasks.toDouble / ops, "count")
        ctx.put("spark.shuffle_bytes_per_op", d.shuffleBytes.toDouble / ops, "bytes")
        ctx.put("spark.spill_bytes_per_op", d.spillBytes.toDouble / ops, "bytes")
        ctx.put("spark.gc_s_per_op", d.gcMs / 1e3 / ops, "s")
        ctx.put("spark.executor_cpu_s_per_op", d.cpuNs / 1e9 / ops, "s")
        ctx.put("spark.storage_peak_mb", ctx.counters.storagePeak / 1e6, "MB")
        own.traceLayers(d, ops)
        ctx.instrument(on = false)
        val after = own.measure(Double.PositiveInfinity, own.traceOps)
        ctx.instrument(on = true)
        ctx.put("trace.overhead_s",
          Stats.median(traced.samples) - Stats.median(before.samples ++ after.samples), "s")
        own.check()
        log("untraced and traced phases")
        Seq(etl, stream, board).filterNot(_ eq own).foreach { p =>
          p.probe()
          log(s"probe ${p.getClass.getSimpleName}")
        }
        val (steal, share) = contention.read()
        ctx.put("host.steal_pct", steal, "%")
        ctx.put("host.cpu_share", share, "share")
        ctx.instrument(on = false)
        ctx.tracer.write(s"$work/spans.jsonl")
        // single-threaded baseline: part of the pipeline input on local[1]
        spark.stop()
        val one = session("local[1]", cores, work)
        ctx.put("pipeline.local1_records_per_s", etl.singleThreaded(one), "rec/s")
        one.stop()
        log("local[1] baseline")
        val phases = Seq(before, traced, after)
        Map("attempted" -> phases.map(_.attempted).sum, "failed" -> phases.map(_.failed).sum,
          "steal_pct" -> steal, "cpu_share" -> share,
          "metrics" -> ctx.layer.map { case (k, (v, u)) => k -> Seq(v, u) })
      }
    println("PERFBENCH " + Json(result ++ Map(
      "correct" -> ctx.checksOk, "notes" -> ctx.notes, "python_checks" -> ctx.pythonChecks)))
  }
}
