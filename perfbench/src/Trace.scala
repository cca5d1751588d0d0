package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span,
  * or -1 at the top; every span of one benchmark process shares `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, runId: String) {
  def ns: Long = endNs - startNs
}

/** Spans kept in memory and written out once, when the run ends. Only the
  * benchmark's main thread opens spans, so children of one span run one
  * after another and never overlap. A disabled tracer runs the body and
  * records nothing. */
final class Tracer(val runId: String, var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), runId)
        stack = stack.tail
      }
    }

  /** Mean self time per span of `name`, in seconds: each span's duration
    * minus the part its children cover. */
  def selfSeconds(name: String): Double = {
    val childNs = spans.groupMapReduce(_.parent)(_.ns)(_ + _)
    val own = spans.filter(_.name == name)
    if (own.isEmpty) Double.NaN
    else own.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum / 1e9 / own.size
  }

  /** Mean wall time per span of `name`, in seconds. */
  def meanSeconds(name: String): Double = {
    val own = spans.filter(_.name == name)
    if (own.isEmpty) Double.NaN else own.map(_.ns).sum / 1e9 / own.size
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(Json(Map("run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Cumulative Spark counters at one instant; `-` gives a window's delta. */
final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long,
    spillBytes: Long, gcMs: Long, cpuNs: Long, inputBytes: Long,
    outputBytes: Long, exchanges: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, gcMs - o.gcMs,
    cpuNs - o.cpuNs, inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    exchanges - o.exchanges)
}

/** Job, task, storage and executed-plan counters from the listener buses. */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs, tasks, shuffle, spill, gc, cpu, input, output, exchanges =
    new AtomicLong
  private val cached = scala.collection.concurrent.TrieMap.empty[String, Long]
  @volatile private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
      cpu.addAndGet(m.executorCpuTime)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      if (info.storageLevel.isValid)
        cached.put(info.blockId.name, info.memSize + info.diskSize)
      else cached.remove(info.blockId.name)
      peak = math.max(peak, cached.values.sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    exchanges.addAndGet(countExchanges(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  private def countExchanges(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case x: Exchange => x }.size.toLong

  def counts: Counts = Counts(jobs.get, tasks.get, shuffle.get, spill.get,
    gc.get, cpu.get, input.get, output.get, exchanges.get)

  /** Peak cached-block bytes since the last reset. */
  def storagePeak: Long = peak
  def resetPeak(): Unit = peak = cached.values.sum
}

/** Per-trigger phase durations (ms) reported by the streaming engine. */
final class StreamProgress extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}

/** Host contention over a window: CPU steal % from /proc/stat, and the
  * share of the machine's CPU this process used. A noisy neighbour shows
  * as steal, or as a low share on a slow run. */
final class Contention {
  private def jiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private val (steal0, total0) = jiffies()
  private val cpu0 = processCpuNs()
  private val wall0 = System.nanoTime()

  /** Seconds of CPU this process used since construction. */
  def cpuSeconds(): Double = (processCpuNs() - cpu0) / 1e9

  /** (steal %, CPU share) since construction; -1 where unavailable. */
  def read(): (Double, Double) = {
    val (steal1, total1) = jiffies()
    val cpu1 = processCpuNs()
    val wall = (System.nanoTime() - wall0) / 1e9
    val steal = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else -1.0
    val share =
      if (cpu0 >= 0 && cpu1 >= 0 && wall > 0)
        (cpu1 - cpu0) / 1e9 / (wall * Runtime.getRuntime.availableProcessors())
      else -1.0
    (steal, share)
  }
}
