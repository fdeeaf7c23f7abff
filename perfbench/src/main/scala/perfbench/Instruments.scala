package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.catalog.{Inventory, InventoryRow, TableManifest}
import graft.model.Clock

/** One timed interval on the benchmark's monotonic time line (ns). */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String = "", run: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span sink; spans are written out when the run ends. */
final class SpanLog(run: String) {
  private val buf = ArrayBuffer.empty[Span]
  def add(name: String, startNs: Long, endNs: Long, parent: String = ""): Unit =
    synchronized { buf += Span(name, startNs, endNs, parent, run) }
  def time[T](name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, t0, System.nanoTime(), parent)
  }
  def spans: Seq[Span] = synchronized(buf.toSeq)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def totalMs(name: String): Double = named(name).map(_.ms).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The p-quantile and how many samples lie strictly beyond it: a tail
    * quantile is only worth reporting when enough samples lie past it. */
  def tail(xs: Seq[Double], q: Double): (Double, Int) = {
    val v = quantile(xs, q)
    (v, xs.count(_ > v))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A parent span's self time: its length minus the union of its
    * children's intervals (overlapping children count once). */
  def selfNs(parent: Span, children: Seq[Span]): Long =
    (parent.endNs - parent.startNs) -
      unionNs(children.map(c => (c.startNs, c.endNs)), parent.startNs,
        parent.endNs)
}

/** A scheduler clock that ticks like [[graft.model.ManualClock]], so every
  * admission decision is deterministic, while it records the real
  * duration of each action the scheduler times with `elapsedMs`.
  * `observe()` reads the real wall clock: the scheduler uses it only for
  * audit-log stamps, never for a decision. */
final class RecordingClock(start: Instant, tickMs: Long) extends Clock {
  private var current = start
  private val durations = ArrayBuffer.empty[(Long, Long)] // (startNs, endNs)
  def now(): Instant = synchronized {
    val r = current; current = current.plusMillis(tickMs); r
  }
  override def observe(): Instant = Instant.now()
  override def elapsedMs(startNanos: Long): Long = {
    val end = System.nanoTime()
    synchronized { durations += ((startNanos, end)) }
    tickMs
  }
  /** The real (startNs, endNs) of every action timed so far. */
  def recorded: Seq[(Long, Long)] = synchronized(durations.toSeq)
  def recordedMs: Seq[Double] = recorded.map { case (a, b) => (b - a) / 1e6 }
}

/** An [[Inventory]] that times the catalog calls of the one it wraps. */
final class TimedInventory(inner: Inventory, spans: SpanLog)
    extends Inventory {
  val manifestCalls = new AtomicLong(0L)
  def databases(): Seq[String] = spans.time("catalog.databases")(inner.databases())
  def objects(db: String): Seq[InventoryRow] =
    spans.time("catalog.objects")(inner.objects(db))
  override def manifest(spark: SparkSession, row: InventoryRow): TableManifest = {
    manifestCalls.incrementAndGet()
    spans.time("catalog.manifest")(inner.manifest(spark, row))
  }
}

/** Spark cost totals from a listener: jobs, stages, tasks, task CPU and
  * run time, bytes and the largest per-task input. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, cpuNs, runMs, inputBytes, outputBytes,
    shuffleWrite, spill, maxTaskInputRecords = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      maxTaskInputRecords.accumulateAndGet(m.inputMetrics.recordsRead, math.max)
    }
    ()
  }

  def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get,
    "input_bytes" -> inputBytes.get,
    "output_bytes" -> outputBytes.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "max_task_input_records" -> maxTaskInputRecords.get)

  def reset(): Unit = Seq(jobs, stages, tasks, cpuNs, runMs, inputBytes,
    outputBytes, shuffleWrite, spill, maxTaskInputRecords)
    .foreach(_.set(0L))
}

/** The `spark.*` layer: Spark cost per pass over a measured phase. */
object SparkLayer {
  def metrics(c: Map[String, Long], wallS: Double, cores: Int,
      passes: Double): Map[String, Double] = Map(
    "spark.jobs" -> c("jobs") / passes,
    "spark.stages" -> c("stages") / passes,
    "spark.tasks" -> c("tasks") / passes,
    "spark.task_cpu_s" -> c("cpu_ns") / 1e9 / passes,
    "spark.busy_frac" -> c("run_ms") / 1000.0 / (wallS * cores),
    "spark.input_mb" -> c("input_bytes") / 1048576.0 / passes,
    "spark.output_mb" -> c("output_bytes") / 1048576.0 / passes,
    "spark.shuffle_write_mb" -> c("shuffle_write") / 1048576.0 / passes,
    "spark.spill_mb" -> c("spill") / 1048576.0 / passes,
    "spark.max_task_input_records" -> c("max_task_input_records").toDouble)
}
