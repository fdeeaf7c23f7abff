package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: one Spark session, a private work directory,
  * the generated tables, the seed and the measuring window. */
final case class Ctx(spark: SparkSession, work: File, tablesRoot: File,
    sf: Option[Double], seed: Long, seconds: Double, trace: Boolean,
    cores: Int, spans: SpanLog, counters: SparkCounters) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** The generated tables a workload reads, at its own scale unless the
    * run overrides it (small-scale smoke runs). */
  def tables(defaultSf: Double, names: String*): File = {
    val s = sf.getOrElse(defaultSf)
    Gen.ensure(spark, new File(tablesRoot, s"v${Gen.Version}-sf$s"), s, names)
  }
}

/** A run's outcome. `e2e` holds the end-to-end metrics, `layers` the
  * per-layer metrics of a traced run; `attempted`/`failed` count the
  * operations and the failed ones, output-check mismatches included. */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, inputDigest: String,
    outputDigest: String, notes: Seq[String])

trait Workload {
  def name: String
  /** Generates the tables the workload reads; runs once per checkout. */
  def prepare(ctx: Ctx): Unit
  def run(ctx: Ctx): Result
}

/** A workload's set-up, run `SetupReps` times into fresh directories: the
  * reported set-up time is the median, and the last repetition's directory
  * is the one the run uses. */
object Setup {
  val SetupReps = 3

  def apply(ctx: Ctx)(derive: File => Unit, warm: File => Unit): (Double, File) = {
    val dirs = (1 to SetupReps).map(i => new File(ctx.work, s"input-$i"))
    val times = dirs.map { d =>
      val t0 = System.nanoTime()
      derive(d)
      warm(d)
      (System.nanoTime() - t0) / 1e9
    }
    dirs.init.foreach(Fs.deleteTree)
    (Stats.median(times), dirs.last)
  }
}

object Main {
  val workloads: Seq[Workload] = Seq(ManySmallTables, ArrivalWorkload)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val wl = workloads.find(_.name == opts.getOrElse("--workload", workloads.head.name))
      .getOrElse(sys.error(s"unknown workload ${opt("--workload")}; " +
        s"known: ${workloads.map(_.name).mkString(", ")}"))
    val work = new File(opt("--work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.SessionDefaults(SparkSession.builder()
        .master(s"local[$cores]").appName(s"perfbench-${wl.name}"),
        cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // Spark cost counters are a per-layer measurement: only traced runs
    // carry the listener
    val counters = new SparkCounters
    if (opts.get("--trace").contains("1")) spark.sparkContext.addSparkListener(counters)
    try {
      val sf = opts.get("--sf").map(_.toDouble)
      val runDir = new File(work, s"run-${wl.name}")
      Fs.deleteTree(runDir)
      runDir.mkdirs()
      val ctx = Ctx(spark, runDir, new File(work, "tables"), sf,
        opts.getOrElse("--seed", "0").toLong, opts.getOrElse("--seconds", "1").toDouble,
        opts.get("--trace").contains("1"), cores,
        new SpanLog(s"${wl.name}-${opts.getOrElse("--seed", "0")}"), counters)
      if (opts.get("--prepare").contains("1")) {
        workloads.foreach(_.prepare(ctx))
        return
      }
      opts.get("--emit").foreach { out =>
        OperatorSuite.emit(ctx, new File(out))
        return
      }
      val r = wl.run(ctx)
      if (ctx.trace) writeSpans(new File(work, s"spans-${wl.name}.tsv"), ctx.spans)
      val record = Json.obj(
        "workload" -> wl.name, "seed" -> ctx.seed, "trace" -> ctx.trace,
        "sf_override" -> sf, "host" -> host(spark, cores),
        "session_start_s" -> sessionS,
        "input_digest" -> r.inputDigest, "output_digest" -> r.outputDigest,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "end_to_end" -> r.e2e, "per_layer" -> r.layers, "notes" -> r.notes)
      println("PERFBENCH_RECORD " + record)
      Fs.deleteTree(runDir)
    } finally spark.stop()
  }

  def host(spark: SparkSession, cores: Int): Map[String, Any] = {
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }.getOrElse(0L)
    Map("nproc" -> cores, "mem_total_kb" -> memKb,
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> spark.version, "os" -> System.getProperty("os.name"))
  }

  /** Heap in use right after each garbage collection, as a running peak:
    * the driver's peak live heap. Read after collections so that it tracks
    * what the run holds, not when the collector happened to run. */
  object Heap {
    private val peakBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    private def afterGc(info: com.sun.management.GcInfo): Long =
      info.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
    private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    private lazy val install: Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              peakBytes.accumulateAndGet(afterGc(info.getGcInfo), math.max)
            }, null, null)
        case _ =>
      }
    /** Starts a measurement: collects, then tracks the peak from here. */
    def reset(): Unit = { install; System.gc(); peakBytes.set(0L) }
    /** Ends it: one last collection, so a window without any still reads. */
    def peakMb(): Double = {
      System.gc()
      Thread.sleep(50) // notifications arrive on their own thread
      peakBytes.get / 1048576.0
    }
  }

  private def writeSpans(f: File, spans: SpanLog): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("run\tname\tparent\tstart_ns\tend_ns")
      spans.spans.foreach(s =>
        w.println(s"${s.run}\t${s.name}\t${s.parent}\t${s.startNs}\t${s.endNs}"))
    } finally w.close()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }
      .sortBy(_._1).map { case (k, x) => value(k) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
