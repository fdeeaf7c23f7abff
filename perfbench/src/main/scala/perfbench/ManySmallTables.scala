package perfbench

import java.io.File
import java.time.Instant

import scala.util.Random

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, CheckObject}
import graft.scheduler.{Scheduler, SchedulerReport}
import graft.selector.Selector
import graft.state.StateStore

/** `graft.scheduler.Scheduler.run`, the paper's time-boxed, resumable check
  * pass, over many small tables in several databases: a selection DSL with a
  * wildcard exclusion picks the databases, a seeded history makes the
  * tables' predicted durations differ, and a ticking clock with a time
  * limit lets about half of the due tables fit each night, so the halfway
  * smallest-first flip and the predicted-duration skips fire
  * deterministically and each night resumes what the last one left. */
object ManySmallTables extends Workload {
  val name = "many_small_tables"
  val Dbs = 5
  /** The selection: every database except the ones ending in 4. */
  val Dsl = "ALL_DATABASES, -%4"
  /** Each `now()` advances the scheduler's clock by a minute. */
  val TickMs = 60000L
  val TemplateNames = Seq("nation", "region", "supplier")
  /** The seeded history's mean check duration per template, in ticks: the
    * largest template's predicted duration overruns the deadline over the
    * last third of the budget, so it is skipped there. */
  val HistoryTicks = Seq(2L, 1L, 20L)
  /** Every database holds the same mix of templates (indices into
    * `TemplateNames`) and of history ages in days; the seed shuffles which
    * table gets which, so seeds differ in layout, not in difficulty. */
  val TemplateMix = Seq(0, 0, 1, 1, 2)
  val AgeMix = Seq(1, 1, 2, 2, 3)

  val Day0: Instant = Instant.parse("2026-01-05T02:00:00Z")

  /** One scheduler pass and what it left behind. */
  final case class Pass(day: Int, startNs: Long, endNs: Long, wallStart: Instant,
      report: SchedulerReport, clock: RecordingClock, log: CommandLog,
      manifestCalls: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
    def tableCommands: Int = report.executedCommands.count(_.startsWith("CHECKTABLE"))
    def checkMs: Seq[Double] = clock.recordedMs
  }

  final class Runner(ctx: Ctx, dbs: Map[String, String], root: File,
      config: CheckConfig) {
    val statePath = new File(root, "state/check_objects").getPath
    val logPath = new File(root, "state/command_log").getPath
    private val store = new StateStore(ctx.spark, statePath)

    private def clockFor(day: Int) =
      new RecordingClock(Day0.plusSeconds(day * 86400L), TickMs)

    /** A real pass. In a traced run the inventory is wrapped so catalog
      * calls are timed. */
    def pass(day: Int): Pass = {
      val clock = clockFor(day)
      val log = new CommandLog(ctx.spark, Some(logPath))
      val inv = new DirInventory(ctx.spark, dbs)
      val timed = if (ctx.trace) Some(new TimedInventory(inv, ctx.spans)) else None
      val sched = new Scheduler(ctx.spark, timed.getOrElse(inv), store, log,
        config, clock)
      val w0 = Instant.now()
      val t0 = System.nanoTime()
      val report = sched.run()
      val t1 = System.nanoTime()
      ctx.spans.add("scheduler.pass", t0, t1)
      Pass(day, t0, t1, w0, report, clock, log,
        timed.map(_.manifestCalls.get).getOrElse(0L))
    }

    /** The same pass in dry-run mode on the same state: no check runs and
      * nothing is saved. With the ticking clock the scheduler must make
      * exactly the decisions of the real pass, which makes this the
      * oracle for the real pass's command list, skip list and state. */
    def dryPass(day: Int): SchedulerReport =
      new Scheduler(ctx.spark, new DirInventory(ctx.spark, dbs), store,
        new CommandLog(ctx.spark, None),
        config.copy(execute = false, logToTable = false), clockFor(day)).run()
  }

  /** Digest of a state table: every column of every row, in key order. */
  def stateDigest(rows: Seq[CheckObject]): String = Fs.sha256(
    rows.sortBy(o => (o.database_name, o.schema_name, o.object_name))
      .map(_.toString).mkString("\n"))

  def reportDigest(r: SchedulerReport): String = Fs.sha256(
    (r.executedCommands ++ r.skipped.map(s => s"SKIP ${s._1} ${s._2}") :+
      stateDigest(r.state)).mkString("\n"))

  /** Layer metrics from the steady passes of a traced run, plus direct
    * calls to the state, selector and audit-log layers on the same inputs.
    * `scheduler.self_ms` is what remains of a pass once every timed child
    * (catalog calls, the union of check commands, state and log calls) is
    * taken out; `checks.busy_ms` is that union. */
  def layers(ctx: Ctx, runner: Runner, dbs: Map[String, String],
      steady: Seq[Pass], c: Map[String, Long]): Map[String, Double] = {
    val n = steady.size.toDouble
    def perPass(f: Pass => Double): Double = steady.map(f).sum / n
    def inPass(p: Pass, name: String): Seq[Span] = ctx.spans.named(name)
      .filter(s => s.startNs >= p.startNs && s.endNs <= p.endNs)
    // audit-log entries are stamped with the wall clock; map them onto the
    // monotonic time line through the pass's own start
    def commandSpans(p: Pass, kind: String): Seq[Span] = {
      def ns(i: Instant) = java.time.Duration.between(p.wallStart, i).toNanos
      p.log.entries.filter(_.command_type == kind).map { e =>
        val s = e.start_time.toInstant
        val end = e.end_time.map(_.toInstant).getOrElse(s)
        Span(kind, p.startNs + ns(s), p.startNs + ns(end))
      }
    }
    // the state layer, timed by direct calls on the pass's own state
    val inv = new DirInventory(ctx.spark, dbs)
    val scan = Selector.selectedNames(inv.databases().map(Selector.DbInfo(_)), Dsl)
      .flatMap(inv.objects)
    ctx.spans.time("selector.resolve") {
      (1 to 20).foreach(_ => Selector.selectedNames(
        inv.databases().map(Selector.DbInfo(_)), Dsl))
    }
    val store = new StateStore(ctx.spark, runner.statePath)
    val probe = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val loaded = store.load()
      val t1 = System.nanoTime()
      val merged = StateStore.reconcile(loaded, scan)
      val t2 = System.nanoTime()
      new StateStore(ctx.spark, runner.statePath + "-probe").save(merged)
      val t3 = System.nanoTime()
      val log = new CommandLog(ctx.spark, Some(runner.logPath + "-probe"))
      steady.last.log.entries.foreach(log.append)
      log.flush()
      val t4 = System.nanoTime()
      Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3).map(_ / 1e6)
    }
    def probeMs(i: Int) = Stats.median(probe.map(_(i)))
    val probeSum = (0 until 4).map(probeMs).sum
    val selectorOne = ctx.spans.named("selector.resolve").map(_.ms).sum / 20
    def commands(p: Pass): Seq[Span] =
      p.clock.recorded.map { case (a, b) => Span("check", a, b) } ++
        commandSpans(p, "DBCC_CHECKALLOC") ++ commandSpans(p, "DBCC_CHECKCATALOG")
    val selfMs = steady.map { p =>
      val children = inPass(p, "catalog.objects") ++ inPass(p, "catalog.manifest") ++
        commands(p)
      Stats.selfNs(Span("pass", p.startNs, p.endNs), children) / 1e6 -
        probeSum - selectorOne
    }
    def cmdMs(p: Pass, kind: String) = commandSpans(p, kind).map(_.ms).sum
    val cmds = perPass(_.report.executedCommands.size)
    val failed = steady.map(_.log.entries.count(_.error_number.contains(50000))).sum
    val retries = steady.flatMap(_.log.entries).map { e =>
      "\"transient_retries\": (\\d+)".r.findFirstMatchIn(e.extended_info)
        .map(_.group(1).toDouble).getOrElse(0.0)
    }.sum
    val wall = steady.map(_.wallS).sum
    Map(
      "catalog.objects_ms" -> perPass(p => inPass(p, "catalog.objects").map(_.ms).sum),
      "catalog.manifest_ms" -> perPass(p => inPass(p, "catalog.manifest").map(_.ms).sum),
      "catalog.manifest_calls" -> perPass(_.manifestCalls.toDouble),
      "selector.resolve_ms" -> selectorOne,
      "state.load_ms" -> probeMs(0),
      "state.reconcile_ms" -> probeMs(1),
      "state.save_ms" -> probeMs(2),
      "executor.log_flush_ms" -> probeMs(3),
      "checks.alloc_ms" -> perPass(cmdMs(_, "DBCC_CHECKALLOC")),
      "checks.catalog_ms" -> perPass(cmdMs(_, "DBCC_CHECKCATALOG")),
      "checks.table_ms_sum" -> perPass(_.checkMs.sum),
      "checks.busy_ms" -> perPass(p => Stats.unionNs(
        commands(p).map(x => (x.startNs, x.endNs)), p.startNs, p.endNs) / 1e6),
      "checks.check_ms_p50" -> Stats.median(steady.flatMap(_.checkMs)),
      "checks.check_ms_p90" -> Stats.tail(steady.flatMap(_.checkMs), 0.9)._1,
      "checks.check_ms_p90_beyond" -> Stats.tail(steady.flatMap(_.checkMs), 0.9)._2.toDouble,
      "checks.check_samples" -> steady.flatMap(_.checkMs).size.toDouble,
      "checks.objects_per_s" -> Stats.median(steady.map(p => p.tableCommands / p.wallS)),
      "checks.scan_mb_per_s" -> c("input_bytes") / 1048576.0 / wall,
      "checks.jobs_per_command" -> c("jobs") / (cmds * n),
      "checks.tasks_per_command" -> c("tasks") / (cmds * n),
      "checks.input_mb" -> c("input_bytes") / 1048576.0 / n,
      "executor.commands" -> cmds,
      "executor.failed" -> failed / n,
      "executor.transient_retries" -> retries / n,
      "scheduler.self_ms" -> Stats.median(selfMs),
      "scheduler.executed" -> perPass(_.tableCommands),
      "scheduler.skipped" -> perPass(_.report.skipped.size),
      "scheduler.pass_ms" -> perPass(_.wallS * 1000.0),
      "scheduler.pool_busy_frac" -> steady.map(_.checkMs.sum).sum /
        (wall * 1000.0 * ctx.cores)
    ) ++ SparkLayer.metrics(c, wall, ctx.cores, n)
  }

  /** Steady passes on consecutive days until the window is used up. */
  def measure(ctx: Ctx, runner: Runner, minPasses: Int, maxPasses: Int)(
      each: Pass => Unit): (Pass, Seq[Pass], Map[String, Long]) = {
    val first = runner.pass(0)
    each(first)
    ctx.counters.reset()
    val t0 = System.nanoTime()
    val steady = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (steady.size < minPasses || (steady.size < maxPasses &&
        (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val p = runner.pass(steady.size + 1)
      each(p)
      steady += p
    }
    org.apache.spark.ListenerDrain(ctx.spark.sparkContext)
    (first, steady.toSeq, ctx.counters.snapshot)
  }

  def prepare(ctx: Ctx): Unit = {
    ctx.tables(0.1, TemplateNames: _*)
    OperatorSuite.prepare(ctx)
  }

  def run(ctx: Ctx): Result = {
    val tables = ctx.tables(0.1, TemplateNames: _*)
    val templates = TemplateNames.flatMap(t =>
      Fs.partFiles(new File(tables, s"$t.parquet")))
    val dbNames = (0 until Dbs).map(i => s"db$i")
    val selected = Selector.selectedNames(dbNames.map(Selector.DbInfo(_)), Dsl)
    val derive = (d: File) => {
      val rnd = new Random(ctx.seed)
      val layout = dbNames.map(db => db -> rnd.shuffle(TemplateMix)).toMap
      for (db <- dbNames; (k, t) <- layout(db).zipWithIndex)
        Fs.copy(templates(k), new File(d, f"$db/t$t%03d.parquet"))
      // earlier nights' history: every selected table was checked one to
      // three days ago, and its mean duration depends on its template
      val history = for ((db, i) <- selected.zipWithIndex;
          ((k, age), t) <- layout(db).zip(rnd.shuffle(AgeMix)).zipWithIndex) yield {
        val bytes = new File(d, f"$db/t$t%03d.parquet").length
        val last = Day0.minusSeconds(86400L * age)
        val avg = HistoryTicks(k) * TickMs
        CheckObject.fresh(i * TemplateMix.size + t + 1L, db, "U", "main",
          f"t$t%03d", "U", bytes).copy(
          start_time = Some(java.sql.Timestamp.from(last)),
          end_time = Some(java.sql.Timestamp.from(last.plusMillis(avg))),
          run_duration_ms = avg, command = "CHECKTABLE (history)",
          number_of_executions = 30L, avg_run_duration_ms = avg,
          last_check_date = java.sql.Date.valueOf(
            last.atZone(java.time.ZoneOffset.UTC).toLocalDate))
      }
      new StateStore(ctx.spark, new File(d, "history/check_objects").getPath)
        .save(history)
    }
    val warm = (d: File) => {
      val small = new File(d, "warm")
      Fs.copy(templates.head, new File(small, "db/t.parquet"))
      new Runner(ctx, Map("warm" -> new File(small, "db").getPath), small,
        CheckConfig(concurrency = ctx.cores)).pass(0)
      Fs.deleteTree(small)
    }
    val (setupS, input) = Setup(ctx)(derive, warm)
    val inputDigest = Fs.digest(input)
    val dbs = dbNames.map(db => db -> new File(input, db).getPath).toMap
    // about half of the selected tables fit: three clock reads per
    // admitted table, and a few per database
    val ticks = 3L * selected.size * TemplateMix.size / 2 + 2L * selected.size
    val config = CheckConfig(databases = Dsl, concurrency = ctx.cores,
      timeLimitSeconds = Some(ticks * TickMs / 1000))
    val runner = new Runner(ctx, dbs, ctx.dir("many"), config)
    val history = new File(input, "history/check_objects")
    Fs.copyTree(history, new File(runner.statePath))
    var failed = 0L
    var attempted = 0L
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    val dueTables = selected.size * TemplateMix.size
    Main.Heap.reset()
    val (first, steady, counts) = measure(ctx, runner, 4, 12) { p =>
      attempted += p.report.executedCommands.size
      failed += p.report.errors
      digests += reportDigest(p.report)
      if (p.report.violations != 0) {
        failed += 1; notes += s"day ${p.day}: ${p.report.violations} violations"
      }
      // the budget must bind: some, never all, due tables are checked
      if (p.tableCommands == 0 || p.tableCommands >= dueTables) {
        failed += 1
        notes += s"day ${p.day}: ${p.tableCommands} of $dueTables checked"
      }
    }
    val peak = Main.Heap.peakMb()
    // replay each day as a dry run from the state before it: the
    // command list, skip list and resulting state must match exactly
    val replay = new Runner(ctx, dbs, ctx.dir("many-replay"), config)
    Fs.copyTree(history, new File(replay.statePath))
    val all = first +: steady
    all.foreach { p =>
      val dry = replay.dryPass(p.day)
      attempted += 1
      val real = p.report
      if (dry.executedCommands != real.executedCommands ||
          dry.skipped != real.skipped ||
          stateDigest(dry.state) != stateDigest(real.state)) {
        failed += 1
        notes += s"day ${p.day}: the dry-run replay decided differently"
      }
      // advance the replay's state to the real pass's state
      new StateStore(ctx.spark, replay.statePath).save(real.state)
    }
    val predictedSkips = all.map(_.report.skipped.count(_._2.startsWith("predicted")))
    attempted += 1
    if (predictedSkips.sum == 0) {
      failed += 1; notes += "no predicted-duration skip on any night"
    }
    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> first.wallS,
      "pass_s" -> Stats.median(steady.map(_.wallS)),
      "ops_per_s" -> Stats.median(steady.map(p => p.tableCommands / p.wallS)),
      "peak_heap_mb" -> peak)
    // A traced run also runs the operator layer after the measured passes:
    // this workload's run is the shorter of the two.
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val (ops, opAttempted, opFailed, opNotes) = OperatorSuite.probe(ctx)
      attempted += opAttempted
      failed += opFailed
      notes ++= opNotes
      this.layers(ctx, runner, dbs, steady, counts) ++ ops
    }
    Result(e2e, layers, attempted, failed,
      inputDigest, Fs.sha256(digests.mkString(",")), notes.toSeq :+
        s"passes=${all.size} selected_dbs=${selected.size} " +
          s"checked_per_day=${all.map(_.tableCommands).mkString(",")} " +
          s"predicted_skips=${predictedSkips.mkString(",")}")
  }
}
