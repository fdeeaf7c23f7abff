package graft.scheduler

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Q
import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, ManualClock}
import graft.state.StateStore

/** The engine's own behavior exposed as driver-checkable queries (rows-only
  * gate — the scheduler is not SQL-expressible). Deterministic: fixed clock,
  * throwaway state, dry-run or in-memory log. */
object SchedulerQueries {

  private[graft] val FixedStart = Instant.parse("2026-01-01T00:00:00Z")

  /** Dry-run over the sf dir as database "testdb": returns the exact
    * command list the reference would print with @Execute='N'
    * (ref IntegrityChecks_VLDB.sql:29, ola/CommandExecute.sql:197,231). */
  val schedulerDryrun: Q = Q.noOracle("scheduler_dryrun") { (s, d) =>
    import s.implicits._
    val r = runScheduler(s, d, execute = false)
    r.executedCommands.zipWithIndex
      .map { case (c, i) => (i + 1, c) }
      .toDF("seq", "command")
  }

  /** ONE real pass per sf dir, inspected by both queries below. The
    * command log and the state table are two artifacts of the SAME
    * scheduler run (exactly as in the reference, where one nightly
    * execution populates both dbo.CommandLog and dbo.CheckTableObjects and
    * the trailing queries inspect each) — re-running the whole 10-table
    * pass per inspection would double the engine work for no new
    * information. Deterministic: fixed clock + clean fixtures. */
  private val realRunCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (SchedulerReport, CommandLog)]
  private def realRunFor(s: SparkSession, d: String)
      : (SchedulerReport, CommandLog) = {
    // A static map strongly retains its keys: entries for STOPPED sessions
    // would pin the session (and its report/log) for the JVM lifetime in a
    // long-running multi-session process. Evict them on every access — the
    // map holds at most a handful of entries, so the sweep is O(1)-ish.
    val it = realRunCache.keySet.iterator
    while (it.hasNext) {
      val k = it.next()
      if (k._1.sparkContext.isStopped) it.remove()
    }
    // keyed by (session, dir): the memoized pair is session-bound — a new
    // session must never be served results computed on a stopped one
    realRunCache.computeIfAbsent((s, d), { _ =>
      val log = new CommandLog(s, None)
      (runScheduler(s, d, execute = true, log = Some(log)), log)
    })
  }

  /** Drop memoized real runs — Bench calls this so a timed sample of
    * `scheduler_state_after_run` prices a REAL scheduler pass instead of a
    * cache hit (the command-log query still inspects the shared pass, as
    * in the reference where one nightly run feeds both artifacts). */
  def clearRealRunCache(): Unit = realRunCache.clear()

  /** Real run: per-object state after one scheduled pass — execution
    * counts, durations recorded, zero violations on the clean fixtures.
    * avg_run_duration_ms is part of the golden: the concurrent pass
    * (concurrency=8 below) must record BYTE-IDENTICAL state to the
    * sequential one, which the Clock determinism contract guarantees
    * (driver-only ticks + fixed elapsedMs) — with the fixed test clock
    * every first run records exactly tickMs. */
  val schedulerStateAfterRun: Q = Q.noOracle("scheduler_state_after_run") {
    (s, d) =>
      import s.implicits._
      val r = realRunFor(s, d)._1
      r.state.map(o => (o.object_name, o.number_of_executions,
          o.active, o.last_check_date.toString, o.avg_run_duration_ms,
          o.command))
        .toDF("object_name", "number_of_executions", "active",
          "last_check_date", "avg_run_duration_ms", "command")
        .orderBy("object_name")
  }

  /** Audit log produced by a real run (the CommandExecute contract,
    * ref ola/CommandExecute.sql:170-255). */
  val schedulerCommandLog: Q = Q.noOracle("scheduler_command_log") { (s, d) =>
    import s.implicits._
    val log = realRunFor(s, d)._2
    log.entries.map(e => (e.command_type, e.command, e.error_number,
        e.error_message.getOrElse("")))
      .toDF("command_type", "command", "error_number", "error_message")
      .orderBy("command")
  }

  private def runScheduler(s: SparkSession, sfDir: String, execute: Boolean,
      log: Option[CommandLog] = None): SchedulerReport = {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-schedq").toString + "/state"
    new Scheduler(s, new DirInventory(s, Map("testdb" -> sfDir)),
      new StateStore(s, statePath), log.getOrElse(new CommandLog(s, None)),
      config(execute), new ManualClock(FixedStart, tickMs = 10)).run()
  }

  /** Real runs use the concurrent phase 2 (8 in-flight table checks —
    * the reference's parallel queue mode, SURVEY §2.11); the goldens are
    * submission-ordered / sorted, so they are identical to sequential.
    * Dry-run stays sequential: there is no action to overlap. */
  private[graft] def config(execute: Boolean): CheckConfig =
    CheckConfig(databases = "testdb", execute = execute,
      logToTable = false, concurrency = if (execute) 8 else 1)

  val queries: Seq[Q] = Seq(
    schedulerDryrun, schedulerStateAfterRun, schedulerCommandLog)
}
