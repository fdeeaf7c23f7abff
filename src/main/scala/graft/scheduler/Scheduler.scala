package graft.scheduler

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{Inventory, InventoryRow}
import graft.checks.LakeChecks
import graft.executor.{CommandExecutor, CommandLog}
import graft.model.{CheckConfig, CheckObject, Clock}
import graft.selector.Selector
import graft.state.StateStore

/** The reference's main loop (SURVEY.md §3.1 stages 5-13;
  * ref IntegrityChecks_VLDB.sql:505-744), re-expressed with an injectable
  * clock so priority/admission behavior is deterministic under test.
  * Every scheduling decision is [[Policy]]'s, which lists the policy.
  *
  * CHECKALLOC and CHECKCATALOG run no Spark job (driver-side listings and
  * footers); each CHECKTABLE is one Spark action, and the cluster is the
  * parallelism inside it (the reference's MAXDOP analog, SURVEY §3.1). The
  * driver loop only schedules — it never iterates over data rows.
  */
final case class SchedulerReport(
    executedCommands: Seq[String],
    skipped: Seq[(String, String)], // (object, reason)
    state: Seq[CheckObject],
    violations: Long,
    errors: Long = 0L) // commands that threw (could not be checked at all)

final class Scheduler(
    spark: SparkSession,
    inventory: Inventory,
    stateStore: StateStore,
    log: CommandLog,
    config: CheckConfig,
    clock: Clock) {

  def run(): SchedulerReport = {
    config.validate().left.foreach(e => throw new IllegalArgumentException(e))
    val jobStart = clock.now() // captured ONCE (ref IC:71)
    val deadline = config.timeLimitSeconds.map(jobStart.plusSeconds)
    val halfway = Policy.halfway(jobStart, config.timeLimitSeconds)

    val executor = new CommandExecutor(log, clock, config.execute)
    val executed = mutable.ArrayBuffer.empty[String]
    val skipped = mutable.ArrayBuffer.empty[(String, String)]
    var violations = 0L
    // violations=-1 marks "the check itself threw" (ref CE:204-222 error
    // capture): counted apart from data violations so a table that cannot
    // be read is never mistaken for a clean one.
    var errors = 0L
    def tally(v: Long): Unit = if (v < 0L) errors += 1 else violations += v

    // Stage 5-7: resolve the database selection DSL against the catalog.
    val catalog = inventory.databases().map(n => Selector.DbInfo(n))
    val selectedDbs = Selector.selectedNames(catalog, config.databases)

    // Stage 8: full inventory scan per database — state tracks EVERY object
    // (ref IC:429-447); the objects DSL narrows only the scheduled work.
    val scan: Seq[InventoryRow] = selectedDbs.flatMap(inventory.objects)
    val workKeys: Set[(String, String, String)] = config.objects match {
      case None => scan.map(o =>
        (o.database_name, o.schema_name, o.object_name)).toSet
      case Some(dsl) =>
        val refs = scan.map(o =>
          Selector.ObjectRef(o.database_name, o.schema_name, o.object_name))
        Selector.resolveObjects(refs, dsl)
          .fold(e => throw new IllegalArgumentException(e), identity)
          .map(r => (r.db, r.schema, r.name)).toSet
    }

    // Pin the per-run FILE MANIFEST for every inventoried object (ref
    // IC:519-571 — the reference's snapshot device; SURVEY §4): one
    // listing per table per run, taken HERE at inventory time. Every
    // check below — phase 1's CHECKALLOC/CHECKCATALOG and phase 2's
    // CHECKTABLE — reads via its pinned file set, so on a live lake a
    // concurrent writer landing files mid-run cannot make the two phases
    // disagree about the same table within one run.
    // Capture runs on a bounded pool, not a serial driver loop: each
    // manifest is one listStatus metadata RPC, and at the 100k-table
    // states this scheduler targets a serial prologue is minutes of
    // driver dead time on an object store before any check runs (the
    // reference snapshots per DATABASE for the same reason, IC:519-571).
    // Determinism is untouched — capture reads no clock and the result
    // is a keyed map, so completion order cannot reach the goldens.
    val manifests: Map[(String, String, String),
        graft.catalog.TableManifest] = {
      val capPool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(32, scan.size)))
      try {
        val futures = scan.map { r =>
          capPool.submit(new java.util.concurrent.Callable[
              ((String, String, String), graft.catalog.TableManifest)] {
            def call() = (r.database_name, r.schema_name, r.object_name) ->
              inventory.manifest(spark, r)
          })
        }
        futures.map(_.get()).toMap
      } finally capPool.shutdown()
    }

    // Stage 9: reconcile into persistent state (3-clause MERGE).
    var state = StateStore.reconcile(stateStore.load(), scan)

    def pastDeadline(): Boolean =
      deadline.exists(d => Policy.reached(clock.now(), d))

    val dbOrder =
      Policy.databaseOrder(config.databaseOrder, selectedDbs, state)

    // Bounded pool for the reference's parallel mode (SURVEY §2.11):
    // created once, shared by phase 1's independent per-db pair and
    // phase 2's per-table checks. None ⇒ the sequential reference loop.
    val pool =
      if (config.concurrency > 1)
        Some(java.util.concurrent.Executors.newFixedThreadPool(
          config.concurrency))
      else None
    val inflight = new java.util.concurrent.Semaphore(config.concurrency)
    val pending =
      mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    val foldLock = new Object
    def submit(work: () => Unit): Unit = pool match {
      case Some(p) =>
        inflight.acquire()
        pending += p.submit(new Runnable {
          def run(): Unit = try work() finally inflight.release()
        })
      case None => work()
    }

    // Stage 10 — Phase 1: coarse per-database checks, deadline-gated,
    // in configured database order (the ordering strategy governs the
    // whole per-database loop, ref DIC:1193, not just CHECKTABLE).
    // CHECKALLOC and CHECKCATALOG are independent reads of the same
    // inventory, so the parallel mode overlaps them; `executed` keeps
    // submission order (alloc before catalog, per db) either way.
    val scanByDb = scan.groupBy(_.database_name)
    dbOrder.foreach { db =>
      if (!pastDeadline()) {
        val tables = scanByDb.getOrElse(db, Seq.empty)
        val (allocCmd, allocAction) =
          LakeChecks.checkAlloc(spark, db, tables, config.maxDop, manifests)
        executed += allocCmd
        submit { () =>
          val r1 = executor.run(db, "", "", "DB", allocCmd,
            "DBCC_CHECKALLOC")(allocAction())
          foldLock.synchronized(tally(r1.violations))
        }
        val (catCmd, catAction) =
          LakeChecks.checkCatalog(spark, db, tables, manifests)
        executed += catCmd
        submit { () =>
          val r2 = executor.run(db, "", "", "DB", catCmd,
            "DBCC_CHECKCATALOG")(catAction())
          foldLock.synchronized(tally(r2.violations))
        }
      } else skipped += ((db, "time limit reached before phase 1"))
    }

    // Stage 11 — Phase 2 work queues, one per database, each sorted once
    // (Policy.sortQueue: O(n log n), not an argmin scan per pick).
    val stateByKey = mutable.Map.empty[(String, String, String), CheckObject]
    state.foreach(o =>
      stateByKey((o.database_name, o.schema_name, o.object_name)) = o)
    // Key index per db, built ONCE (keys are stable for the whole run —
    // recordRun replaces values in place). The due SET for a database is
    // computed when that database's phase-2 loop starts, under foldLock,
    // from the LIVE stateByKey: phase-2 pool threads of an earlier
    // database may still be folding results when the driver moves on, and
    // an unsynchronized read of a mutating mutable.HashMap is undefined
    // behavior. Per-db cost is O(tables-in-db) via the key index, not
    // O(state); semantics are unchanged (a completed check only mutates
    // its OWN table's row, which lives in an already-processed database).
    val keysByDb: Map[String, Seq[(String, String, String)]] =
      stateByKey.keys.toSeq.groupBy(_._1)
    def dueQueue(db: String): Seq[CheckObject] = foldLock.synchronized {
      keysByDb.getOrElse(db, Seq.empty).flatMap(stateByKey.get)
        .filter(o => o.active &&
          workKeys((o.database_name, o.schema_name, o.object_name)) &&
          Policy.isDue(o, jobStart))
    }
    val firstRunMode = Policy.firstRunMode(state)

    // Stage 12 — Phase 2 nested loop. The inventory row lookup is a map
    // hit, not a per-pick linear scan of the db's table list.
    val scanByKey: Map[(String, String, String), InventoryRow] =
      scan.map(t => (t.database_name, t.schema_name, t.object_name) -> t)
        .toMap
    // CONCURRENT phase 2 (config.concurrency > 1): the Spark-native form
    // of the reference's parallel queue sessions (SURVEY §2.11 — n
    // sessions each popping the queue). The DRIVER loop stays sequential
    // — pick order, the one-way flip, admission and the TOCTOU probe all
    // run in submission order, and `executed` records SUBMISSION order
    // (the golden command sequence is by submission, not completion) —
    // only the Spark ACTION runs on a pool thread. The semaphore bounds
    // in-flight checks AND enforces budget-check-before-submit: a permit
    // is taken BEFORE the admission clock read, so admission sees the
    // clock at the moment a slot is actually free, exactly like a queue
    // session that only takes work when idle. Results fold back under a
    // lock; a check that threw leaves state untouched (same as
    // sequential). Spark schedules the concurrent actions' tasks on the
    // shared executor pool — the reference's MAXDOP analog now covers
    // n concurrent commands, as its parallel mode did. (Pool, semaphore
    // and fold lock are shared with phase 1 above; phase 2 acquires the
    // permit EXPLICITLY so the clock read happens after the wait.)
    dbOrder.foreach { db =>
      var smallestFirst =
        Policy.smallestFirst(firstRunMode, halfway, clock.now())
      var queue = Policy.sortQueue(dueQueue(db), smallestFirst)
      while (queue.nonEmpty && !pastDeadline()) {
        // budget-check-before-submit: take the slot FIRST so the clock
        // reads below describe the moment this check could actually start
        if (pool.isDefined) inflight.acquire()
        var submitted = false
        try {
          val now = clock.now()
          val flipNow = Policy.smallestFirst(firstRunMode, halfway, now)
          if (flipNow != smallestFirst) { // the flip is one-way: re-sort once
            smallestFirst = flipNow
            queue = Policy.sortQueue(queue, smallestFirst)
          }
          val pick = queue.head // the argmin (ref IC:651-668)
          queue = queue.tail
          val admit = deadline.forall(d => Policy.admits(now,
            pick.avg_run_duration_ms, d, Policy.SchedulerGraceMs))
          val key = (pick.database_name, pick.schema_name, pick.object_name)
          if (!admit) {
            skipped += ((s"${pick.database_name}.${pick.schema_name}." +
              pick.object_name, "predicted duration exceeds time limit"))
          } else {
            val t = scanByKey(key)
            // TOCTOU re-probe (ref DIC:1615-1635): the object can be
            // dropped between inventory and check — re-verify MANIFEST
            // MEMBERSHIP immediately before running: the pick must still
            // be in this run's pinned universe (a table inventoried with
            // zero files was already gone at pin time) and its first
            // pinned file must still exist — one metadata RPC against
            // the snapshot, not a re-list of the live directory. Skip,
            // don't fail, if gone. (Deliberately conservative: a
            // compactor that rewrote THIS run's pinned files mid-run
            // reads as "gone" and the table simply stays due for the
            // next pass — the reference skips a dropped snapshot member
            // the same way.)
            val pinned = manifests.get(key)
            val stillExists = try {
              pinned.fold(Option(t.path))(_.files.headOption.map(_.path))
                .exists { f =>
                  val p = new org.apache.hadoop.fs.Path(f)
                  p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                    .exists(p)
                }
            } catch { case _: Throwable => false }
            if (!stillExists) {
              skipped += ((s"${t.database_name}.${t.schema_name}." +
                t.object_name, "object no longer exists (ref DIC:1615)"))
            } else {
              val (cmd, action) = LakeChecks.checkTable(spark, t,
                config.physicalOnly, config.dataPurity, config.maxDop,
                pinned)
              executed += cmd // submission order — the golden sequence
              val start = clock.now() // driver tick: deterministic instant
              def runOne(): Unit = {
                // No clock.now() past this point — runOne executes on a
                // POOL thread in concurrent mode, and a ticking read there
                // would perturb the driver's deterministic tick stream
                // (Clock's determinism contract). Duration is a monotonic
                // nanoTime delta (real wall time under SystemClock, the
                // fixed tick under ManualClock), so recorded state is
                // byte-identical run-to-run at any concurrency.
                // KNOWN SKEW, by design: `start` is the driver-side
                // SUBMISSION tick and the nanoTime delta starts when the
                // pool thread begins, so start+elapsed excludes pool-queue
                // wait — in concurrent mode these state timestamps are a
                // deterministic DURATION record, not wall-clock completion
                // stamps. Consumers needing wall-accurate audit times read
                // the command log, whose entries CommandExecutor stamps
                // with its own observe()-based start/end at execution.
                val t0n = System.nanoTime()
                val r = executor.run(t.database_name, t.schema_name,
                  t.object_name, "U", cmd, "DBCC_CHECKTABLE")(action())
                val end = start.plusMillis(clock.elapsedMs(t0n))
                foldLock.synchronized {
                  tally(r.violations)
                  // A check that THREW (violations<0) is not a completed
                  // check: recording it would mark the table checked-today
                  // (skipped on re-run via IC:664-665 idempotence) and fold
                  // the failed attempt into the duration average. Leave
                  // state untouched so the table stays due — the error is
                  // surfaced via SchedulerReport.errors and the command log.
                  if (r.violations >= 0L)
                    stateByKey(key) = StateStore.recordRun(
                      pick, cmd, start, end)
                }
              }
              pool match {
                case Some(p) =>
                  submitted = true
                  pending += p.submit(new Runnable {
                    def run(): Unit =
                      try runOne() finally inflight.release()
                  })
                case None => runOne()
              }
            }
          }
        } finally {
          if (pool.isDefined && !submitted) inflight.release()
        }
      }
      if (pastDeadline() && queue.nonEmpty)
        skipped += ((db, "time limit reached"))
    }
    // barrier: every in-flight check completes (and folds its result)
    // before state persists — stage 13 must see a full run, and a pool
    // thread must never outlive the scheduler pass
    pending.foreach(_.get())
    pool.foreach(_.shutdown())

    // Stage 13: persist state + flush the audit log. (Future.get gives
    // happens-before with each task's folds; the lock makes the final
    // read's safety independent of that subtlety.)
    state = foldLock.synchronized(stateByKey.values.toSeq).sortBy(_.id)
    if (config.logToTable) { stateStore.save(state); log.flush() }
    SchedulerReport(executed.toSeq, skipped.toSeq, state, violations, errors)
  }
}
