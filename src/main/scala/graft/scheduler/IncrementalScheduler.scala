package graft.scheduler

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Inventory
import graft.executor.{CommandExecutor, CommandLog}
import graft.model.Clock
import graft.streaming.Streams

/** Result of one incremental pass. `skipped` lists (object, reason)
  * for tables the deadline admission control declined — skipped work
  * is always VISIBLE work (ref IC:592's budget check before each
  * database, surfaced the same way the batch Scheduler reports its
  * admission skips). */
final case class IncrementalReport(
    executedCommands: Seq[String],
    violations: Long,
    errors: Long,
    skipped: Seq[(String, String)] = Nil,
    // tables whose checkpoint already covers every landed file — the
    // stream spin-up was skipped entirely (no work existed, unlike
    // `skipped` where work was declined for budget)
    quiet: Seq[String] = Nil,
    // the `skipped` split by WHICH admission gate refused (round-14
    // verdict #7): time = IC:592 (budget exhausted before the table),
    // cost = IC:677 (predicted duration overruns the remainder). An
    // operator sizing the budget needs to see which gate binds —
    // time-bound means the budget is simply too small, cost-bound
    // means a few big tables need their own window.
    skippedTime: Long = 0L,
    skippedCost: Long = 0L)

/** Arrived-data CHECKTABLE tier — the reference's nightly loop
  * (IntegrityChecks_VLDB.sql:505-744) evolved for a lake where data lands
  * continuously: instead of re-scanning every table on a schedule, each
  * table is checked through [[Streams.incrementalCheck]], whose file-source
  * checkpoint remembers what was already validated. A second run therefore
  * touches only files that arrived since the first — O(new files), never
  * O(lake) — which is the structural win that keeps a 100 TB lake checkable
  * between full nightly passes.
  *
  * Commands still flow through the ONE CommandExecutor choke point (timing,
  * retry, audit log, the violations<0 error path), so the audit log shows
  * `CHECKTABLE INCREMENTAL …` rows exactly like the batch tier's commands,
  * and per-batch validation summaries land under
  * `<checkpointRoot>/<db>/<table>/summaries/batch_id=<n>` (the streaming
  * CommandLog analog; idempotent under foreachBatch replay).
  *
  * The per-batch check is the table-agnostic purity floor: rows counted,
  * and a violation per ENTIRELY-NULL row (the corrupt-row analog a schema
  * cannot rule out; legit nullable columns never trip it). Schema-specific
  * checks plug in the same way any Check does — this tier's contract is
  * the arrived-files scoping, not the predicate menu. */
object IncrementalScheduler {

  /** One arrived-data pass. `deadline`: the reference's IC:592 budget
    * discipline INSIDE the pass — before each table's check the clock
    * is compared against it, and a table past the deadline is skipped
    * with an audit row (never killed mid-check) — plus the IC:677
    * refinement: a table whose persisted duration history predicts an
    * overrun of the remaining budget is admission-skipped too
    * (`<checkpointRoot>/table_stats.json`, the [[DurationStats]]
    * incremental mean — the lake twin of the batch scheduler's
    * state-row estimates). The composed ArrivalPass forwards its
    * pass-wide deadline here, so a landing zone with many tables
    * degrades a-table-at-a-time instead of all-or-nothing at the
    * stage boundary. A predicted-skipped table cannot refresh its own
    * estimate (it never runs) — the history self-corrects on the
    * first pass with budget to spare (or an unbudgeted run), exactly
    * the reference's property: IC:677 reads the state rows of past
    * RUNS, and the nightly full job is what refreshes them. */
  def run(spark: SparkSession, inventory: Inventory, checkpointRoot: String,
      log: CommandLog, clock: Clock,
      deadline: Option[java.time.Instant] = None,
      heartbeat: () => Unit = () => (),
      maxFilesPerBatch: Option[Int] = None): IncrementalReport = {
    val executor = new CommandExecutor(log, clock, execute = true)
    val executed = ArrayBuffer.empty[String]
    val skipped = ArrayBuffer.empty[(String, String)]
    var skippedTime = 0L
    var skippedCost = 0L
    var violations = 0L
    var errors = 0L
    val quiet = ArrayBuffer.empty[String]
    // per-TABLE duration history for IC:677 predicted-cost admission —
    // the same incremental-mean file the arrival pass keeps per stage
    // (DurationStats; the batch scheduler's analog is its state rows)
    val stats = new DurationStats(spark,
      s"$checkpointRoot/table_stats.json")
    // ONE history write per pass, flushed in the finally below
    try {
    inventory.databases().foreach { db =>
      inventory.objects(db).foreach { o =>
        val obj = s"$db.${o.schema_name}.${o.object_name}"
        val cmd = s"CHECKTABLE INCREMENTAL [$db].[${o.schema_name}]." +
          s"[${o.object_name}] WITH NO_INFOMSGS, DATA_PURITY"
        val ckpt = s"$checkpointRoot/$db/${o.object_name}/_checkpoint"
        // error_number/error_message stay PAIRED-on-failure-only (the
        // CommandExecutor invariant; Model.scala documents
        // error_number=None as running/dry-run) — a budget skip or a
        // vanish is not a failed check, so its reason rides
        // extended_info where a log consumer classifying by
        // `error_message IS NOT NULL` cannot miscount it (round-13
        // review)
        def auditRow(extendedInfo: String): Unit = {
          val ts = java.sql.Timestamp.from(clock.observe())
          log.append(graft.model.CommandLogEntry(
            id = java.util.UUID.randomUUID().toString,
            database_name = db, schema_name = o.schema_name,
            object_name = o.object_name, object_type = o.object_type,
            extended_info = extendedInfo,
            command = cmd, command_type = "DBCC_CHECKTABLE_INC",
            start_time = ts, end_time = Some(ts),
            error_number = None, error_message = None))
        }
        def skipRow(why: String): Unit = {
          skipped += (obj -> why)
          auditRow(s"""{"status":"admission_skipped","reason":"$why"}""")
        }
        // QUIET-TABLE fast path: when the table's checkpoint already
        // covers every landed file, the stream would plan and drain
        // nothing — skip the ~1-2 s spin-up entirely (a 20k-table
        // inventory pays that floor per table per pass otherwise).
        // Checked BEFORE the deadline gate, so idle tables never
        // produce admission-skip audit rows either: the reference only
        // logs skips for work it would have RUN, and under a
        // chronically tight budget the per-table skip rows for idle
        // tables flooded the command log (round-13 advice).
        // Vanished-file reconciliation BEFORE the quiet gate AND the
        // drain (round-14 advice): the stream tolerates missing
        // planned files (ignoreMissingFiles — a deadline-stopped
        // pass's replay must not wedge on legally-compacted members),
        // but a planned-but-uncommitted file that is gone WITHOUT a
        // compaction record explaining it is data that vanished before
        // validation — a VIOLATION, counted and logged, never just a
        // Spark log line. Committed files absent from disk stay legal
        // (validated, then archived/compacted). Runs before the quiet
        // probe because the vanish candidates are exactly files NOT on
        // disk: a table whose only pending work vanished would read
        // quiet and hide the loss. Cost on the quiet path: two driver
        // listStatus calls (no Spark job) — the probe's own order. The
        // mid-drain class is counted the same way, from the drain report.
        def reportVanished(vanished: Seq[String], reason: String): Unit =
          if (vanished.nonEmpty) {
            violations += vanished.size
            auditRow(s"""{"status":"vanished_files",""" +
              s""""count":${vanished.size},"examples":[""" +
              vanished.take(3).map(graft.maintenance.Compaction.jstr)
                .mkString(",") + s"""],"reason":"$reason"}""")
          }
        val vanished = graft.streaming.Streams.vanishedUnexplained(
          spark, o.path, ckpt)
        reportVanished(vanished, "planned-but-uncommitted files missing " +
          "from disk with no compaction record; data vanished before " +
          "validation")
        def runTable(): Unit = {
          val t0 = System.nanoTime()
          // The per-batch tally lives OUTSIDE the retried action and is
          // keyed by micro-batch id: a transient failure mid-stream
          // makes the executor re-run the action, but the stream's
          // checkpoint skips already-committed batches — an in-action
          // counter would silently lose their violations on the retry.
          // Keyed entries survive the retry (committed batches keep
          // their first-attempt counts) and an at-least-once
          // foreachBatch replay overwrites its own key instead of
          // double-counting.
          val perBatch =
            new java.util.concurrent.ConcurrentHashMap[Long, Long]()
          // set by the one attempt whose drain returns (a retry runs only
          // after the body threw)
          var vanishedMid = Seq.empty[String]
          val res = executor.run(db, o.schema_name, o.object_name,
            o.object_type, cmd, "DBCC_CHECKTABLE_INC") {
            val schema = spark.read.parquet(o.path).schema
            // heartbeat per table AND per micro-batch: a 20k-table
            // inventory (or one table with a deep backlog) must keep
            // renewing the composed pass's lease — the per-stage renew
            // alone lets it go TTL-stale inside a multi-hour stage
            heartbeat()
            // the pass deadline ALSO bounds this table's own drain
            // (IC:644): a table admitted with little budget left
            // checks what fits and its checkpoint resumes next pass
            vanishedMid = Streams.incrementalCheckById(spark, o.path,
              schema, (batch, id) => summarize(batch, id, perBatch),
              ckpt,
              s"$checkpointRoot/$db/${o.object_name}/summaries",
              deadline = deadline, clock = clock,
              maxFilesPerBatch = maxFilesPerBatch,
              heartbeat = heartbeat).vanishedMidDrain
            import scala.jdk.CollectionConverters._
            perBatch.values().asScala.foldLeft(0L)(_ + _)
          }
          executed += cmd
          if (res.violations < 0L) errors += 1
          else violations += res.violations
          reportVanished(vanishedMid, "planned files a batch committed " +
            "this drain, never observed on disk, with no compaction " +
            "record; data vanished before validation")
          // fold the run into the per-table history (IC:706 recurrence)
          // so the NEXT pass's IC:677 gate has an estimate for this
          // table
          stats.record(obj, clock.elapsedMs(t0))
        }

        // a vanish-flagged table bypasses the quiet gate: the stream
        // must replay (and COMMIT) the planned batch so the vanish is
        // reported exactly once per LOSS — left quiet, the uncommitted
        // batch would re-flag it every pass forever. Under a
        // chronically exhausted budget the admission gates below can
        // still refuse the table, in which case the same loss
        // re-reports each pass until a pass has budget — intentional:
        // the data is still lost AND still unvalidated, and a loud
        // re-alert beats a one-shot flag that scrolls away before
        // anyone ran with budget.
        if (vanished.isEmpty &&
            graft.streaming.Streams.nothingNewLanded(spark, o.path,
            ckpt)) {
          quiet += obj
        } else {
          // ONE clock read (only when a deadline exists — an unbudgeted
          // pass must not perturb a deterministic clock's tick
          // sequence) gates both admission tests: IC:592 "is there time
          // left" and IC:677 "will THIS table finish in it" from the
          // persisted per-table mean; a table refused by either is a
          // loud skip, never a mid-check kill
          val predicted = stats.predictMs(obj)
          deadline.map(d => (d, clock.now())) match {
            case Some((d, now)) if Policy.reached(now, d) =>
              skippedTime += 1
              skipRow("time budget exhausted before this table (IC:592)")
            case Some((d, now)) if predicted.exists(p =>
                !Policy.admits(now, p, d, Policy.arrivalGraceMs(p))) =>
              skippedCost += 1
              val remainingMs = d.toEpochMilli - now.toEpochMilli
              skipRow(f"predicted ${predicted.get / 1000.0}%.1f s > " +
                f"remaining ${remainingMs / 1000.0}%.1f s from the " +
                "persisted table duration history (IC:677)")
            case _ => runTable()
          }
        }
      }
    }
    } finally stats.flush()
    // quiet tables stay visible as ONE aggregated audit row per pass
    // (not one per table — the round-13 advice's flood concern), so the
    // log still shows the pass saw them and chose not to spin streams
    if (quiet.nonEmpty) {
      val ts = java.sql.Timestamp.from(clock.observe())
      log.append(graft.model.CommandLogEntry(
        id = java.util.UUID.randomUUID().toString,
        database_name = "(all)", schema_name = "(all)",
        object_name = "(quiet-tables)", object_type = "U",
        extended_info = s"""{"status":"quiet","tables":${quiet.size},""" +
          """"reason":"checkpoint covers every landed file; stream """ +
          """spin-up skipped"}""",
        command = s"CHECKTABLE INCREMENTAL (quiet: ${quiet.size} " +
          "table(s), no new files)",
        command_type = "DBCC_CHECKTABLE_INC",
        start_time = ts, end_time = Some(ts),
        error_number = None, error_message = None))
    }
    IncrementalReport(executed.toSeq, violations, errors, skipped.toSeq,
      quiet.toSeq, skippedTime, skippedCost)
  }

  /** One summary row per micro-batch: rows validated + entirely-null rows
    * (the violations). Collected once so the violation tally and the
    * written summary come from the same pass over the batch; the tally is
    * recorded under the batch id (replay-idempotent, retry-durable — see
    * the caller). */
  private def summarize(batch: DataFrame, batchId: Long,
      perBatch: java.util.concurrent.ConcurrentHashMap[Long, Long])
      : DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val allNull = batch.schema.fieldNames
      .map(f => col(s"`$f`").isNull)
      .reduceOption(_ && _).getOrElse(lit(false))
    val r = batch.agg(count(lit(1)).as("rows_checked"),
      sum(when(allNull, 1L).otherwise(0L)).as("null_rows")).first()
    val nullRows = if (r.isNullAt(1)) 0L else r.getLong(1)
    perBatch.put(batchId, nullRows)
    Seq((r.getLong(0), nullRows)).toDF("rows_checked", "null_rows")
  }
}
