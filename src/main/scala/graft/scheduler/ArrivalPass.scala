package graft.scheduler

import java.sql.Timestamp
import java.time.Instant
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{Clock, CommandLogEntry}

/** Result of one stage of the composed arrival pass. `status`:
  * `ran` | `failed` | `admission_skipped` (time budget exhausted
  * before the stage) | `skipped_empty` (nothing landed for this
  * stage) | `skipped_no_db` / `skipped_no_resident` (stage inputs not
  * configured). */
final case class StageResult(stage: String, status: String,
    seconds: Double, detail: String)

/** Everything one nightly arrival pass needs. `landing` is the landing
  * zone root: arriving documents under `<landing>/documents`, arriving
  * vectors under `<landing>/embeddings`, queued takedown requests
  * (id-parquet files with a doc_id and/or vec_id column; an optional
  * boolean `hard` column requests the forced-retrain erasure tier)
  * under `<landing>/forget` (any may be absent — the
  * stage skips with an audit row). `dbs` are the resident databases the
  * integrity tier checks (and, when one holds a `documents.parquet`
  * table, the resident corpus the OOV QC compares against). */
final case class ArrivalConfig(
    landing: String,
    dbs: Map[String, String],
    timeLimitSeconds: Option[Long] = None,
    checkpointRoot: String = "/tmp/graft-arrival",
    sigStorePath: String = "/tmp/graft-sigstore/sigs",
    dedupOut: String = "/tmp/graft-dedup-pairs",
    annStorePath: String = "/tmp/graft-annstore/ann",
    // micro-batch size bound for the ingest streams — the deadline's
    // granularity: the per-batch budget check (IC:644) can only stop
    // at batch boundaries, so one unbounded batch has no check points
    maxFilesPerBatch: Int = 1000,
    // when set, the pass ends with a `table_compact` stage: small-file
    // compaction of every resident DIRECTORY table at this target size
    // (the IndexOptimize-job half of the reference's maintenance
    // surface, run INSIDE the one nightly job; None = not requested)
    compactTargetBytes: Option[Long] = None)

/** What the pass did: the per-stage results plus the integrity tier's
  * violation/error tallies (they drive the CLI exit code exactly like
  * the standalone `--incremental` mode). */
final case class ArrivalReport(stages: Seq[StageResult],
    violations: Long, errors: Long)

/** ONE composed nightly pass over a landing zone — the reference's
  * operating model is a SINGLE scheduled entry point that runs the
  * whole maintenance surface under one time budget
  * (IntegrityChecks_VLDB.sql:7-14; the SQL Agent job creation at
  * ola/MaintenanceSolution.sql:7821 ff.), not four CLIs an operator
  * stitches together by hand. This pass runs, in order:
  *
  *   1. `integrity_incremental` — arrived-file integrity checks over
  *      the resident databases ([[IncrementalScheduler]]; O(new files));
  *   2. `dedup_ingest`          — arriving documents through the
  *      persisted signature store (Streams.incrementalDedupStream);
  *   3. `ann_ingest`            — arriving vectors into the persisted
  *      IVF index (Streams.incrementalAnnStream);
  *   4. `forget_queue`          — the takedown queue (round-16
  *      verdict #1): id-parquet files under `<landing>/forget`, one
  *      [[graft.pipeline.Forget.run]] per file (checkpointed,
  *      idempotent replay, quiet path zero jobs), so a takedown filed
  *      during the day propagates tonight with no human in the loop;
  *   5. `ann_maintain`          — the index maintenance loop
  *      ([[graft.pipeline.IncrementalAnn]]'s `maintain()`: drift →
  *      retrain, accretion → compact, healthy → no-op), exactly where
  *      the reference's nightly job runs IndexOptimize — AFTER the
  *      forget queue, so its measurements see the post-takedown store;
  *   6. `oov_qc`                — the arriving documents' vocabulary
  *      drift against the resident corpus (TextAnalysis.oovReport's two
  *      halves — tx23's code path), checkpointed like the ingest stages
  *      (only files arrived since the last pass are QC'd; per-batch
  *      reports under `<checkpointRoot>/oov/batch_id=<n>`). The
  *      vocabulary is kept under `<checkpointRoot>/oov_vocab` and
  *      rebuilt only when the resident corpus's files change
  *      ([[graft.pipeline.OovQc.VocabStore]]); a small batch is reported
  *      on the driver, a large one through Spark
  *      ([[graft.pipeline.OovQc.writeReport]]), and the detail names the
  *      route and whether the vocabulary was kept or rebuilt;
  *   7. `table_compact`         — opt-in (`compactTargetBytes`):
  *      small-file compaction of every resident directory table, the
  *      IndexOptimize-job half of the reference's maintenance surface
  *      run inside the same nightly budget (skipped_empty when not
  *      requested).
  *
  * Budget discipline is the reference's admission control
  * (IC:505/592/677: compute the stop time once, and before each unit
  * of work ask "is there time left?" — work is SKIPPED, never killed
  * mid-flight): the deadline is fixed at entry from
  * `timeLimitSeconds`, each stage is admitted only while the clock is
  * inside it, and a skipped stage writes an `ARRIVAL_STAGE` audit row
  * saying so — the operator sees "ann_ingest: admission_skipped", not
  * silence. The deadline also flows INTO the admitted work at every
  * inner-loop head the engine owns (the reference checks the clock
  * before each inner unit, IC:644, not only between phases): the
  * integrity stage checks per table, and the ingest streams check per
  * MICRO-BATCH — at the deadline a drain stops gracefully after the
  * current batch commits, the checkpoint holds the remainder for the
  * next pass, and the stage detail reports `drained=N remaining≈M`.
  * Work is never killed MID-batch (a mid-commit kill would be worse
  * than a slightly late finish); the batch-size bound
  * (`maxFilesPerBatch`) keeps that tail short.
  *
  * Stage isolation: a FAILED stage is logged (status `failed`, error
  * in the audit row) and the pass continues — a broken vector feed
  * must not block document integrity, exactly as one corrupt database
  * does not abort the reference's nightly loop (CommandExecute's
  * error-capture contract, CE:204-222). The persisted stores' writer
  * leases are taken by the stage streams themselves
  * (store.withLease inside each stream), so the pass holds each
  * store's lease exactly while writing it. */
object ArrivalPass {

  /** Thrown inside a forget-queue micro-batch whose ids target a store
    * root that does not exist — before the batch commits, so the stage
    * fails and the request drains on a later pass. */
  private final class AbsentStoreRoot(msg: String)
      extends RuntimeException(msg)

  def run(spark: SparkSession, cfg: ArrivalConfig, log: CommandLog,
      clock: Clock): ArrivalReport = {
    // PASS-LEVEL lease on the checkpoint root: the reference's
    // scheduler never overlaps a nightly job with itself (SQL Agent
    // skips a run whose predecessor still holds the job), and two
    // concurrent arrival passes sharing the per-table integrity
    // checkpoints would race their file-source offset logs — no
    // cross-process guard exists below this one. A second pass fails
    // LOUDLY at entry instead. TTL 2 h, renewed per stage AND per
    // ingest micro-batch (the streams' heartbeat hook), so even an
    // unbudgeted multi-hour drain keeps its claim while a CRASHED
    // pass frees the next night automatically.
    val passLease = new graft.tables.StoreLease(spark,
      cfg.checkpointRoot, "ArrivalPass")
    try passLease.acquire(ttlMs = 2L * 60 * 60 * 1000)
    catch { case e: IllegalStateException =>
      throw new IllegalStateException(
        s"another arrival pass appears to be RUNNING against " +
          s"${cfg.checkpointRoot} (${e.getMessage}). Overlapping " +
          "passes would race the shared integrity checkpoints; wait " +
          "for the running pass, or remove the stale lock if its " +
          "holder is dead.")
    }
    try runLeased(spark, cfg, log, clock, passLease)
    finally passLease.release()
  }

  private def runLeased(spark: SparkSession, cfg: ArrivalConfig,
      log: CommandLog, clock: Clock,
      passLease: graft.tables.StoreLease): ArrivalReport = {
    val deadline: Option[Instant] =
      cfg.timeLimitSeconds.map(s => clock.now().plusSeconds(s))
    // per-STAGE duration history (ref IC:677; shared [[DurationStats]]
    // — the incremental tier keeps the per-TABLE twin). record() is
    // in-memory; ONE flush per pass at the bottom (round-14 verdict #2)
    val stats = new DurationStats(spark,
      s"${cfg.checkpointRoot}/stage_stats.json")

    val results = ArrayBuffer.empty[StageResult]
    var violations = 0L
    var errors = 0L

    def audit(stage: String, status: String, sec: Double,
        detail: String): Unit = {
      val ts = Timestamp.from(clock.observe())
      log.append(CommandLogEntry(
        id = UUID.randomUUID().toString,
        database_name = "arrival",
        schema_name = "pass",
        object_name = stage,
        object_type = "STAGE",
        extended_info =
          s"""{"status":"$status","seconds":$sec}""",
        command = s"ARRIVAL $stage ($detail)",
        command_type = "ARRIVAL_STAGE",
        start_time = ts,
        end_time = Some(ts),
        error_number = if (status == "failed") Some(50000) else None,
        error_message = if (status == "failed") Some(detail) else None))
    }

    /** Admission-gate + run + audit one stage. Two gates, both the
      * reference's (work is SKIPPED with an audit row, never killed):
      * is there time left (IC:592), and — when the stage HAS work and
      * a duration history — will it FINISH in the time left (IC:677,
      * predicted from the persisted incremental mean, with
      * [[Policy.arrivalGraceMs]])? `hasWork` = false (an input probe
      * already knows the stage will input-skip) bypasses the cost gate
      * so a cheap skip is never refused on the cost of the work it
      * won't do. `body` returns either a (status, detail) it decided
      * itself (input-skips) or throws. Only `ran` stages feed the
      * duration history — a skip's near-zero duration would drag the
      * mean under the real cost and re-admit overrunners.
      *
      * `resumable` = the stage drains a CHECKPOINTED stream that stops
      * at the deadline per micro-batch and resumes next pass. Such a
      * stage is exempt from the IC:677 cost refusal: refusing it on a
      * predicted overrun would starve it FOREVER under a chronically
      * tight budget (its mean exceeds every night's remainder, the
      * backlog grows, the mean never updates), when admitting it
      * safely drains exactly what fits and checkpoints the rest —
      * the per-batch deadline IS its admission control. The atomic
      * stages (ann_maintain's rebuild, a compaction merge group) keep
      * the cost gate: they are the ones that cannot stop midway. */
    /** `statsExempt`: evaluated AFTER the body — true means this run's
      * duration must NOT feed the stage history even though it "ran"
      * (the quiet-night fast paths: a near-zero watermark-skip sample
      * would drag the IC:706 mean under the real cost and the IC:677
      * gate would then admit an atomic rebuild it should refuse — the
      * same reasoning that already excludes skip statuses). */
    def stage(name: String, hasWork: => Boolean = true,
        resumable: Boolean = false,
        statsExempt: () => Boolean = () => false)(
        body: => (String, String)): Unit = {
      // heartbeat the pass lease once per stage (a usurped lease —
      // someone broke it as stale mid-run — aborts the pass loudly
      // here rather than interleave with the usurper's streams)
      passLease.renew()
      val nowT = clock.now()
      if (deadline.exists(d => Policy.reached(nowT, d))) {
        val d = "time budget exhausted before this stage " +
          s"(limit ${cfg.timeLimitSeconds.getOrElse(-1L)} s)"
        results += StageResult(name, "admission_skipped", 0.0, d)
        audit(name, "admission_skipped", 0.0, d)
        return
      }
      val predicted = stats.predictMs(name)
      deadline match {
        case Some(dl) if hasWork && !resumable && predicted.exists(p =>
            !Policy.admits(nowT, p, dl, Policy.arrivalGraceMs(p))) =>
          val rem = dl.toEpochMilli - nowT.toEpochMilli
          val d = f"predicted ${predicted.get / 1000.0}%.1f s > remaining " +
            f"${rem / 1000.0}%.1f s (+25%% grace) from the persisted " +
            "stage duration history — admission refused (IC:677)"
          results += StageResult(name, "admission_skipped", 0.0, d)
          audit(name, "admission_skipped", 0.0, d)
        case _ =>
          val t0 = System.nanoTime()
          val (status, detail) =
            try body
            catch { case NonFatal(e) =>
              ("failed", s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          val durMs = clock.elapsedMs(t0)
          val sec = math.round(durMs / 10.0) / 100.0
          results += StageResult(name, status, sec, detail)
          audit(name, status, sec, detail)
          if (status == "ran" && !statsExempt()) stats.record(name, durMs)
      }
    }

    // cheap input probes, computed once per pass: they feed the
    // stages' input-skip arms AND tell the cost gate which stages
    // have real work tonight (a stage that will input-skip must not
    // be admission-refused on the predicted cost of work it won't do).
    // Two levels per ingest stage: has anything EVER landed (first-run
    // schema inference needs a file), and has anything NEW landed
    // since the stage's checkpoint (the quiet fast path — an
    // accumulated landing zone must not pay three stream spin-ups per
    // quiet night; same probe the integrity tier runs per table). The
    // listing also names the file a landing's schema is read from.
    val docsDir = s"${cfg.landing}/documents"
    val docsFiles = graft.streaming.Streams.listDataStatuses(spark, docsDir)
    val docsLanded = docsFiles.nonEmpty
    val vecsDir = s"${cfg.landing}/embeddings"
    val vecsFiles = graft.streaming.Streams.listDataStatuses(spark, vecsDir)
    val vecsLanded = vecsFiles.nonEmpty
    // a pending UNEXPLAINED VANISH counts as work (the integrity
    // tier's quiet-gate bypass, mirrored — round-15 review): the
    // vanish candidates are by definition files NOT on disk, so a
    // landing whose only pending work vanished reads "nothing new"
    // and would stay quiet forever, hiding the loss. Running the
    // stream commits the planned batch (the replay skips the missing
    // file), surfaces vanished_unexplained in the drain detail once,
    // and the next pass is genuinely quiet.
    def pendingWork(src: String, ckpt: String): Boolean =
      !graft.streaming.Streams.nothingNewLanded(spark, src, ckpt) ||
        graft.streaming.Streams.vanishedUnexplained(spark, src, ckpt)
          .nonEmpty
    val docsNew = docsLanded &&
      pendingWork(docsDir, s"${cfg.checkpointRoot}/dedup")
    val vecsNew = vecsLanded &&
      pendingWork(vecsDir, s"${cfg.checkpointRoot}/ann")
    val oovNew = docsLanded &&
      pendingWork(docsDir, s"${cfg.checkpointRoot}/oov_ckpt")
    // the takedown QUEUE (round-16 verdict #1): id-parquet files under
    // <landing>/forget, drained by this pass like every ingest stage —
    // same probes, so a quiet queue costs a driver listing, zero jobs
    val forgetDir = s"${cfg.landing}/forget"
    val forgetLanded =
      graft.streaming.Streams.listDataFiles(spark, forgetDir).nonEmpty
    val forgetNew = forgetLanded &&
      pendingWork(forgetDir, s"${cfg.checkpointRoot}/forget_ckpt")
    def rootExists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(hp)
    }
    def annStoreExists: Boolean = rootExists(cfg.annStorePath)
    // hard-retrain marker (round-17 verdict #1): a hard takedown file
    // sets this INSIDE its micro-batch (before the batch's checkpoint
    // commit), and the ONE forced retrain at drain tail clears it — so
    // a crash between the last checkpoint commit and the deferred
    // retrain is recovered by the marker arm on the next pass, never
    // silently lost. Driver-side existence probe, zero jobs.
    val forgetHardMarker = new org.apache.hadoop.fs.Path(
      s"${cfg.checkpointRoot}/forget_hard_pending")
    def forgetHardFs = forgetHardMarker
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def forgetHardPending: Boolean = forgetHardFs.exists(forgetHardMarker)

    // resumable: per-table checkpoints + the per-table IC:592/677
    // gates INSIDE the stage are its admission control — a stage-level
    // cost refusal would starve a big inventory forever under a
    // chronically tight budget (and its mean is diluted by quiet
    // nights anyway)
    stage("integrity_incremental", hasWork = cfg.dbs.nonEmpty,
        resumable = true) {
      if (cfg.dbs.isEmpty)
        ("skipped_no_db", "no --db given; nothing to check")
      else {
        // the pass deadline flows INTO the stage: IC:592's per-table
        // budget check, so a many-table landing degrades
        // table-at-a-time instead of all-or-nothing at this boundary;
        // the heartbeat flows in too (per table AND per micro-batch),
        // so a multi-hour inventory sweep keeps the pass lease live
        val r = IncrementalScheduler.run(spark,
          new DirInventory(spark, cfg.dbs),
          s"${cfg.checkpointRoot}/integrity", log, clock, deadline,
          heartbeat = () => passLease.renew(),
          maxFilesPerBatch = Some(cfg.maxFilesPerBatch))
        violations += r.violations
        errors += r.errors
        // the split says WHICH admission gate bound tonight: IC:592
        // time-exhausted vs IC:677 predicted-cost (round-14 verdict
        // #7 — an operator sizing the budget reads these differently)
        val sk = if (r.skipped.isEmpty) ""
          else s" skipped=${r.skipped.size} (budget: " +
            s"skipped_time=${r.skippedTime} " +
            s"skipped_cost=${r.skippedCost})"
        val qt = if (r.quiet.isEmpty) ""
          else s" quiet=${r.quiet.size} (no new files)"
        ("ran", s"executed=${r.executedCommands.size} " +
          s"violations=${r.violations} errors=${r.errors}$sk$qt")
      }
    }

    // an EMPTIED landing whose only pending data vanished (round-15
    // second review): no data file is landed, so the stream cannot run
    // (schema inference needs a file) and its planned batch can never
    // commit — surface the loss LOUDLY in the skip detail on every
    // pass until either new data lands (the stream then commits the
    // tombstone batch and the alert clears) or an operator remediates.
    // Re-alerting is intentional: the data is still gone.
    def emptiedVanish(src: String, ckpt: String): String = {
      val n = graft.streaming.Streams.vanishedUnexplained(spark, src,
        s"${cfg.checkpointRoot}/$ckpt").size
      if (n == 0) ""
      else s" BUT vanished_unexplained=$n planned file(s) missing " +
        "with no compaction record — pending data vanished before " +
        "ingest"
    }
    // the landing schemas, read at most once a pass: dedup_ingest and
    // oov_qc drain the same documents landing
    lazy val docsSchema = landingSchema(spark, docsDir, docsFiles)
    lazy val vecsSchema = landingSchema(spark, vecsDir, vecsFiles)
    // one ingest stage: its two input-skip arms, else the drain of `dir`
    // through `run` against `<checkpointRoot>/<ckpt>`
    def ingestStage(name: String, dir: String, schema: => StructType,
        ckpt: String, landedHere: Boolean, isNew: Boolean, what: String,
        normal: String)(
        run: (StructType, String) => graft.streaming.Streams.DrainReport)
        : Unit =
      stage(name, hasWork = isNew, resumable = true) {
        if (!landedHere)
          ("skipped_empty", s"no arrivals under $dir" +
            emptiedVanish(dir, ckpt))
        else if (!isNew)
          ("skipped_empty", s"no NEW $what files since the last pass " +
            s"under $dir (checkpoint covers the landing; stream " +
            "spin-up skipped)")
        else ("ran", run(schema,
          s"${cfg.checkpointRoot}/$ckpt").detail(normal))
      }
    // the pass deadline flows INTO the drain (IC:644's inner-loop clock
    // check): a backlogged landing zone admitted late in the budget
    // stops at a batch boundary instead of overrunning unboundedly; the
    // checkpoint keeps the remainder
    ingestStage("dedup_ingest", docsDir, docsSchema, "dedup", docsLanded,
        docsNew, "document", s"store=${cfg.sigStorePath} pairs under " +
          cfg.dedupOut) { (schema, ckpt) =>
      graft.streaming.Streams.incrementalDedupStream(spark, docsDir,
        schema, cfg.sigStorePath, ckpt, cfg.dedupOut, deadline, clock,
        Some(cfg.maxFilesPerBatch), heartbeat = () => passLease.renew())
    }
    ingestStage("ann_ingest", vecsDir, vecsSchema, "ann", vecsLanded,
        vecsNew, "vector", s"index=${cfg.annStorePath}") { (schema, ckpt) =>
      graft.streaming.Streams.incrementalAnnStream(spark, vecsDir, schema,
        cfg.annStorePath, ckpt, deadline, clock,
        Some(cfg.maxFilesPerBatch), heartbeat = () => passLease.renew())
    }

    // TAKEDOWN QUEUE drain (round-16 verdict #1): `--forget` gave the
    // engine a manually-invoked takedown; a production lake wants a
    // QUEUE — a takedown filed at 3pm lands an id-parquet file under
    // <landing>/forget and the 2am pass propagates it with no human in
    // the loop (the reference's scheduled-jobs posture,
    // ola/MaintenanceSolution.sql:7821 ff. — nightly jobs, not manual
    // procs — composed with the CommandExecute choke point forget
    // already reports through). Discipline identical to the ingest
    // stages: checkpointed O(new-files), per-micro-batch deadline
    // check + pass-lease heartbeat, quiet path zero jobs. Granularity
    // is per FILE (maxFilesPerBatch=1): one Forget.run — and one
    // FORGET audit row per touched target, context-stamped with the
    // queue file — per request, so the command log reads as a
    // takedown ledger. Replay is safe by forget's own idempotence: a
    // replayed file re-forgets an already-forgotten set, reports 0,
    // writes nothing. Runs AFTER the ingest stages (ids ingested
    // TONIGHT are covered by tonight's queue) and BEFORE ann_maintain
    // (a forget re-arms the maintain watermark, so the loop's next
    // measurement — and any drift-triggered retrain — sees the
    // post-forget store, never a stale quiet skip).
    stage("forget_queue", hasWork = forgetNew || forgetHardPending,
        resumable = true) {
      // drained-file ARCHIVAL (round-18 verdict #1 — the last
      // O(history) surface on the maintenance path): once a takedown
      // file's batch has committed AND its outcome record is durable,
      // the file's only remaining cost is being listed by every later
      // pass's probes, forever. Move committed files to the hidden
      // `<landing>/forget/_archived/` component (same-directory rename,
      // skipped by every lister via the shared hidden-component
      // discipline, so a relocated file never re-plans) at each drain
      // tail; the quiet and recovery arms sweep leftovers from a pass
      // that crashed between its commit and its archival.
      def archiveDrained(): Long = graft.streaming.Streams
        .archiveDrained(spark, forgetDir,
          s"${cfg.checkpointRoot}/forget_ckpt")
      def archivedDetail(n: Long): String =
        if (n == 0L) "" else s" archived=$n drained file(s)"
      if (!forgetNew && forgetHardPending) {
        // CRASH-RECOVERY arm: a prior pass committed a hard file's
        // forget (checkpoint advanced past it) but died before the
        // drain-tail retrain — the marker survived; run the owed
        // retrain now, quiet queue or not
        val action = graft.pipeline.Forget.hardRetrain(spark,
          cfg.annStorePath, log, clock,
          context = "queue drain tail (recovered pending marker)")
        forgetHardFs.delete(forgetHardMarker, false)
        ("ran", "files=0 hard_retrains=1 (recovered a pending hard " +
          s"retrain from a prior interrupted pass; action=$action)" +
          archivedDetail(archiveDrained()))
      }
      else if (!forgetLanded)
        ("skipped_empty", s"no takedown files under $forgetDir" +
          emptiedVanish(forgetDir, "forget_ckpt"))
      else if (!forgetNew)
        ("skipped_empty", "no NEW takedown files since the last pass " +
          s"under $forgetDir (checkpoint covers the queue; stream " +
          "spin-up skipped)" + archivedDetail(archiveDrained()))
      else {
        // files may carry doc_id, vec_id, or both — merge the queue's
        // schemas so a mixed queue streams under one reader (a file
        // missing a column reads it as null; the per-batch counts
        // below route each file to exactly the tiers it targets).
        // Round-18: the probe reads footers of the UNSEEN files only —
        // over the whole dir it was O(queue history) per drain, paying
        // for every request ever landed; drained files' columns are
        // irrelevant to a stream that will only read the new ones.
        // (Empty unseen set = a vanish-only drain — the stream runs
        // just to commit the tombstone batch; any file's footer serves.)
        val newFiles = graft.streaming.Streams.unseenFileList(
          spark, forgetDir, s"${cfg.checkpointRoot}/forget_ckpt")
        val schema = (if (newFiles.isEmpty)
            spark.read.option("mergeSchema", "true").parquet(forgetDir)
          else spark.read.option("mergeSchema", "true")
            .parquet(newFiles: _*)).schema
        val hasDocCol = schema.fieldNames.contains("doc_id")
        val hasVecCol = schema.fieldNames.contains("vec_id")
        // a queue file may carry a boolean `hard` column: any true row
        // requests the HARD tier for that file — the forced ANN
        // centroid retrain over (corpus − forgotten), run ONCE at the
        // drain tail however many hard files landed tonight
        // (Forget.hardRetrain) — so a legal-grade erasure is ALSO just
        // a file drop, no CLI run needed
        val hasHardCol = schema.fieldNames.contains("hard")
        if (!hasDocCol && !hasVecCol)
          ("failed", s"takedown files under $forgetDir carry neither " +
            "a doc_id nor a vec_id column; nothing to propagate")
        else {
          import org.apache.spark.sql.functions.{col, count, lit, when,
            input_file_name}
          val sigRows = new java.util.concurrent.atomic.AtomicLong(0L)
          val pairRows = new java.util.concurrent.atomic.AtomicLong(0L)
          val annRows = new java.util.concurrent.atomic.AtomicLong(0L)
          val emptyFiles = new java.util.concurrent.atomic.AtomicLong(0L)
          // hard-file provenance for the drain-tail FORGET-HARD row
          val hardFiles = new java.util.concurrent.ConcurrentLinkedQueue[String]()
          // a marker already set at stage ENTRY is a retrain OWED from
          // a prior pass (committed forget, retrain never ran) — its
          // erasure window must not widen again (round-18 advice): the
          // tail retrain below is exempt from the deadline deferral
          // when the debt predates tonight
          val owedAtEntry = forgetHardPending
          val r = try graft.streaming.Streams.incrementalCheckById(
            spark, forgetDir, schema,
            (batch, id) => {
              val b = batch.toDF()
              val src = b.select(input_file_name().as("f")).distinct()
                .collect().map(r => new org.apache.hadoop.fs.Path(
                  r.getString(0)).getName).sorted.mkString(",")
              // one bounded aggregate says which tiers THIS file
              // targets (count() skips nulls, so a doc-only file in a
              // merged-schema queue never pays an ANN store pass) and
              // whether it requests the hard tier
              val cnts = b.agg(
                count(if (hasDocCol) col("doc_id") else
                  lit(null)).as("d"),
                count(if (hasVecCol) col("vec_id") else
                  lit(null)).as("v"),
                count(if (hasHardCol)
                  when(col("hard") === lit(true), lit(1))
                  else lit(null)).as("h"))
                .head()
              // ABSENT-STORE guard (round-17 advice, mirroring the CLI
              // --forget's exit(3)): draining a takedown while a targeted
              // store root is absent would run Forget as a rows=0 no-op,
              // commit, and consume the request for good. Checked on the
              // ids THIS batch carries — a file landing after any
              // pre-stream probe is still planned by the stream's own
              // listing. Throwing fails the stage before the commit, so
              // the same file drains once the config is fixed. Only the
              // sig/ann roots gate (an absent PAIR sink is legitimately
              // empty); a tombstone batch of vanished files carries no
              // ids and always commits.
              def absent(ids: Long, idCol: String, what: String,
                  root: String): Unit =
                if (ids > 0L && !rootExists(root))
                  throw new AbsentStoreRoot(s"takedown file $src " +
                    s"targets $idCol but the $what root $root does not " +
                    "exist — draining would consume the request as a " +
                    "no-op; checkpoint NOT advanced")
              absent(cnts.getLong(0), "doc_id", "signature store",
                cfg.sigStorePath)
              absent(cnts.getLong(1), "vec_id", "ANN store",
                cfg.annStorePath)
              val docIds = if (cnts.getLong(0) > 0L)
                Some(b.filter(col("doc_id").isNotNull).select("doc_id"))
                else None
              val vecIds = if (cnts.getLong(1) > 0L)
                Some(b.filter(col("vec_id").isNotNull).select("vec_id"))
                else None
              // a file whose id cells are ALL null under the merged
              // schema (e.g. a misspelled 'docid' column beside valid
              // files) — consumed, but flagged LOUDLY in the stage
              // detail instead of passing as a silent no-op (round-17
              // advice)
              if (docIds.isEmpty && vecIds.isEmpty)
                emptyFiles.incrementAndGet()
              val ctx = s"queue file=$src batch=$id"
              val out = graft.pipeline.Forget.run(spark, docIds, vecIds,
                cfg.sigStorePath, cfg.annStorePath, cfg.dedupOut,
                log, clock, context = ctx)
              // HARD tier (round-17 verdict #1): a forced retrain is
              // the most expensive maintenance action the engine has —
              // N hard files in one drain must not run N corpus-sized
              // re-tessellations. The file's forget runs above like
              // any other; the retrain is DEFERRED to the drain tail
              // (one per drain). The marker write lands BEFORE this
              // batch's checkpoint commit, so a crash anywhere before
              // the tail retrain replays into the recovery arm.
              // Doc-only hard files keep the documented residue-free
              // adjudication: no centroid geometry ever derived from
              // doc-tier content, so there is nothing to erase.
              val hardAction =
                if (cnts.getLong(2) > 0L && vecIds.isDefined) {
                  if (!forgetHardFs.exists(forgetHardMarker))
                    forgetHardFs.create(forgetHardMarker, true).close()
                  hardFiles.add(src)
                  "requested"
                } else if (cnts.getLong(2) > 0L) "skipped" else ""
              sigRows.addAndGet(out.sig.rowsForgotten)
              pairRows.addAndGet(out.pairs.rowsForgotten)
              annRows.addAndGet(out.ann.rowsForgotten)
              // the durable per-request outcome record (batch_id
              // partition = idempotent under replay; a replay's zeros
              // overwrite honestly — the audit log keeps every run)
              import spark.implicits._
              Seq((src, out.sig.rowsForgotten, out.sig.cellsTouched,
                out.pairs.rowsForgotten, out.pairs.cellsTouched,
                out.ann.rowsForgotten, out.ann.cellsTouched, hardAction))
                .toDF("src_file", "sig_rows", "sig_cells", "pair_rows",
                  "pair_dirs", "ann_rows", "ann_cells", "hard_action")
            },
            s"${cfg.checkpointRoot}/forget_ckpt",
            s"${cfg.checkpointRoot}/forget",
            deadline = deadline, clock = clock,
            maxFilesPerBatch = Some(1),
            heartbeat = () => passLease.renew())
          catch { case e: org.apache.spark.sql.streaming
              .StreamingQueryException =>
            // the stream wraps a batch's failure: fail the stage with
            // the absent-store guard's own message when it is the cause
            throw Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null)
              .collectFirst { case a: AbsentStoreRoot => a }.getOrElse(e)
          }
          // DRAIN TAIL: the one hard retrain this drain owes. A
          // deadline-stopped drain defers it (marker persists — the
          // next pass finishes the queue and retrains at ITS tail, so
          // a backlogged night still pays exactly one retrain, and the
          // recovery arm covers the no-new-files case) — UNLESS the
          // marker predates tonight (owedAtEntry): a retrain already
          // deferred once runs now, deadline or not, so a chronically
          // backlogged queue bounds the legal-erasure window to one
          // pass instead of pushing it out night after night
          // (round-18 advice).
          val hard =
            if (!forgetHardPending) ""
            else if (r.stoppedAtDeadline && !owedAtEntry)
              " hard_retrain_deferred (deadline; marker persists — " +
                "the next pass retrains at its drain tail)"
            else {
              val names = hardFiles.toArray(Array.empty[String])
                .sorted.mkString(",")
              val ctx = if (names.isEmpty)
                "queue drain tail (recovered pending marker)"
                else s"queue file=$names drain tail"
              graft.pipeline.Forget.hardRetrain(spark, cfg.annStorePath,
                log, clock, context = ctx)
              forgetHardFs.delete(forgetHardMarker, false)
              if (r.stoppedAtDeadline)
                " hard_retrains=1 (deadline-exempt: retrain owed from " +
                  "a prior pass)"
              else " hard_retrains=1"
            }
          val noop = if (emptyFiles.get() == 0L) ""
            else s" EMPTY_NOOP_FILES=${emptyFiles.get()} (id cells " +
              "all null under the merged schema — misspelled column? " +
              "outcome records name the files)"
          // archive what COMMITTED tonight (plus any leftovers); on a
          // deadline-stopped drain the uncommitted remainder stays in
          // place for the next pass by construction (only seen files
          // move)
          val archived = archiveDrained()
          // a vanished takedown file (either class) is the worst vanish:
          // the request it carried was never propagated
          ("ran", r.detail(s"files=${r.drained} " +
            s"sig_rows=${sigRows.get()} pairs=${pairRows.get()} " +
            s"ann_vectors=${annRows.get()}$hard$noop" +
            s"${archivedDetail(archived)} " +
            s"(outcomes under ${cfg.checkpointRoot}/forget)"))
        }
      }
    }

    // hasWork evaluated HERE (by-name), after a possible bootstrap by
    // this very pass's ann_ingest stage — a pass-start snapshot would
    // cost-gate the first-ever maintain on an index that now exists.
    // A quiet-night watermark skip keeps its "ran" status (specs and
    // operators read the decision) but is stats-EXEMPT: its ~0 s
    // sample must not drag the IC:677 estimate under a real
    // measured-pass/rebuild cost.
    var maintainQuiet = false
    stage("ann_maintain", hasWork = annStoreExists,
        statsExempt = () => maintainQuiet) {
      // the reference's nightly job runs IndexOptimize right after the
      // integrity checks (MS:7821 ff. creates both jobs); the vector
      // tier's analog is the monitor→action loop — measured drift
      // retrains, accretion compacts, a healthy index is a no-op
      // (AnnIndexStore.maintain; thresholds calibrated in SCALE.md)
      val store = new graft.pipeline.IncrementalAnn.AnnIndexStore(
        spark, cfg.annStorePath)
      // one maintain() call decides everything — a pre-check load()
      // here would pay a second recover() pass (listings, sweeps)
      // every night for nothing (round-13 review); an absent index
      // comes back as action=absent
      val r = store.withLease(
        store.maintain(heartbeat = () => passLease.renew()))
      if (r.action == "absent")
        ("skipped_empty", s"no index at ${cfg.annStorePath}")
      else {
        // quiet-night fast path (round-14 verdict #1): the decision
        // watermark matched — nothing ingested since the last
        // maintain, store scan skipped entirely
        maintainQuiet = r.unchangedSinceBatch.isDefined
        val un = r.unchangedSinceBatch.fold("")(b =>
          s" (unchanged since batch $b; store scan skipped)")
        ("ran", s"action=${r.action}$un maxDrift=${r.maxDrift} " +
          s"arrivedBatches=${r.arrivedBatches}")
      }
    }

    stage("oov_qc", hasWork = oovNew, resumable = true) {
      val resident = cfg.dbs.toSeq.sortBy(_._1)
        .map(_._2 + "/documents.parquet").find(rootExists)
      if (!docsLanded)
        ("skipped_empty", s"no arrivals under $docsDir" +
          emptiedVanish(docsDir, "oov_ckpt"))
      else resident match {
        case None =>
          ("skipped_no_resident",
            "no --db holds a documents.parquet resident corpus")
        case Some(_) if !oovNew =>
          ("skipped_empty", "no NEW document files since the last " +
            s"pass (cumulative report under ${cfg.checkpointRoot}/oov; " +
            "stream spin-up skipped)")
        case Some(res) =>
          // the same checkpointed O(new files) discipline as the ingest
          // stages: only files arrived since the last pass are QC'd
          // (an accumulating landing zone must not be re-scored
          // nightly), per-batch reports land under batch_id partitions
          // idempotent under replay
          val out = s"${cfg.checkpointRoot}/oov"
          // the kept vocabulary, resolved at the first batch (a drain
          // that runs none lists nothing): rebuilt only when the resident
          // corpus's files changed, so a steady batch reads no resident row
          lazy val vocab = new graft.pipeline.OovQc.VocabStore(spark,
            s"${cfg.checkpointRoot}/oov_vocab").resolve(res)
          // batch id -> route, for the batches THIS pass committed: the
          // stage detail must report tonight's QC, not re-announce last
          // week's flags from older batch partitions (round-13 review)
          val passBatches =
            new java.util.concurrent.ConcurrentHashMap[Long, String]()
          // deadline + heartbeat ride the drain like the ingest
          // stages: a backlogged landing admitted late QCs what fits
          // (checkpoint resumes), and the pass lease stays live
          val r = graft.streaming.Streams.drain(spark, docsDir, docsSchema,
              s"${cfg.checkpointRoot}/oov_ckpt", "oov_qc", deadline, clock,
              Some(cfg.maxFilesPerBatch), () => passLease.renew()) {
            (batch, id) =>
              passBatches.put(id, graft.pipeline.OovQc.writeReport(spark,
                vocab, batch, new Path(out, s"batch_id=$id")))
              ()
          }
          // the drain report rides BOTH ran arms (round-15 advice): a
          // vanish pending only on the oov checkpoint (dedup already
          // committed the file) is consumed by the replay, so without
          // it the file would never be QC'd and nothing would say so.
          // Detail-only like the ingest stages (the violations tally
          // stays the integrity tier's: the SAME vanished file pends on
          // the dedup, ann and oov checkpoints at once, and counting it
          // per checkpoint would triple-bill one loss).
          if (passBatches.isEmpty)
            ("ran", r.detail("no new document files since the last " +
              s"pass (cumulative report under $out)"))
          else {
            import scala.jdk.CollectionConverters._
            val ids = passBatches.keySet.asScala.toSeq
            // a report holds at most one row per source per batch: read
            // on the driver, no job
            val flags = ids.flatMap(id => GraftSqlBridge.readParquetRows(
              spark, new Path(out, s"batch_id=$id"))(Encoders.row(
                StructType(Seq(StructField("flagged", BooleanType))))))
            val flagged = flags.count(r => !r.isNullAt(0) && r.getBoolean(0))
            val routes = passBatches.values.asScala.toSeq.distinct.sorted
            ("ran", r.detail(s"batches=${ids.size} " +
              s"report_rows=${flags.size} flagged=$flagged " +
              s"route=${routes.mkString("+")} vocab=" +
              s"${if (vocab.rebuilt) "rebuilt" else "kept"} " +
              s"report=$out resident=$res"))
          }
      }
    }

    stage("table_compact",
        hasWork = cfg.compactTargetBytes.isDefined && cfg.dbs.nonEmpty) {
      // the IndexOptimize half of the reference's nightly job
      // (MS:7821 ff. creates BOTH maintenance jobs; here both run in
      // the ONE pass): small-file compaction of every resident
      // DIRECTORY table, LAST — the integrity tier already validated
      // tonight's layout, and the merged files land as NEW files the
      // next pass's incremental checkpoint picks up and re-validates
      // (self-healing double-check of exactly the rewritten rows).
      // compact() checks the pass deadline at every merge-group head
      // (IC:644), so a big backlog compacts what fits and the next
      // pass re-plans the remainder (the planner is idempotent).
      cfg.compactTargetBytes match {
        case None =>
          ("skipped_empty",
            "no --compact-tables target given; table compaction not " +
              "requested")
        case Some(_) if cfg.dbs.isEmpty =>
          ("skipped_no_db", "no --db given; no resident tables to " +
            "compact")
        case Some(tb) =>
          val inv = new DirInventory(spark, cfg.dbs)
          var dirTables = 0
          var merged = 0
          var budgetSkipped = 0
          var leaseSkipped = 0
          var healthy = 0
          inv.databases().foreach { db =>
            inv.objects(db).foreach { o =>
              val p = new org.apache.hadoop.fs.Path(o.path)
              val fs = p.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              // single-file tables have no file set to merge
              if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
                // the IC:592 per-TABLE check, like the integrity
                // stage: past the deadline, skip even the planning
                // listing (20k tables would otherwise each pay a plan
                // job after the budget is gone); compact() itself
                // re-checks per merge group (IC:644)
                if (deadline.exists(d => Policy.reached(clock.observe(), d)))
                  budgetSkipped += 1
                else if (!graft.maintenance.Compaction.worthPlanning(
                    spark, o.path, tb)) {
                  // quiet-night fast path (round-15): a table with <2
                  // sub-target files can never plan a merge — skip its
                  // lease + plan job entirely (one driver listing,
                  // zero Spark jobs; 20k healthy tables otherwise pay
                  // 20k all-noop plan jobs a night)
                  healthy += 1
                } else {
                  dirTables += 1
                  val r = graft.maintenance.Compaction.compact(spark,
                    o.path, graft.maintenance.Compaction.tableFiles(
                      spark, o.path), tb, deadline, clock,
                    heartbeat = () => passLease.renew())
                  merged += r.merged
                  // a table declined because another compactor holds
                  // its lease is VISIBLE work declined — the audit row
                  // must carry it, not just a stdout line (ref
                  // CE:204-222; round-14 verdict #3)
                  if (r.leaseSkipped) leaseSkipped += 1
                }
              }
            }
          }
          val sk = if (budgetSkipped == 0) ""
            else s" skipped=$budgetSkipped table(s) (budget)"
          val ls = if (leaseSkipped == 0) ""
            else s" lease_skipped=$leaseSkipped table(s) (another " +
              "compactor holds the lease)"
          val hl = if (healthy == 0) ""
            else s" healthy=$healthy table(s) (no merge candidates; " +
              "plan skipped)"
          ("ran", s"merged=$merged group(s) across $dirTables dir " +
            s"table(s) (target=$tb bytes)$sk$ls$hl")
      }
    }

    // ONE duration-history write per pass (record() is in-memory); an
    // aborted pass (usurped lease) loses only its in-pass updates —
    // admission degrades to the time gate, never to wrong work
    stats.flush()
    ArrivalReport(results.toSeq, violations, errors)
  }

  /** The schema a landing's drain reads under, from `files`, the
    * landing's data files ([[graft.streaming.Streams.listDataStatuses]]
    * of `dir`): the footer schema of the first file by path, read on the
    * driver with no Spark job — or, when a file sits below a
    * subdirectory of `dir`, Spark's inference over `dir`, which adds the
    * partition columns those directory names carry. */
  private[graft] def landingSchema(spark: SparkSession, dir: String,
      files: Seq[org.apache.hadoop.fs.FileStatus]): StructType = {
    val p = new Path(dir)
    val base = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p)
    if (files.isEmpty || files.exists(_.getPath.getParent != base))
      spark.read.parquet(dir).schema
    else GraftSqlBridge.parquetFooterSchema(spark,
      files.map(_.getPath).minBy(_.toString))
  }
}
