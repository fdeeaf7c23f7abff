package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.executor.CommandLog
import graft.model.{ManualClock, SystemClock}
import graft.scheduler.{ArrivalConfig, ArrivalPass}

/** The composed nightly arrival pass (round-12 verdict directive #3):
  * ONE entry point drives integrity + dedup ingest + ANN ingest + OOV
  * QC over one landing zone under ONE time budget, with the
  * reference's admission control between stages (IC:505/592/677 —
  * work is skipped with an audit row, never killed mid-flight). */
class ArrivalPassSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** A landing zone + resident db fixture: arriving documents (with a
    * planted near-dup and an OOV-heavy source), arriving vectors, and
    * a resident corpus table the integrity tier checks and the OOV QC
    * compares against. */
  private def fixture(): (String, Map[String, String]) = {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival").toString
    val residentDocs = (1L to 50L).map { i =>
      (i, "web", s"the quick brown fox jumps over dog number $i again")
    }.toDF("doc_id", "source", "text")
    residentDocs.coalesce(1).write.parquet(s"$base/db/documents.parquet")
    // a second resident table stored as a single parquet FILE (the
    // DuckDB-COPY / pandas layout): the integrity tier must check it
    // without erroring (round-13 smoke finding: the file-stream source
    // needs a directory basePath — Streams now streams the parent
    // glob-filtered to the file)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    residentDocs.limit(5).coalesce(1).write.parquet(s"$base/tmp-meta")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/tmp-meta"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$base/db/meta.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/tmp-meta"), true)
    val arriving = (101L to 115L).map { i =>
      // one source speaks the resident language, the other is pure OOV
      if (i % 2 == 0L)
        (i, "web",
          s"the quick brown fox jumps over dog number ${i - 100} again")
      else
        (i, "feedx", s"zzqx$i wobble flurb glorp snark blivet quux$i")
    }.toDF("doc_id", "source", "text")
    arriving.coalesce(1).write.parquet(s"$base/landing/documents")
    val vecs = (1L to 80L).map { i =>
      (i, (0 until 8).map(d =>
        ((i % 4) * 30 + ((i * 7 + d * 3) % 9)).toFloat))
    }.toDF("vec_id", "embedding")
    vecs.coalesce(1).write.parquet(s"$base/landing/embeddings")
    (base, Map("corpus" -> s"$base/db"))
  }

  test("full pass: all four stages run against one landing zone — " +
      "dedup pairs land, the ANN index serves, the OOV report flags " +
      "the drifted source, and every stage writes an audit row") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing",
        dbs = dbs,
        timeLimitSeconds = None,
        checkpointRoot = s"$base/ckpt",
        sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs",
        annStorePath = s"$base/ann"),
      log, SystemClock)

    assert(report.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "ran",
      "dedup_ingest" -> "ran",
      "ann_ingest" -> "ran",
      "forget_queue" -> "skipped_empty", // no takedown queue in fixture
      "ann_maintain" -> "ran",
      "oov_qc" -> "ran",
      "table_compact" -> "skipped_empty"), report.stages.mkString("\n"))
    assert(report.errors === 0L)
    // BOTH table layouts were checked error-free (the dir-table and
    // the single-file meta.parquet)
    assert(report.stages.head.detail.contains("executed=2"),
      report.stages.head.detail)
    // a just-bootstrapped index has no arrivals: the maintenance loop
    // measures, decides NO-OP, and says so in its stage detail
    assert(report.stages.find(_.stage == "ann_maintain").get
      .detail.contains("action=none"))

    // the ANN store was bootstrapped from the landing vectors and is
    // immediately searchable
    val ann = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    assert(ann.load().get.count() === 80L)
    assert(ann.searchTopK(
      spark.read.parquet(s"$base/landing/embeddings")
        .filter($"vec_id" === 1L)
        .select($"vec_id",
          graft.functions.Quantize.toLongsCol($"embedding").as("qv")),
      k = 3).count() === 3L)

    // the signature store holds every arriving doc's signature
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    assert(sig.load().get.count() === 15L)

    // the OOV report (checkpointed per-batch stream, batch_id
    // partitions): the resident-language source passes, the drifted
    // source is flagged
    val oov = spark.read.parquet(s"$base/ckpt/oov")
      .select("source", "flagged")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(oov === Map("web" -> false, "feedx" -> true))
    val oovRows = spark.read.parquet(s"$base/ckpt/oov").count()

    // SECOND pass over the SAME landing zone: the quiet fast path —
    // nothing NEW landed, so the ingest/QC stages skip their stream
    // spin-ups entirely with loud skipped_empty reasons (O(new files),
    // not O(landing)), the integrity tier reports its tables quiet,
    // the maintenance loop still runs, the OOV report gains no rows
    // and the stores are unchanged
    val report2 = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing",
        dbs = dbs,
        timeLimitSeconds = None,
        checkpointRoot = s"$base/ckpt",
        sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs",
        annStorePath = s"$base/ann"),
      log, SystemClock)
    assert(report2.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "ran",
      "dedup_ingest" -> "skipped_empty",
      "ann_ingest" -> "skipped_empty",
      "forget_queue" -> "skipped_empty",
      "ann_maintain" -> "ran",
      "oov_qc" -> "skipped_empty",
      "table_compact" -> "skipped_empty"),
      report2.stages.mkString("\n"))
    assert(report2.stages.head.detail.contains("quiet=2"),
      report2.stages.head.detail)
    assert(report2.stages.filter(st => st.status == "skipped_empty" &&
        st.stage != "table_compact" && st.stage != "forget_queue")
      .forall(_.detail.contains("no NEW")), report2.stages.mkString("\n"))
    assert(spark.read.parquet(s"$base/ckpt/oov").count() === oovRows)
    // ann_maintain's quiet-night gate (round-14 verdict #1): nothing
    // was ingested since pass 1's maintain, so the decision watermark
    // matched and the corpus-sized store scan was skipped — the stage
    // detail says so
    assert(report2.stages.find(_.stage == "ann_maintain").get
      .detail.contains("unchanged since batch"),
      report2.stages.find(_.stage == "ann_maintain").get.detail)
    // ...and the quiet skip did NOT feed the stage duration history
    // (round-15 review): its ~0 s sample would drag the IC:677 mean
    // under a real rebuild's cost. Pass 1's measured run is the only
    // ann_maintain entry.
    val statsTxt = {
      val p = new org.apache.hadoop.fs.Path(
        s"$base/ckpt/stage_stats.json")
      val fs2 = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs2.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(""""ann_maintain":\{"n":1,""".r
      .findFirstIn(statsTxt).isDefined, statsTxt)
    assert(ann.load().get.count() === 80L)

    // audit trail: one ARRIVAL_STAGE row per stage per pass (two
    // passes above); pass 1 all ran, pass 2 records the quiet skips;
    // the integrity tier's own CHECKTABLE INCREMENTAL rows are there
    val stageRows = log.entries.filter(_.command_type == "ARRIVAL_STAGE")
    assert(stageRows.map(_.object_name) === Seq(
      "integrity_incremental", "dedup_ingest", "ann_ingest",
      "forget_queue", "ann_maintain", "oov_qc", "table_compact",
      "integrity_incremental", "dedup_ingest", "ann_ingest",
      "forget_queue", "ann_maintain", "oov_qc", "table_compact"))
    assert(stageRows.take(7)
      .filterNot(r => Set("forget_queue", "table_compact")
        .contains(r.object_name))
      .forall(_.extended_info.contains("\"ran\"")))
    assert(log.entries.exists(_.command.contains("CHECKTABLE INCREMENTAL")))
  }

  test("budget expires mid-pass: the running stage finishes, every " +
      "later stage is admission-skipped with an audit row saying so " +
      "(IC:505 admission control, never a mid-flight kill)") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    // ManualClock ticking 6 s per observation against a 10 s budget:
    // the deadline is fixed at entry, stage 1 is admitted (6 s in),
    // and by the stage-2 admission check the clock reads 12 s — over.
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"),
      tickMs = 6000L)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing",
        dbs = dbs,
        timeLimitSeconds = Some(10L),
        checkpointRoot = s"$base/ckpt2",
        sigStorePath = s"$base/sigs2",
        dedupOut = s"$base/pairs2",
        annStorePath = s"$base/ann2"),
      log, clock)

    assert(report.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "ran",
      "dedup_ingest" -> "admission_skipped",
      "ann_ingest" -> "admission_skipped",
      "forget_queue" -> "admission_skipped",
      "ann_maintain" -> "admission_skipped",
      "oov_qc" -> "admission_skipped",
      "table_compact" -> "admission_skipped"),
      report.stages.mkString("\n"))
    // the deadline also flowed INTO stage 1 (IC:592's per-table
    // check): by the first table the 6 s ticks had crossed the 10 s
    // budget, so both resident tables were admission-skipped WITH
    // audit rows, and the stage detail says so
    // the detail splits the two gates (round-14 verdict #7): here both
    // tables were refused by the IC:592 time gate, none by the IC:677
    // predicted-cost gate (no duration history exists on a first pass)
    assert(report.stages.head.detail.contains("executed=0") &&
      report.stages.head.detail.contains(
        "skipped=2 (budget: skipped_time=2 skipped_cost=0)"),
      report.stages.head.detail)
    assert(report.violations === 0L)
    val tableSkips = log.entries.filter(e =>
      e.command_type == "DBCC_CHECKTABLE_INC" &&
        e.extended_info.contains("admission_skipped"))
    assert(tableSkips.size === 2)
    // the reason rides extended_info; a skip is NOT a failure, so the
    // error columns stay null (the CommandExecutor pairing invariant)
    assert(tableSkips.forall(_.extended_info.contains("time budget")))
    assert(tableSkips.forall(e =>
      e.error_number.isEmpty && e.error_message.isEmpty))
    // skipped stages touched NOTHING: no stores, no pair output
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/sigs2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/ann2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/pairs2")))
    // and each one says WHY in the audit log
    val skipped = log.entries.filter(e =>
      e.command_type == "ARRIVAL_STAGE" &&
        e.extended_info.contains("admission_skipped"))
    assert(skipped.map(_.object_name) ===
      Seq("dedup_ingest", "ann_ingest", "forget_queue", "ann_maintain",
        "oov_qc", "table_compact"))
    assert(skipped.forall(_.command.contains("time budget exhausted")))
  }

  test("deadline expires MID-DRAIN: the admitted ingest stage stops " +
      "gracefully at a batch boundary (IC:644 inner-loop check), the " +
      "committed prefix stands, the audit row reports drained/" +
      "remaining, and the NEXT pass drains exactly the remainder") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-drain").toString
    // a 4-file backlog: one doc per file, so maxFilesPerBatch=1 gives
    // the drain four batch-boundary check points
    (1L to 4L).foreach { i =>
      Seq((100L + i, "web", s"backlog document number $i body text"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/documents")
    }
    (1L to 3L).foreach { i =>
      Seq((i, (0 until 8).map(d => (i * 10 + d).toFloat)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/embeddings")
    }
    val log = new CommandLog(spark, None)
    // tick 0 + a per-committed-batch 6 s advance through the test
    // seam: the 10 s budget admits batches 0 and 1 (clock 0 s, 6 s)
    // and refuses batch 2 (12 s) — a mid-drain expiry, not a
    // stage-boundary one
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      timeLimitSeconds = Some(10L),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      maxFilesPerBatch = 1)
    val report =
      try {
        graft.streaming.Streams.onDedupPairsWritten =
          _ => clock.advance(6000L)
        ArrivalPass.run(spark, cfg, log, clock)
      } finally graft.streaming.Streams.onDedupPairsWritten = _ => ()

    val dedup = report.stages.find(_.stage == "dedup_ingest").get
    assert(dedup.status === "ran")
    assert(dedup.detail.contains("drained=2") &&
      dedup.detail.contains("remaining≈2") &&
      dedup.detail.contains("budget"), dedup.detail)
    // the committed prefix stands: exactly the two drained docs' sigs
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    assert(sig.load().get.count() === 2L)
    // the refused batch was never processed, so later stages see the
    // exhausted budget at their admission gate
    assert(report.stages.find(_.stage == "ann_ingest").get.status
      === "admission_skipped")
    // the audit row carries the drained/remaining accounting
    val row = log.entries.find(e =>
      e.command_type == "ARRIVAL_STAGE" &&
        e.object_name == "dedup_ingest").get
    assert(row.command.contains("remaining≈2") &&
      row.command.contains("checkpoint resumes next pass"), row.command)

    // NEXT pass, fresh budget: the checkpoint drains EXACTLY the
    // remainder (2 batches), and the store converges on all 4 docs
    val report2 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    val dedup2 = report2.stages.find(_.stage == "dedup_ingest").get
    assert(dedup2.status === "ran")
    assert(dedup2.detail.contains("drained=2") &&
      !dedup2.detail.contains("remaining"), dedup2.detail)
    assert(sig.load().get.count() === 4L)
    // the ANN tier (skipped entirely in pass 1) bootstraps + ingests
    // its 3-file backlog under the same per-batch discipline
    val ann2 = report2.stages.find(_.stage == "ann_ingest").get
    assert(ann2.status === "ran" && ann2.detail.contains("drained=3"),
      ann2.detail)
  }

  test("a vanished planned file on an otherwise-quiet landing is NOT " +
      "hidden by the ingest stage's quiet gate (round-15 review): the " +
      "stage runs, surfaces vanished_unexplained in its detail, " +
      "commits the planned batch, and the NEXT pass is genuinely quiet") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-vanish").toString
    (1L to 3L).foreach { i =>
      Seq((200L + i, "web", s"vanishing backlog document number $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/documents")
    }
    val log = new CommandLog(spark, None)
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      timeLimitSeconds = Some(10L),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      maxFilesPerBatch = 1)
    // pass 1: mid-drain stop — batches 0,1 commit, batch 2 is planned
    // then refused, leaving one planned-but-uncommitted file
    try {
      graft.streaming.Streams.onDedupPairsWritten =
        _ => clock.advance(6000L)
      ArrivalPass.run(spark, cfg, log, clock)
    } finally graft.streaming.Streams.onDedupPairsWritten = _ => ()
    // the pending file VANISHES with no compaction record
    val seen = graft.streaming.Streams.seenFiles(spark,
      s"$base/ckpt/dedup")
    val pending = graft.streaming.Streams.listDataFiles(spark,
      s"$base/landing/documents").filterNot(seen.contains)
    assert(pending.size === 1, pending.toString)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(pending.head), false))

    // pass 2, fresh budget: without the round-15 bypass the landing
    // reads "nothing new" (the vanish candidate is not on disk) and
    // the loss stays hidden behind skipped_empty forever
    val report2 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    val d2 = report2.stages.find(_.stage == "dedup_ingest").get
    assert(d2.status === "ran", d2.toString)
    assert(d2.detail.contains("vanished_unexplained=1"), d2.detail)
    // the store holds exactly the two drained docs; nothing invented
    assert(new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs").load().get.count() === 2L)

    // pass 3: the planned batch committed in pass 2, so the landing is
    // GENUINELY quiet — the vanish is not re-reported
    val report3 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-03T00:00:00Z")))
    val d3 = report3.stages.find(_.stage == "dedup_ingest").get
    assert(d3.status === "skipped_empty", d3.toString)
    assert(!d3.detail.contains("vanished"), d3.detail)
  }

  test("delete BETWEEN PLAN AND PROCESS (round-15 verdict #2): a file " +
      "the drain's own listing planned that vanishes before its batch " +
      "processes commits WITH its batch — invisible to the pre-drain " +
      "reconciliation forever — and the post-drain reconciliation " +
      "surfaces it once as vanished_mid_drain; a file OBSERVED by the " +
      "pre-drain snapshot is never flagged; the next pass is quiet") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-middrain").toString
    (1L to 2L).foreach { i =>
      Seq((300L + i, "web", s"mid drain resident document number $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/documents")
    }
    val docsDir = s"$base/landing/documents"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      maxFilesPerBatch = 1)
    val preexisting = graft.streaming.Streams
      .listDataFiles(spark, docsDir).toSet
    // pass 1: a third file lands in the snapshot→planning window (the
    // onPreDrainSnapshot seam — after the reconciler's disk snapshot,
    // before the source's own listing), future-dated so it forms the
    // LAST micro-batch; the first batch's callback then deletes it —
    // strictly between its planning and its processing. The
    // ignoreMissingFiles tolerance skips it and its batch commits.
    val victim = new java.util.concurrent.atomic.AtomicReference[String]()
    try {
      graft.streaming.Streams.onPreDrainSnapshot = () =>
        if (victim.get == null) {
          Seq((399L, "web",
            "document that lands after the snapshot and vanishes " +
              "before its batch processes"))
            .toDF("doc_id", "source", "text")
            .coalesce(1).write.mode("append").parquet(docsDir)
          val f = graft.streaming.Streams.listDataFiles(spark, docsDir)
            .filterNot(preexisting.contains).head
          fs.setTimes(new org.apache.hadoop.fs.Path(f),
            System.currentTimeMillis() + 3600000L, -1L)
          victim.set(f)
        }
      graft.streaming.Streams.onDedupPairsWritten = _ => {
        val f = victim.getAndSet("done")
        if (f != null && f != "done")
          assert(fs.delete(new org.apache.hadoop.fs.Path(f), false))
      }
      val report1 = ArrivalPass.run(spark, cfg, log,
        new ManualClock(Instant.parse("2026-01-01T00:00:00Z")))
      val d1 = report1.stages.find(_.stage == "dedup_ingest").get
      assert(d1.status === "ran", d1.toString)
      assert(d1.detail.contains("vanished_mid_drain=1"), d1.detail)
      assert(!d1.detail.contains("vanished_unexplained"), d1.detail)
    } finally {
      graft.streaming.Streams.onPreDrainSnapshot = () => ()
      graft.streaming.Streams.onDedupPairsWritten = _ => ()
    }
    // the vanished doc was never ingested; the two observed docs were
    assert(new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs").load().get.count() === 2L)

    // pass 2 precision case: a file PRESENT at the pre-drain snapshot
    // that is removed after its batch commits (mid-drain archival of
    // just-drained data) is OBSERVED — never flagged
    Seq((398L, "web", "document archived immediately after its drain"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val preP2 = graft.streaming.Streams.listDataFiles(spark, docsDir)
      .filterNot(preexisting.contains)
    assert(preP2.size === 1)
    try {
      graft.streaming.Streams.onDedupPairsWritten = _ =>
        fs.delete(new org.apache.hadoop.fs.Path(preP2.head), false)
      val report2 = ArrivalPass.run(spark, cfg, log,
        new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
      val d2 = report2.stages.find(_.stage == "dedup_ingest").get
      assert(d2.status === "ran", d2.toString)
      assert(!d2.detail.contains("vanished"), d2.detail)
    } finally graft.streaming.Streams.onDedupPairsWritten = _ => ()

    // pass 3: everything committed — genuinely quiet, nothing re-flagged
    val report3 = ArrivalPass.run(spark, cfg, log,
      new ManualClock(Instant.parse("2026-01-03T00:00:00Z")))
    val d3 = report3.stages.find(_.stage == "dedup_ingest").get
    assert(d3.status === "skipped_empty", d3.toString)
    assert(!d3.detail.contains("vanished"), d3.detail)
  }

  test("an EMPTIED landing (every file gone, one planned-but-" +
      "uncommitted vanish) cannot run the stream — the skip detail " +
      "still surfaces the loss on every pass (round-15 second review: " +
      "hasLandedFiles short-circuited the vanish bypass)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-emptied").toString
    (1L to 3L).foreach { i =>
      Seq((300L + i, "web", s"emptied landing document number $i"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/documents")
    }
    val log = new CommandLog(spark, None)
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      timeLimitSeconds = Some(10L),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      maxFilesPerBatch = 1)
    try {
      graft.streaming.Streams.onDedupPairsWritten =
        _ => clock.advance(6000L)
      ArrivalPass.run(spark, cfg, log, clock)
    } finally graft.streaming.Streams.onDedupPairsWritten = _ => ()
    // EVERYTHING vanishes: the two committed files legally archived,
    // the planned-but-uncommitted third lost with no record
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.Streams.listDataFiles(spark,
        s"$base/landing/documents")
      .foreach(p => assert(
        fs.delete(new org.apache.hadoop.fs.Path(p), false)))
    val report2 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    val d2 = report2.stages.find(_.stage == "dedup_ingest").get
    // the stream cannot run (no file to infer a schema from), but the
    // skip is LOUD about the unexplained pending loss — and stays loud
    // on later passes until remediation (the batch can never commit)
    assert(d2.status === "skipped_empty", d2.toString)
    assert(d2.detail.contains("vanished_unexplained=1"), d2.detail)
    val report3 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-03T00:00:00Z")))
    assert(report3.stages.find(_.stage == "dedup_ingest").get
      .detail.contains("vanished_unexplained=1"))
  }

  test("deadline expires mid-drain on the ANN tier too: the vector " +
      "ingest stops at a batch boundary and resumes from its " +
      "checkpoint next pass") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-ann-drain").toString
    (1L to 3L).foreach { i =>
      Seq((i, (0 until 8).map(d => (i * 10 + d).toFloat)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append")
        .parquet(s"$base/landing/embeddings")
    }
    val log = new CommandLog(spark, None)
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      timeLimitSeconds = Some(10L),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      maxFilesPerBatch = 1)
    val report =
      try {
        graft.streaming.Streams.onAnnBatchIngested =
          _ => clock.advance(6000L)
        ArrivalPass.run(spark, cfg, log, clock)
      } finally graft.streaming.Streams.onAnnBatchIngested = _ => ()
    val ann = report.stages.find(_.stage == "ann_ingest").get
    assert(ann.status === "ran")
    assert(ann.detail.contains("drained=2") &&
      ann.detail.contains("remaining≈1"), ann.detail)
    val store = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    assert(store.load().get.count() === 2L)
    val report2 = ArrivalPass.run(spark,
      cfg.copy(timeLimitSeconds = None), log,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    val ann2 = report2.stages.find(_.stage == "ann_ingest").get
    assert(ann2.status === "ran" && ann2.detail.contains("drained=1"),
      ann2.detail)
    assert(store.load().get.count() === 3L)
  }

  test("IC:677 predicted-cost admission: an ATOMIC stage whose " +
      "persisted history predicts an overrun is admission-skipped " +
      "(audit row says predicted > remaining) while cheap later " +
      "stages still run — and a RESUMABLE stage with the same monster " +
      "history is admitted anyway (its per-batch deadline bounds the " +
      "drain; a cost refusal would starve it forever)") {
    val (base, dbs) = fixture()
    // seeded history: BOTH dedup_ingest (resumable — checkpointed
    // stream, stops at the deadline per micro-batch) and ann_maintain
    // (atomic — a rebuild cannot stop midway) average 600 s over 5
    // runs, far past tonight's 30 s budget
    val statsP = new org.apache.hadoop.fs.Path(
      s"$base/ckpt/stage_stats.json")
    val fs = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(statsP, true)
    out.writeBytes(
      """{"format":1,"stages":{"dedup_ingest":{"n":5,"avg_ms":600000},""" +
        """"ann_maintain":{"n":5,"avg_ms":600000}}}""")
    out.close()
    val log = new CommandLog(spark, None)
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"),
      tickMs = 1000L)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing", dbs = dbs,
        timeLimitSeconds = Some(30L),
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann"),
      log, clock)
    assert(report.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "ran",
      "dedup_ingest" -> "ran",
      "ann_ingest" -> "ran",
      "forget_queue" -> "skipped_empty",
      "ann_maintain" -> "admission_skipped",
      "oov_qc" -> "ran",
      "table_compact" -> "skipped_empty"), report.stages.mkString("\n"))
    val skip = report.stages.find(_.stage == "ann_maintain").get
    assert(skip.detail.contains("predicted 600.0 s") &&
      skip.detail.contains("remaining") &&
      skip.detail.contains("IC:677"), skip.detail)
    // the refusal is an audit row
    val row = log.entries.find(e =>
      e.command_type == "ARRIVAL_STAGE" &&
        e.object_name == "ann_maintain").get
    assert(row.extended_info.contains("admission_skipped"))
    // the admitted resumable stage really ran: the signature store
    // exists (its drain was bounded by the per-batch deadline, not
    // refused outright)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/sigs")))
    // ran stages fed the history (IC:706 recurrence; ManualClock's
    // fixed elapsed makes the fold deterministic): the admitted
    // dedup_ingest UPDATED its seeded mean (self-correction — the old
    // stage-level refusal could never update it, so the starvation was
    // permanent), while the refused atomic stage's entry survived
    // un-diluted — skips never feed the mean
    val in = fs.open(statsP)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(txt.contains(""""ann_maintain":{"n":5,"avg_ms":600000}"""),
      txt)
    assert(txt.contains(""""dedup_ingest":{"n":6"""), txt)
    assert(txt.contains(""""integrity_incremental":{"n":1"""), txt)
  }

  test("a CORRUPT duration-history file degrades admission to the " +
      "time-remaining gate — every stage still runs, nothing crashes, " +
      "and the history re-seeds itself from this pass's runs") {
    val (base, dbs) = fixture()
    val statsP = new org.apache.hadoop.fs.Path(
      s"$base/ckpt/stage_stats.json")
    val fs = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(statsP, true)
    out.writeBytes("""{"format":1,"stages":{"dedup_ing""") // truncated
    out.close()
    val log = new CommandLog(spark, None)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing", dbs = dbs,
        timeLimitSeconds = Some(3600L),
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann"),
      log, SystemClock)
    // no predicted skip can fire from a history that failed to parse
    assert(!report.stages.exists(_.status == "admission_skipped"),
      report.stages.mkString("\n"))
    assert(report.stages.count(_.status == "ran") >= 4)
    // the pass rewrote the file with this pass's fresh entries
    val in = fs.open(statsP)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(txt.contains(""""dedup_ingest":{"n":1"""), txt)
  }

  test("input skips are explicit: an empty landing zone and no " +
      "resident corpus produce skip statuses, not crashes or silence") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-empty").toString
    new java.io.File(s"$base/landing").mkdirs()
    val log = new CommandLog(spark, None)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(landing = s"$base/landing", dbs = Map.empty,
        checkpointRoot = s"$base/ckpt",
        sigStorePath = s"$base/sigs", dedupOut = s"$base/pairs",
        annStorePath = s"$base/ann"),
      log, SystemClock)
    assert(report.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "skipped_no_db",
      "dedup_ingest" -> "skipped_empty",
      "ann_ingest" -> "skipped_empty",
      "forget_queue" -> "skipped_empty",
      "ann_maintain" -> "skipped_empty",
      "oov_qc" -> "skipped_empty",
      "table_compact" -> "skipped_empty"), report.stages.mkString("\n"))
  }

  test("ingest source probe: empty documents/ and embeddings/ dirs " +
      "skip both ingest stages with nothing written; a PARTITIONED " +
      "landing (date=.../x.parquet) reaches both streams") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft-arrival-probe").toString
    val landing = s"$base/landing"
    Files.createDirectories(Paths.get(s"$landing/documents"))
    Files.createDirectories(Paths.get(s"$landing/embeddings"))
    val cfg = ArrivalConfig(landing = landing, dbs = Map.empty,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    def statuses(r: graft.scheduler.ArrivalReport) =
      r.stages.map(st => st.stage -> st.status).toMap
    // 1. landing dirs exist but are empty: no schema-inference crash,
    // no batch processed, no store bootstrapped
    val quiet = ArrivalPass.run(spark, cfg, new CommandLog(spark, None),
      SystemClock)
    assert(statuses(quiet)("dedup_ingest") === "skipped_empty")
    assert(statuses(quiet)("ann_ingest") === "skipped_empty")
    for (p <- Seq("pairs", "sigs", "ann"))
      assert(!Files.exists(Paths.get(s"$base/$p")), s"$p written")
    // 2. arrivals land under a partition subdir: the recursive probe
    // finds them and both streams ingest them
    def landUnder(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$base/stage-$dir"
      df.coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(s"$landing/$dir/date=2026-01-01"))
      Files.copy(Paths.get(part),
        Paths.get(s"$landing/$dir/date=2026-01-01/arrival-1.parquet"))
    }
    landUnder("documents", Seq((1L, "alpha beta alpha beta"),
      (2L, "alpha beta alpha beta"), (3L, "gamma delta gamma"))
      .toDF("doc_id", "text"))
    landUnder("embeddings", (1L to 40L).map(i => (i, (0 until 8).map(d =>
        ((i * 31 + d * 17) % 13).toFloat / 64f)))
      .toDF("vec_id", "embedding"))
    val ran = ArrivalPass.run(spark, cfg, new CommandLog(spark, None),
      SystemClock)
    assert(statuses(ran)("dedup_ingest") === "ran", ran.stages.mkString("\n"))
    assert(statuses(ran)("ann_ingest") === "ran", ran.stages.mkString("\n"))
    assert(spark.read.parquet(s"$base/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
    val store = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    assert(store.load().get.count() === 40L)
    assert(store.centroids.nonEmpty)
  }

  test("stage isolation: a FAILED stage (corrupt vector feed) is " +
      "captured with an error audit row and the pass CONTINUES — a " +
      "broken feed must not block document QC (CE:204-222 contract)") {
    val (base, dbs) = fixture()
    // replace the vector landing with garbage bytes that pass the
    // landed-file probe but fail parquet schema inference
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/landing/embeddings"),
      true)
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$base/landing/embeddings/junk.parquet"), true)
    out.writeBytes("this is not parquet"); out.close()
    val log = new CommandLog(spark, None)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(
        landing = s"$base/landing", dbs = dbs,
        checkpointRoot = s"$base/ckpt3", sigStorePath = s"$base/sigs3",
        dedupOut = s"$base/pairs3", annStorePath = s"$base/ann3"),
      log, SystemClock)
    assert(report.stages.map(s => s.stage -> s.status) === Seq(
      "integrity_incremental" -> "ran",
      "dedup_ingest" -> "ran",
      "ann_ingest" -> "failed",
      "forget_queue" -> "skipped_empty",
      "ann_maintain" -> "skipped_empty", // no index was ever built
      "oov_qc" -> "ran",
      "table_compact" -> "skipped_empty"), report.stages.mkString("\n"))
    // the failure is a real audit row with the error captured
    val failRow = log.entries.find(e =>
      e.command_type == "ARRIVAL_STAGE" && e.object_name == "ann_ingest")
      .get
    assert(failRow.error_number === Some(50000))
    assert(failRow.error_message.isDefined)
    // and the document-side work still happened
    assert(spark.read.parquet(s"$base/ckpt3/oov").count() === 2L)
  }

  test("table_compact stage: the pass's opt-in IndexOptimize half — " +
      "fragmented resident dir tables merge under the same nightly " +
      "budget, rows survive, and the next pass's incremental tier " +
      "picks the merged files up as new (self-healing re-check)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-compact").toString
    // a fragmented resident table: 4 small files, all below target
    val residentDocs = (1L to 40L).map { i =>
      (i, "web", s"resident document number $i body")
    }.toDF("doc_id", "source", "text")
    residentDocs.repartition(4).write
      .parquet(s"$base/db/documents.parquet")
    new java.io.File(s"$base/landing").mkdirs()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map("corpus" -> s"$base/db"),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann",
      compactTargetBytes = Some(64L * 1024 * 1024))
    val report = ArrivalPass.run(spark, cfg, log, SystemClock)
    val tc = report.stages.find(_.stage == "table_compact").get
    assert(tc.status === "ran")
    assert(tc.detail.contains("merged=1"), tc.detail)
    // rows survive the rewrite, and the directory converged to fewer
    // files
    assert(spark.read.parquet(s"$base/db/documents.parquet").count()
      === 40L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$base/db/documents.parquet"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(nFiles === 1, s"expected one merged file, found $nFiles")
    // next pass: the merged file is NEW to the integrity checkpoint —
    // re-validated (the self-healing double-check of exactly the
    // rewritten rows), and a further compaction is a no-op
    val report2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    assert(report2.stages.head.status === "ran")
    val sums = spark.read.parquet(
      s"$base/ckpt/integrity/corpus/documents/summaries")
    assert(sums.agg(org.apache.spark.sql.functions.sum("rows_checked"))
      .first().getLong(0) >= 80L) // originals (pass 1) + merged (pass 2)
    val tc2 = report2.stages.find(_.stage == "table_compact").get
    assert(tc2.detail.contains("merged=0"))
    // the now-healthy table (one merged file) never reaches the
    // planner: the driver-side precheck skips its lease + plan job
    // (round-15 quiet-night polish) and the detail says so
    assert(tc2.detail.contains("healthy=1"), tc2.detail)
  }

  test("overlapping passes are refused LOUDLY by the pass-level " +
      "lease (the reference's scheduler never overlaps a job with " +
      "itself); a stale lock — dead holder — frees the next pass") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-lock").toString
    new java.io.File(s"$base/landing").mkdirs()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeLock(ts: Long): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$base/ckpt.lock"), true)
      out.writeBytes(s"running-pass $ts\n"); out.close()
    }
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = Map.empty,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    val log = new CommandLog(spark, None)
    // a LIVE lock (another pass mid-run): refused at entry, nothing ran
    writeLock(System.currentTimeMillis())
    val e = intercept[IllegalStateException](
      ArrivalPass.run(spark, cfg, log, SystemClock))
    assert(e.getMessage.contains("another arrival pass"), e.getMessage)
    assert(log.entries.isEmpty, "a refused pass must not audit stages")
    // a STALE lock (crashed pass, heartbeat older than the 2 h TTL):
    // the next pass breaks it and runs
    writeLock(System.currentTimeMillis() - 2L * 60 * 60 * 1000 - 60000)
    val report = ArrivalPass.run(spark, cfg, log, SystemClock)
    assert(report.stages.nonEmpty)
    // and the lease was released on exit — a THIRD pass runs freely
    val report2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    assert(report2.stages.nonEmpty)
  }

  test("--print-schedule with --arrival emits the composed crontab " +
      "line carrying every store/budget argument it was given") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      Main.main(Array("--print-schedule",
        "--db", "corpus=/data/corpus",
        "--arrival", "/data/landing",
        "--time-limit", "3600",
        "--checkpoint", "/state/ckpt",
        "--sig-store", "/state/sigs",
        "--dedup-out", "/state/pairs",
        "--ann-store", "/state/ann",
        "--max-files-per-batch", "500",
        "--compact-tables", "268435456",
        "--compact", "/data/corpus/events.parquet",
        "--target-bytes", "134217728"))
    }
    val out = buf.toString("UTF-8")
    val line = out.linesIterator
      .find(_.contains("--arrival /data/landing"))
      .getOrElse(fail(s"no composed arrival line in:\n$out"))
    assert(line.startsWith("37 2 * * * "))
    for (frag <- Seq("--db corpus=/data/corpus",
        "--checkpoint /state/ckpt", "--sig-store /state/sigs",
        "--dedup-out /state/pairs", "--ann-store /state/ann",
        "--max-files-per-batch 500", "--compact-tables 268435456",
        "--time-limit 3600"))
      assert(line.contains(frag), s"missing $frag in: $line")
    // a given --time-limit must ride EVERY echoed job (the printer's
    // never-drop-a-flag contract): the nightly full pass and the
    // 15-minute incremental line both carry it
    val nightly = out.linesIterator.find(_.startsWith("17 1 * * * ")).get
    val inc = out.linesIterator.find(_.startsWith("*/15 * * * * ")).get
    assert(nightly.contains("--time-limit 3600"), nightly)
    assert(inc.contains("--time-limit 3600"), inc)
    // --max-files-per-batch rides the incremental line too (round-15
    // fix: the run path honored it since round 14 but the flag matrix
    // rejected the combination and the echo dropped it)
    assert(inc.contains("--max-files-per-batch 500"), inc)
    // the WHOLE maintenance surface is echoed (MS:7821 ff. creates the
    // IndexOptimize job too): a given --compact produces the weekly
    // compaction line, carrying its target size AND the time limit
    val compactLine = out.linesIterator
      .find(_.startsWith("47 3 * * 0 "))
      .getOrElse(fail(s"no compaction job line in:\n$out"))
    for (frag <- Seq("--compact /data/corpus/events.parquet",
        "--target-bytes 134217728", "--time-limit 3600"))
      assert(compactLine.contains(frag), s"missing $frag in: $compactLine")
    // the deliberate two-tier double coverage is documented in the
    // printed comment, not left for the operator to discover
    assert(out.contains("double coverage"), out)
    // ...and so is the takedown queue: the operator learns WHERE to
    // file a takedown from the installed schedule itself
    assert(out.contains("forget_queue") &&
      out.contains("/data/landing/forget"), out)
  }

  test("forget_queue lifecycle (round-16 verdict #1): a takedown file " +
      "dropped into <landing>/forget is propagated by the NEXT pass — " +
      "per-file Forget.run, context-stamped FORGET audit rows, durable " +
      "outcome record — the pass after that is quiet, and a later " +
      "doc-only file touches only the doc tiers") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = dbs,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    // pass 1: ingest the landing; the queue dir does not exist yet
    val r1 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f1 = r1.stages.find(_.stage == "forget_queue").get
    assert(f1.status === "skipped_empty" &&
      f1.detail.contains("no takedown files"), f1.toString)
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    val ann = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    assert(sig.load().get.count() === 15L)
    assert(ann.load().get.count() === 80L)

    // a takedown is FILED during the day: one id-parquet file carrying
    // both columns lands in the queue (the --print-schedule contract)
    Seq((101L, 5L), (103L, 7L)).toDF("doc_id", "vec_id")
      .coalesce(1).write.parquet(s"$base/landing/forget")

    // pass 2 (the nightly run): the queue drains — per-file Forget.run
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    assert(f2.detail.contains("files=1") &&
      f2.detail.contains("sig_rows=2") &&
      f2.detail.contains("ann_vectors=2"), f2.detail)
    // round-18 verdict #1: the COMMITTED request file is archived at
    // the drain tail — the queue dir stops accruing O(history) listing
    // work — and the move is reported on the stage row
    assert(f2.detail.contains("archived=1 drained file(s)"), f2.detail)
    val archivedDir = new java.io.File(s"$base/landing/forget/_archived")
    assert(archivedDir.isDirectory &&
      archivedDir.listFiles().exists(_.getName.endsWith(".parquet")),
      "drained takedown file not moved to _archived/")
    // the stores no longer hold the forgotten ids
    assert(sig.load().get
      .filter($"doc_id".isin(101L, 103L)).count() === 0L)
    assert(sig.load().get.count() === 13L)
    assert(ann.load().get
      .filter($"vec_id".isin(5L, 7L)).count() === 0L)
    // the pair sink holds no forgotten endpoint
    assert(spark.read.parquet(s"$base/pairs")
      .filter($"doc_a".isin(101L, 103L) || $"doc_b".isin(101L, 103L))
      .count() === 0L)
    // ann_maintain ran AFTER the forget against the re-armed watermark:
    // a measured pass, never a stale quiet skip
    val m2 = r2.stages.find(_.stage == "ann_maintain").get
    assert(m2.status === "ran" &&
      !m2.detail.contains("unchanged since batch"), m2.toString)
    // FORGET audit rows context-stamped with the queue file + batch
    val forgetRows = log.entries.filter(_.command_type == "FORGET")
    assert(forgetRows.size === 3, forgetRows.map(_.object_name).toString)
    assert(forgetRows.forall(_.command.contains("queue file=")),
      forgetRows.map(_.command).mkString("\n"))
    // durable per-request outcome record under the checkpoint root
    val outcomes = spark.read.parquet(s"$base/ckpt/forget")
    assert(outcomes.count() === 1L)
    val o = outcomes.head()
    assert(o.getAs[Long]("sig_rows") === 2L &&
      o.getAs[Long]("ann_rows") === 2L, o.toString)

    // pass 3: the queue is quiet — the drained file was ARCHIVED at
    // pass 2's tail, so the dir holds no visible data files at all and
    // the pass pays the cheapest skip (empty-dir probe, no checkpoint
    // read, no per-historical-file listing); stores untouched. A
    // relocated file never re-plans: the drain below sees only the new
    // doc-only file (files=1).
    val r3 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f3 = r3.stages.find(_.stage == "forget_queue").get
    assert(f3.status === "skipped_empty" &&
      f3.detail.contains("no takedown files"), f3.toString)
    assert(sig.load().get.count() === 13L)

    // a second, DOC-ONLY takedown file: only the doc tiers are touched
    // (the merged queue schema routes per file by its non-null counts)
    Seq(Tuple1(105L)).toDF("doc_id")
      .coalesce(1).write.mode("append").parquet(s"$base/landing/forget")
    val r4 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f4 = r4.stages.find(_.stage == "forget_queue").get
    assert(f4.status === "ran", f4.toString)
    assert(f4.detail.contains("files=1") &&
      f4.detail.contains("sig_rows=1") &&
      f4.detail.contains("ann_vectors=0"), f4.detail)
    assert(sig.load().get.count() === 12L)
    assert(ann.load().get.count() === 78L) // unchanged by the doc-only file
    // the second drain archives ITS file too; the first stays archived
    // (basename collisions get a numeric suffix, never an overwrite)
    assert(f4.detail.contains("archived=1 drained file(s)"), f4.detail)
    assert(archivedDir.listFiles()
      .count(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")) === 2,
      archivedDir.listFiles().map(_.getName).mkString(","))
  }

  test("forget_queue hard tier by FILE DROP: a queue file with " +
      "hard=true chains the forced ANN centroid retrain at the drain " +
      "tail — the legal-grade erasure needs no CLI run either") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = dbs,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    ArrivalPass.run(spark, cfg, log, SystemClock) // bootstraps stores
    val ann = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    val preCents = ann.centroids.sortBy(_._1).map(c => c._2.toSeq)
    // a HARD takedown is filed: vec ids + the hard flag
    Seq((10L, true), (11L, true)).toDF("vec_id", "hard")
      .coalesce(1).write.parquet(s"$base/landing/forget")
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    assert(f2.detail.contains("ann_vectors=2") &&
      f2.detail.contains("hard_retrains=1"), f2.detail)
    // the retrain really happened: FORGET-HARD audit row (at drain
    // tail, stamped with the queue file), outcome record carries the
    // request, centroid geometry re-tessellated, marker cleared
    assert(log.entries.exists(e => e.command_type == "FORGET" &&
      e.command.startsWith("FORGET-HARD") &&
      e.command.contains("queue file=") &&
      e.command.contains("drain tail")),
      log.entries.filter(_.command_type == "FORGET")
        .map(_.command).mkString("\n"))
    val o = spark.read.parquet(s"$base/ckpt/forget").head()
    assert(o.getAs[String]("hard_action") === "requested", o.toString)
    assert(!new java.io.File(s"$base/ckpt/forget_hard_pending").exists(),
      "hard marker not cleared after the drain-tail retrain")
    assert(ann.centroids.sortBy(_._1).map(_._2.toSeq) !== preCents,
      "centroids unchanged by the hard retrain")
    assert(ann.load().get.filter($"vec_id".isin(10L, 11L)).count() === 0L)
  }

  test("forget_queue hard tier, N hard files = ONE retrain (round-17 " +
      "verdict #1): a queue holding two hard files drains with " +
      "hard_retrains=1 and exactly one FORGET-HARD row at the drain " +
      "tail; the per-file FORGET ledger rows are unchanged") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = dbs,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    ArrivalPass.run(spark, cfg, log, SystemClock) // bootstraps stores
    val ann = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    // TWO hard takedowns filed the same day (separate request files)
    Seq((10L, true)).toDF("vec_id", "hard")
      .coalesce(1).write.mode("append").parquet(s"$base/landing/forget")
    Seq((11L, true)).toDF("vec_id", "hard")
      .coalesce(1).write.mode("append").parquet(s"$base/landing/forget")
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    assert(f2.detail.contains("files=2") &&
      f2.detail.contains("ann_vectors=2") &&
      f2.detail.contains("hard_retrains=1"), f2.detail)
    // exactly ONE FORGET-HARD row, context-stamped with BOTH files
    val hardRows = log.entries.filter(e => e.command_type == "FORGET" &&
      e.command.startsWith("FORGET-HARD"))
    assert(hardRows.size === 1,
      hardRows.map(_.command).mkString("\n"))
    assert(hardRows.head.command.contains("drain tail"),
      hardRows.head.command)
    // per-file FORGET ledger rows unchanged: one ANN-store row per file
    val annForgets = log.entries.filter(e =>
      e.command_type == "FORGET" && !e.command.startsWith("FORGET-HARD")
        && e.object_name == s"$base/ann")
    assert(annForgets.size === 2,
      annForgets.map(_.command).mkString("\n"))
    // both outcome records carry the request; both ids gone
    val outs = spark.read.parquet(s"$base/ckpt/forget")
      .select("hard_action").collect().map(_.getString(0))
    assert(outs.toSeq === Seq("requested", "requested"), outs.toSeq)
    assert(ann.load().get.filter($"vec_id".isin(10L, 11L)).count() === 0L)
    assert(!new java.io.File(s"$base/ckpt/forget_hard_pending").exists())
  }

  test("forget_queue hard-marker crash recovery: a pass that committed " +
      "a hard file's forget but died before the drain-tail retrain " +
      "leaves the marker; the NEXT pass runs the owed retrain even on " +
      "a quiet queue") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = dbs,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    ArrivalPass.run(spark, cfg, log, SystemClock) // bootstraps stores
    val ann = new graft.pipeline.IncrementalAnn.AnnIndexStore(
      spark, s"$base/ann")
    val preCents = ann.centroids.sortBy(_._1).map(c => c._2.toSeq)
    // simulate the crash window: the forget committed (checkpoint
    // advanced, store already scrubbed), the marker persisted, the
    // retrain never ran
    import spark.implicits._
    ann.withLease(ann.forget(Seq(10L, 11L).toDF("vec_id")))
    new java.io.File(s"$base/ckpt/forget_hard_pending").createNewFile()
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran" &&
      f2.detail.contains("hard_retrains=1") &&
      f2.detail.contains("recovered"), f2.toString)
    assert(log.entries.exists(e => e.command_type == "FORGET" &&
      e.command.startsWith("FORGET-HARD") &&
      e.command.contains("recovered pending marker")),
      log.entries.filter(_.command_type == "FORGET")
        .map(_.command).mkString("\n"))
    assert(ann.centroids.sortBy(_._1).map(_._2.toSeq) !== preCents,
      "recovered retrain did not re-tessellate")
    assert(!new java.io.File(s"$base/ckpt/forget_hard_pending").exists())
    // the pass after that is fully quiet again
    val r3 = ArrivalPass.run(spark, cfg, log, SystemClock)
    assert(r3.stages.find(_.stage == "forget_queue").get
      .status === "skipped_empty")
  }

  test("forget_queue absent-store guard (round-17 advice): a takedown " +
      "file draining against a missing store root FAILS without " +
      "advancing the checkpoint — the request is preserved and drains " +
      "once the store exists") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-absentstore").toString
    new java.io.File(s"$base/landing").mkdirs()
    Seq(Tuple1(101L)).toDF("doc_id")
      .coalesce(1).write.parquet(s"$base/landing/forget")
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(landing = s"$base/landing", dbs = Map.empty,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    // no documents ever ingested → no sig store on disk
    val r1 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f1 = r1.stages.find(_.stage == "forget_queue").get
    assert(f1.status === "failed" &&
      f1.detail.contains("does not exist") &&
      f1.detail.contains("checkpoint NOT advanced"), f1.toString)
    // documents land; the next pass's dedup_ingest bootstraps the sig
    // store, and forget_queue (later in the SAME pass) drains the
    // preserved request — proving the checkpoint never advanced
    Seq((101L, "web", "the quick brown fox doc one"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$base/landing/documents")
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran" && f2.detail.contains("files=1"),
      f2.toString)
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    assert(sig.load().get.filter($"doc_id" === 101L).count() === 0L)
  }

  test("forget_queue absent-store guard holds for a takedown file that " +
      "lands AFTER the drain's unseen-file probe: on a vanish-only " +
      "drain the stream's own listing still plans it, and its batch " +
      "fails the stage instead of committing as a silent no-op") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-latetakedown").toString
    val forgetDir = s"$base/landing/forget"
    val ckpt = s"$base/ckpt/forget_ckpt"
    (1L to 2L).foreach { i =>
      Seq(Tuple1(900L + i)).toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(forgetDir)
    }
    // drain the queue by hand to a deadline stop: one file commits, the
    // other is planned and refused, then vanishes with no compaction
    // record — so the next drain's unseen set is EMPTY (vanish-only)
    val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
    assert(graft.streaming.Streams.incrementalCheckById(spark, forgetDir,
      spark.read.parquet(forgetDir).schema,
      (b, _) => { clock.advance(60000L); b }, ckpt, s"$base/setup-out",
      deadline = Some(Instant.parse("2026-01-01T00:00:30Z")),
      clock = clock, maxFilesPerBatch = Some(1)).stoppedAtDeadline)
    val seen = graft.streaming.Streams.seenFiles(spark, ckpt)
    val pending = graft.streaming.Streams.listDataFiles(spark, forgetDir)
      .filterNot(seen.contains)
    assert(pending.size === 1, pending.toString)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(pending.head), false))
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(landing = s"$base/landing", dbs = Map.empty,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    // the takedown lands after the probe, before the stream lists the
    // queue; no documents were ever ingested, so no sig store exists
    val late = new java.util.concurrent.atomic.AtomicReference[String]()
    val r1 =
      try {
        graft.streaming.Streams.onPreDrainSnapshot = () =>
          if (late.get == null) {
            val before = graft.streaming.Streams
              .listDataFiles(spark, forgetDir).toSet
            Seq(Tuple1(101L)).toDF("doc_id")
              .coalesce(1).write.mode("append").parquet(forgetDir)
            late.set(graft.streaming.Streams.listDataFiles(spark, forgetDir)
              .filterNot(before.contains).head)
          }
        ArrivalPass.run(spark, cfg, log, SystemClock)
      } finally graft.streaming.Streams.onPreDrainSnapshot = () => ()
    assert(late.get != null, "the seam never ran")
    val f1 = r1.stages.find(_.stage == "forget_queue").get
    assert(f1.status === "failed" &&
      f1.detail.contains("does not exist") &&
      f1.detail.contains("checkpoint NOT advanced"), f1.toString)
    assert(graft.streaming.Streams.unseenFileList(spark, forgetDir, ckpt)
      === Seq(late.get))
    // documents land; dedup_ingest bootstraps the sig store and the
    // same pass's forget_queue drains the preserved request
    Seq((101L, "web", "the quick brown fox doc one"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$base/landing/documents")
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    assert(sig.load().get.filter($"doc_id" === 101L).count() === 0L)
  }

  test("forget_queue reports a takedown file that vanishes mid-drain: " +
      "it lands after the drain's pre-drain snapshot, is planned, and " +
      "is deleted before its batch processes — the batch commits, so " +
      "the detail's vanished_mid_drain is the request's one surfacing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-forgetmid").toString
    val forgetDir = s"$base/landing/forget"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(landing = s"$base/landing", dbs = Map.empty,
      timeLimitSeconds = Some(3600L),
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    // pass 1 bootstraps the signature store
    Seq((101L, "web", "the quick brown fox doc one"),
        (102L, "web", "a lazy dog sleeps in the sun"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$base/landing/documents")
    ArrivalPass.run(spark, cfg, log,
      new ManualClock(Instant.parse("2026-01-01T00:00:00Z")))
    // pass 2: one takedown is queued; a second lands in the
    // snapshot→planning window, future-dated so it forms the LAST
    // one-file batch, and is deleted at the first per-batch clock read
    // (admitBatch observes the clock because a deadline is set)
    Seq(Tuple1(101L)).toDF("doc_id")
      .coalesce(1).write.parquet(forgetDir)
    val victim = new java.util.concurrent.atomic.AtomicReference[String]()
    val landed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val manual = new ManualClock(Instant.parse("2026-01-02T00:00:00Z"))
    val clock = new graft.model.Clock {
      def now(): Instant = manual.now()
      override def observe(): Instant = {
        val f = victim.getAndSet(null)
        if (f != null)
          assert(fs.delete(new org.apache.hadoop.fs.Path(f), false))
        manual.observe()
      }
      override def elapsedMs(startNanos: Long): Long =
        manual.elapsedMs(startNanos)
    }
    val r2 =
      try {
        graft.streaming.Streams.onPreDrainSnapshot = () =>
          if (landed.compareAndSet(false, true)) {
            val before = graft.streaming.Streams
              .listDataFiles(spark, forgetDir).toSet
            Seq(Tuple1(102L)).toDF("doc_id")
              .coalesce(1).write.mode("append").parquet(forgetDir)
            val f = graft.streaming.Streams.listDataFiles(spark, forgetDir)
              .filterNot(before.contains).head
            fs.setTimes(new org.apache.hadoop.fs.Path(f),
              System.currentTimeMillis() + 3600000L, -1L)
            victim.set(f)
          }
        ArrivalPass.run(spark, cfg, log, clock)
      } finally graft.streaming.Streams.onPreDrainSnapshot = () => ()
    assert(landed.get && victim.get == null, "the victim was never deleted")
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    assert(f2.detail.contains("vanished_mid_drain=1"), f2.detail)
    assert(!f2.detail.contains("vanished_unexplained"), f2.detail)
    // the queued request drained; the vanished one never did
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs").load().get
    assert(sig.filter($"doc_id" === 101L).count() === 0L)
    assert(sig.filter($"doc_id" === 102L).count() > 0L)
  }

  test("forget_queue flags an all-null-id file loudly (round-17 " +
      "advice): a misspelled id column beside valid files is consumed " +
      "but surfaces EMPTY_NOOP_FILES in the stage detail, never a " +
      "silent clean pass") {
    val (base, dbs) = fixture()
    val log = new CommandLog(spark, None)
    val cfg = ArrivalConfig(
      landing = s"$base/landing", dbs = dbs,
      checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
      dedupOut = s"$base/pairs", annStorePath = s"$base/ann")
    ArrivalPass.run(spark, cfg, log, SystemClock) // bootstraps stores
    // a valid file and a misspelled one land the same day: the merged
    // schema carries doc_id (from the valid file), so the misspelled
    // file's doc_id cells read all-null
    Seq(Tuple1(101L)).toDF("doc_id")
      .coalesce(1).write.mode("append").parquet(s"$base/landing/forget")
    Seq(Tuple1(103L)).toDF("docid")
      .coalesce(1).write.mode("append").parquet(s"$base/landing/forget")
    val r2 = ArrivalPass.run(spark, cfg, log, SystemClock)
    val f2 = r2.stages.find(_.stage == "forget_queue").get
    assert(f2.status === "ran", f2.toString)
    assert(f2.detail.contains("files=2") &&
      f2.detail.contains("EMPTY_NOOP_FILES=1"), f2.detail)
    // the valid request still propagated
    val sig = new graft.pipeline.IncrementalDedup.SigStore(
      spark, s"$base/sigs")
    assert(sig.load().get.filter($"doc_id" === 101L).count() === 0L)
  }

  test("forget_queue with a malformed queue (readable parquet, neither " +
      "doc_id nor vec_id): the stage FAILS loudly with an error audit " +
      "row — a takedown request that cannot target anything must never " +
      "read as a clean pass — and the rest of the pass continues") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-badforget").toString
    new java.io.File(s"$base/landing").mkdirs()
    Seq(Tuple1("not-an-id-column")).toDF("who_knows")
      .coalesce(1).write.parquet(s"$base/landing/forget")
    val log = new CommandLog(spark, None)
    val report = ArrivalPass.run(spark,
      ArrivalConfig(landing = s"$base/landing", dbs = Map.empty,
        checkpointRoot = s"$base/ckpt", sigStorePath = s"$base/sigs",
        dedupOut = s"$base/pairs", annStorePath = s"$base/ann"),
      log, SystemClock)
    val f = report.stages.find(_.stage == "forget_queue").get
    assert(f.status === "failed", f.toString)
    assert(f.detail.contains("neither"), f.detail)
    val row = log.entries.find(e =>
      e.command_type == "ARRIVAL_STAGE" &&
        e.object_name == "forget_queue").get
    assert(row.error_number === Some(50000))
    // stage isolation held: later stages still reported
    assert(report.stages.map(_.stage).contains("table_compact"))
  }
}
