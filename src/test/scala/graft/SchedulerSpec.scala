package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, ManualClock}
import graft.scheduler.{Policy, PolicySpec, Scheduler, SchedulerQueries}
import graft.state.StateStore
import graft.tables.Tables

/** End-to-end scheduler behavior with a deterministic clock
  * (SURVEY.md §7.2 minimum slice + §7.4 #2): dry-run command goldens,
  * daily idempotence on re-run, time-budget admission, halfway flip. */
class SchedulerSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val sfDir = "/root/testdata/sf0.001"
  val t0: Instant = Instant.parse("2026-08-12T10:00:00Z")

  def newScheduler(config: CheckConfig, clock: ManualClock,
      statePath: String): Scheduler =
    new Scheduler(spark, new DirInventory(spark, Map("testdb" -> sfDir)),
      new StateStore(spark, statePath), new CommandLog(spark, None),
      config, clock)

  def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sched").toString + "/state"

  /** PolicySpec's reference night on the scheduler queries' fixtures,
    * clock and config. */
  def policyNight(execute: Boolean): PolicySpec.Night =
    PolicySpec.night(spark,
      new DirInventory(spark, Map("testdb" -> SparkTestSession.sfDir)),
      Nil, SchedulerQueries.config(execute),
      new ManualClock(SchedulerQueries.FixedStart, tickMs = 10))

  test("dry-run golden: exact command list for a 2-object selection") {
    val cfg = CheckConfig(databases = "testdb",
      objects = Some("testdb.main.lineitem, testdb.main.orders"),
      execute = false, logToTable = false, maxDop = 4)
    val r = newScheduler(cfg, new ManualClock(t0, tickMs = 10), tmp()).run()
    // never-checked objects trigger the first-run heuristic (ref IC:602-604)
    // -> smallest table first: orders.parquet < lineitem.parquet in bytes
    assert(r.executedCommands === Seq(
      "CHECKALLOC [testdb] WITH NO_INFOMSGS, ALL_ERRORMSGS, MAXDOP = 4",
      "CHECKCATALOG [testdb] WITH NO_INFOMSGS",
      "CHECKTABLE [testdb].[main].[orders] WITH NO_INFOMSGS, " +
        "ALL_ERRORMSGS, DATA_PURITY, MAXDOP = 4",
      "CHECKTABLE [testdb].[main].[lineitem] WITH NO_INFOMSGS, " +
        "ALL_ERRORMSGS, DATA_PURITY, MAXDOP = 4"))
    assert(r.violations === 0L)
  }

  test("scheduler_dryrun matches the committed golden command list") {
    // the full fixture dry-run, gated file-exactly: any change to command
    // synthesis, selection, or ordering must consciously update the
    // committed golden (src/test/resources/golden_scheduler_dryrun.txt)
    val rows = graft.scheduler.SchedulerQueries.schedulerDryrun
      .run(spark, SparkTestSession.sfDir)
      .collect().sortBy(_.getInt(0))
    val got = rows.map(r => s"${r.getInt(0)}|${r.getString(1)}")
    val golden = scala.io.Source
      .fromResource("golden_scheduler_dryrun.txt").getLines().toSeq
      .filter(_.nonEmpty)
    assert(got.toSeq === golden)
    // and it is the policy's night
    assert(rows.map(_.getString(1)).toSeq ===
      policyNight(execute = false).executed)
  }

  test("incremental tier: second run touches only newly arrived files " +
      "and logs incremental commands") {
    import graft.scheduler.IncrementalScheduler
    val base = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val dbDir = s"$base/db"
    val cp = s"$base/checkpoints"
    // a directory-shaped table so files can arrive into it
    Tables.nation(spark, SparkTestSession.sfDir)
      .write.parquet(s"$dbDir/nation.parquet")
    val nBase = Tables.nation(spark, SparkTestSession.sfDir).count()

    val log = new CommandLog(spark, None)
    val clock = new graft.model.ManualClock(
      Instant.parse("2026-01-01T00:00:00Z"), tickMs = 10)
    val inv = new DirInventory(spark, Map("db" -> dbDir))
    val r1 = IncrementalScheduler.run(spark, inv, cp, log, clock)
    assert(r1.executedCommands ===
      Seq("CHECKTABLE INCREMENTAL [db].[main].[nation] WITH NO_INFOMSGS, " +
        "DATA_PURITY"))
    assert(r1.violations === 0L && r1.errors === 0L)
    val sums1 = spark.read.parquet(s"$cp/db/nation/summaries")
    assert(sums1.agg(org.apache.spark.sql.functions.sum("rows_checked"))
      .first().getLong(0) === nBase)

    // three rows arrive as a new file; the second run must validate ONLY
    // those (the checkpoint remembers the first generation)
    Tables.nation(spark, SparkTestSession.sfDir).limit(3)
      .write.mode("append").parquet(s"$dbDir/nation.parquet")
    val r2 = IncrementalScheduler.run(spark, inv, cp, log, clock)
    assert(r2.violations === 0L && r2.errors === 0L)
    val sums2 = spark.read.parquet(s"$cp/db/nation/summaries")
      .orderBy("batch_id").collect()
    assert(sums2.length === 2)
    assert(sums2.last.getAs[Long]("rows_checked") === 3L,
      "second pass re-validated already-checked files")
    // both passes flowed through the executor choke point into the log
    assert(log.entries.size === 2)
    assert(log.entries.forall(_.command.startsWith("CHECKTABLE INCREMENTAL")))
    assert(log.entries.forall(_.error_number === Some(0)))
  }

  test("incremental tier: an admitted table's drain stops AT the pass " +
      "deadline per micro-batch (IC:644) — the committed prefix " +
      "stands, and the next pass drains exactly the remainder") {
    import graft.scheduler.IncrementalScheduler
    val base = java.nio.file.Files.createTempDirectory("graft-incd").toString
    val dbDir = s"$base/db"
    val cp = s"$base/checkpoints"
    Tables.nation(spark, SparkTestSession.sfDir)
      .write.parquet(s"$dbDir/nation.parquet")
    val log = new CommandLog(spark, None)
    val clock = new graft.model.ManualClock(
      Instant.parse("2026-01-01T00:00:00Z"), tickMs = 10)
    val inv = new DirInventory(spark, Map("db" -> dbDir))
    // pass 1 (unbudgeted): bootstrap generation fully drained
    val r1 = IncrementalScheduler.run(spark, inv, cp, log, clock)
    assert(r1.executedCommands.size === 1 && r1.errors === 0L)
    val batches1 = spark.read.parquet(s"$cp/db/nation/summaries").count()

    // three files land; pass 2 runs one-file batches under a deadline
    // the heartbeat hook fires once at the table head and once per
    // micro-batch — expiring on the SECOND beat is "after the first
    // batch was admitted", i.e. mid-drain, not at admission
    (1 to 3).foreach { _ =>
      Tables.nation(spark, SparkTestSession.sfDir).limit(3)
        .write.mode("append").parquet(s"$dbDir/nation.parquet")
    }
    val beats = new java.util.concurrent.atomic.AtomicInteger(0)
    val deadline = clock.observe().plusMillis(10000L)
    val r2 = IncrementalScheduler.run(spark, inv, cp, log, clock,
      deadline = Some(deadline),
      heartbeat = () =>
        { if (beats.incrementAndGet() == 2) clock.advance(20000L); () },
      maxFilesPerBatch = Some(1))
    assert(r2.errors === 0L, r2.toString)
    val batches2 = spark.read.parquet(s"$cp/db/nation/summaries").count()
    assert(batches2 === batches1 + 1,
      s"exactly ONE of the three pending files must commit before the " +
        s"mid-drain deadline (got ${batches2 - batches1})")

    // pass 3 (fresh budget): the checkpoint holds the remainder — the
    // two leftover files drain, nothing is re-validated
    val r3 = IncrementalScheduler.run(spark, inv, cp, log, clock,
      maxFilesPerBatch = Some(1))
    assert(r3.errors === 0L)
    val sums = spark.read.parquet(s"$cp/db/nation/summaries")
      .orderBy("batch_id").collect()
    assert(sums.length === batches1 + 3)
    // the three arrival batches carry exactly 3 rows each — no row was
    // lost at the deadline boundary and none double-counted on resume
    assert(sums.drop(batches1.toInt).map(_.getAs[Long]("rows_checked"))
      .toSeq === Seq(3L, 3L, 3L))
  }

  test("incremental tier: quiet tables (checkpoint covers every landed " +
      "file) skip the stream spin-up entirely — ZERO Spark jobs — and " +
      "stay visible as one aggregated audit row, never a per-table " +
      "flood; a new arrival wakes the table") {
    import graft.scheduler.IncrementalScheduler
    val base = java.nio.file.Files.createTempDirectory("graft-incq").toString
    val dbDir = s"$base/db"
    val cp = s"$base/checkpoints"
    Tables.nation(spark, SparkTestSession.sfDir)
      .write.parquet(s"$dbDir/nation.parquet")
    val log = new CommandLog(spark, None)
    val clock = new graft.model.ManualClock(
      Instant.parse("2026-01-01T00:00:00Z"), tickMs = 10)
    val inv = new DirInventory(spark, Map("db" -> dbDir))
    // pass 1 streams the bootstrap generation
    val r1 = IncrementalScheduler.run(spark, inv, cp, log, clock)
    assert(r1.executedCommands.size === 1 && r1.quiet.isEmpty)

    // pass 2: nothing landed — the probe must keep Spark entirely idle
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val r2 =
      try {
        val r = IncrementalScheduler.run(spark, inv, cp, log, clock)
        Thread.sleep(500) // listener bus is async; let events drain
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(r2.executedCommands.isEmpty)
    assert(r2.quiet === Seq("db.main.nation"))
    assert(jobs.get() === 0,
      s"quiet pass ran ${jobs.get()} Spark job(s); the fast path must " +
        "not spin up the stream machinery")
    // one aggregated audit row for the whole quiet set — a skip is not
    // a failure (error columns stay null), and there is no per-table row
    val quietRows = log.entries.filter(_.extended_info.contains(
      "\"quiet\""))
    assert(quietRows.size === 1)
    assert(quietRows.head.object_name === "(quiet-tables)")
    assert(quietRows.head.extended_info.contains("\"tables\":1"))
    assert(quietRows.head.error_number.isEmpty &&
      quietRows.head.error_message.isEmpty)

    // an arrival wakes the table: pass 3 streams exactly the new file
    Tables.nation(spark, SparkTestSession.sfDir).limit(2)
      .write.mode("append").parquet(s"$dbDir/nation.parquet")
    val r3 = IncrementalScheduler.run(spark, inv, cp, log, clock)
    assert(r3.executedCommands.size === 1 && r3.quiet.isEmpty)
    val sums = spark.read.parquet(s"$cp/db/nation/summaries")
      .orderBy("batch_id").collect()
    assert(sums.last.getAs[Long]("rows_checked") === 2L)
  }

  test("incremental tier: IC:677 per-table predicted-cost admission — " +
      "a table whose persisted duration history predicts an overrun " +
      "of the remaining budget is skipped with a predicted>remaining " +
      "audit row; history-less tables still run, and an unbudgeted " +
      "pass ignores the gate") {
    import graft.scheduler.IncrementalScheduler
    val base = java.nio.file.Files.createTempDirectory("graft-inc677")
      .toString
    val dbDir = s"$base/db"
    val cp = s"$base/checkpoints"
    Tables.nation(spark, SparkTestSession.sfDir)
      .write.parquet(s"$dbDir/nation.parquet")
    Tables.region(spark, SparkTestSession.sfDir)
      .write.parquet(s"$dbDir/region.parquet")
    // seeded history: nation averages 600 s over 5 runs — far past a
    // 30 s budget; region has no history (always admitted)
    val statsP = new org.apache.hadoop.fs.Path(s"$cp/table_stats.json")
    val fs = statsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(statsP, true)
    out.writeBytes(
      """{"format":1,"stages":{"db.main.nation":{"n":5,"avg_ms":600000}}}""")
    out.close()
    val log = new CommandLog(spark, None)
    val inv = new DirInventory(spark, Map("db" -> dbDir))
    val r = IncrementalScheduler.run(spark, inv, cp, log,
      new graft.model.ManualClock(Instant.parse("2026-01-01T00:00:00Z"),
        tickMs = 1000),
      deadline = Some(Instant.parse("2026-01-01T00:00:30Z")))
    assert(r.executedCommands.size === 1 &&
      r.executedCommands.head.contains("[region]"), r.executedCommands)
    assert(r.skipped.size === 1)
    // the typed split (round-14 verdict #7): this refusal was the
    // IC:677 cost gate, not IC:592 time exhaustion
    assert(r.skippedCost === 1L && r.skippedTime === 0L)
    val (obj, why) = r.skipped.head
    assert(obj === "db.main.nation")
    assert(why.contains("predicted 600.0 s") && why.contains("IC:677"),
      why)
    // the refusal is a loud audit row, not a failure
    val row = log.entries.find(e =>
      e.object_name == "nation" &&
        e.extended_info.contains("admission_skipped")).get
    assert(row.extended_info.contains("predicted"), row.extended_info)
    assert(row.error_number.isEmpty && row.error_message.isEmpty)
    // the ran table fed the history (ManualClock's fixed 1000 ms fold)
    val in = fs.open(statsP)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(txt.contains(""""db.main.region":{"n":1,"avg_ms":1000}"""),
      txt)
    assert(txt.contains(""""db.main.nation":{"n":5,"avg_ms":600000}"""),
      txt)

    // no budget, no gate: the skipped table runs on the next
    // unbudgeted pass (and the quiet path leaves region alone)
    val r2 = IncrementalScheduler.run(spark, inv, cp, log,
      new graft.model.ManualClock(Instant.parse("2026-01-02T00:00:00Z"),
        tickMs = 1000))
    assert(r2.executedCommands.size === 1 &&
      r2.executedCommands.head.contains("[nation]"), r2.executedCommands)
    assert(r2.quiet === Seq("db.main.region"))
  }

  test("vanished-file reconciliation (round-14 advice): a planned-but-" +
      "uncommitted file that disappears WITHOUT a compaction record is " +
      "a VIOLATION with a vanished_files audit row, reported exactly " +
      "once; the same vanish WITH a compaction record is tolerated " +
      "silently (scoped ignoreMissingFiles, not blanket)") {
    import graft.scheduler.IncrementalScheduler
    import org.apache.spark.sql.functions.{count, lit}
    val base = java.nio.file.Files.createTempDirectory("graft-vanish")
      .toString
    val dbDir = s"$base/db"
    val cp = s"$base/checkpoints"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // two tables, each a 3-file backlog (one row per file so
    // maxFilesPerBatch=1 gives three one-file batches)
    for (t <- Seq("nation", "region"); _ <- 1 to 3)
      Tables(spark, sfDir, t).limit(1)
        .coalesce(1).write.mode("append").parquet(s"$dbDir/$t.parquet")

    // drive each table's check stream DIRECTLY to a mid-drain stop:
    // batches 0 and 1 commit (the clock advances 6 s per batch), batch
    // 2 is planned, then refused at its head by the 10 s deadline —
    // leaving one planned-but-uncommitted file in the offset log
    def midDrainStop(t: String): Unit = {
      val dir = s"$dbDir/$t.parquet"
      val clock = new ManualClock(Instant.parse("2026-01-01T00:00:00Z"))
      val stopped = graft.streaming.Streams.incrementalCheckById(spark,
        dir, spark.read.parquet(dir).schema,
        (b, _) => { clock.advance(6000L); b.agg(count(lit(1)).as("n")) },
        s"$cp/db/$t/_checkpoint", s"$cp/db/$t/summaries",
        deadline = Some(Instant.parse("2026-01-01T00:00:10Z")),
        clock = clock, maxFilesPerBatch = Some(1)).stoppedAtDeadline
      assert(stopped, s"$t's drain must stop at the deadline")
    }
    def pendingFile(t: String): String = {
      val dir = s"$dbDir/$t.parquet"
      val seen = graft.streaming.Streams.seenFiles(spark,
        s"$cp/db/$t/_checkpoint")
      val pending = graft.streaming.Streams.listDataFiles(spark, dir)
        .filterNot(seen.contains)
      assert(pending.size === 1, s"$t pending=$pending")
      pending.head
    }
    midDrainStop("nation"); midDrainStop("region")

    // nation's pending file VANISHES with no explanation (bug,
    // accidental delete); region's pending file is superseded by a
    // compaction record first (the legal removal class)
    val lostNation = pendingFile("nation")
    assert(fs.delete(new org.apache.hadoop.fs.Path(lostNation), false))
    val lostRegion = pendingFile("region")
    val recDir = new org.apache.hadoop.fs.Path(
      s"$dbDir/region.parquet/_graft_compacted")
    fs.mkdirs(recDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(recDir, "merge-test-0.json"), true)
    out.writeBytes(s"""{"merged": "$dbDir/region.parquet/merged-x.parquet", """ +
      s""""supersedes": ["$lostRegion"]}\n""")
    out.close()
    assert(fs.delete(new org.apache.hadoop.fs.Path(lostRegion), false))

    val log = new CommandLog(spark, None)
    val inv = new DirInventory(spark,
      Map("db" -> dbDir))
    val r = IncrementalScheduler.run(spark, inv, cp, log,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    // ONE violation: nation's unexplained vanish. Region's explained
    // vanish adds nothing.
    assert(r.violations === 1L, r.toString)
    assert(r.errors === 0L)
    val vrows = log.entries.filter(
      _.extended_info.contains("vanished_files"))
    assert(vrows.size === 1, vrows.map(_.extended_info).mkString("\n"))
    assert(vrows.head.object_name === "nation")
    assert(vrows.head.extended_info.contains("\"count\":1"))
    assert(vrows.head.extended_info.contains(lostNation),
      vrows.head.extended_info)
    // a vanish is data loss, not a failed check: error columns null
    assert(vrows.head.error_number.isEmpty &&
      vrows.head.error_message.isEmpty)

    // reported exactly ONCE: the flagged table replayed and COMMITTED
    // its planned batch (skipping the missing file), so the next pass
    // is clean and quiet — no repeat violation forever
    val log2 = new CommandLog(spark, None)
    val r2 = IncrementalScheduler.run(spark, inv, cp, log2,
      new ManualClock(Instant.parse("2026-01-03T00:00:00Z")))
    assert(r2.violations === 0L, r2.toString)
    assert(!log2.entries.exists(
      _.extended_info.contains("vanished_files")))
    assert(r2.quiet.contains("db.main.nation"), r2.toString)
  }

  test("a file that lands after the integrity drain's pre-drain " +
      "snapshot and vanishes before its batch processes commits with " +
      "that batch — the drain's mid-drain reconciliation makes it a " +
      "VIOLATION with a vanished_files audit row, reported once") {
    import graft.scheduler.IncrementalScheduler
    import graft.streaming.Streams
    val base = java.nio.file.Files.createTempDirectory("graft-midvanish")
      .toString
    val dbDir = s"$base/db"
    val table = s"$dbDir/nation.parquet"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables(spark, sfDir, "nation").limit(1)
      .coalesce(1).write.parquet(table)
    val inv = new DirInventory(spark, Map("db" -> dbDir))
    // the second file lands in the snapshot→planning window,
    // future-dated so it forms the LAST one-file micro-batch; the
    // heartbeat's first per-batch call (the per-table call comes
    // before the seam) deletes it between its planning and processing
    val victim = new java.util.concurrent.atomic.AtomicReference[String]()
    val deleted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val log = new CommandLog(spark, None)
    val r =
      try {
        Streams.onPreDrainSnapshot = () =>
          if (victim.get == null) {
            val before = Streams.listDataFiles(spark, table).toSet
            Tables(spark, sfDir, "nation").limit(1)
              .coalesce(1).write.mode("append").parquet(table)
            val f = Streams.listDataFiles(spark, table)
              .filterNot(before.contains).head
            fs.setTimes(new org.apache.hadoop.fs.Path(f),
              System.currentTimeMillis() + 3600000L, -1L)
            victim.set(f)
          }
        IncrementalScheduler.run(spark, inv, s"$base/cp", log,
          new ManualClock(Instant.parse("2026-01-01T00:00:00Z")),
          heartbeat = () =>
            if (victim.get != null && deleted.compareAndSet(false, true))
              assert(fs.delete(new org.apache.hadoop.fs.Path(victim.get),
                false)),
          maxFilesPerBatch = Some(1))
      } finally Streams.onPreDrainSnapshot = () => ()
    assert(r.violations === 1L, r.toString)
    assert(deleted.get, "the victim was never deleted")
    assert(r.errors === 0L)
    val vrows = log.entries.filter(
      _.extended_info.contains("vanished_files"))
    assert(vrows.size === 1, vrows.map(_.extended_info).mkString("\n"))
    assert(vrows.head.object_name === "nation")
    assert(vrows.head.extended_info.contains("\"count\":1") &&
      vrows.head.extended_info.contains(victim.get),
      vrows.head.extended_info)

    // the victim's batch committed: the next pass is quiet and clean
    val log2 = new CommandLog(spark, None)
    val r2 = IncrementalScheduler.run(spark, inv, s"$base/cp", log2,
      new ManualClock(Instant.parse("2026-01-02T00:00:00Z")))
    assert(r2.violations === 0L, r2.toString)
    assert(!log2.entries.exists(
      _.extended_info.contains("vanished_files")))
    assert(r2.quiet.contains("db.main.nation"), r2.toString)
  }

  test("scheduler_state_after_run and command_log match committed goldens") {
    // the two real-run inspection views are deterministic (fixed clock,
    // clean fixtures); gate them file-exactly like the dry-run so every
    // rows-only scheduler surface is consciously versioned
    val state = graft.scheduler.SchedulerQueries.schedulerStateAfterRun
      .run(spark, SparkTestSession.sfDir).collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}|" +
        s"${if (r.getBoolean(2)) "True" else "False"}|${r.getString(3)}|" +
        s"${r.getLong(4)}|" + r.getString(5))
      .sorted
    val goldenState = scala.io.Source
      .fromResource("golden_scheduler_state.txt").getLines().toSeq
      .filter(_.nonEmpty).sorted
    assert(state.toSeq === goldenState)
    val logRows = graft.scheduler.SchedulerQueries.schedulerCommandLog
      .run(spark, SparkTestSession.sfDir).collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|" +
        s"${r.get(2)}|${r.getString(3)}")
      .sorted
    val goldenLog = scala.io.Source
      .fromResource("golden_command_log.txt").getLines().toSeq
      .filter(_.nonEmpty).sorted
    assert(logRows.toSeq === goldenLog)
    // both are the policy's night on the same fixtures, clock and config
    val m = policyNight(execute = true)
    assert(state.toSeq === m.state.map(o => Seq(o.object_name,
        o.number_of_executions, if (o.active) "True" else "False",
        o.last_check_date, o.avg_run_duration_ms, o.command).mkString("|"))
      .sorted)
    assert(logRows.map(_.split('|')(1)).sorted.toSeq === m.executed.sorted)
  }

  test("incremental tier: entirely-null rows count as violations (8939)") {
    import graft.scheduler.IncrementalScheduler
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-incv").toString
    val dbDir = s"$base/db"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, "a"), Row(null, null), Row(2L, "b")),
        schema)
      .write.parquet(s"$dbDir/t.parquet")
    val log = new CommandLog(spark, None)
    val r = IncrementalScheduler.run(spark,
      new DirInventory(spark, Map("db" -> dbDir)), s"$base/cp", log,
      new graft.model.ManualClock(Instant.parse("2026-01-01T00:00:00Z"),
        tickMs = 10))
    assert(r.violations === 1L)
    assert(log.entries.head.error_number === Some(8939))
  }

  test("real run on clean fixtures: zero violations, stats recorded") {
    val statePath = tmp()
    val cfg = CheckConfig(databases = "testdb",
      objects = Some("testdb.main.lineitem"))
    val r = newScheduler(cfg, new ManualClock(t0, tickMs = 10), statePath).run()
    assert(r.violations === 0L)
    val li = r.state.find(_.object_name == "lineitem").get
    assert(li.number_of_executions === 1)
    assert(li.last_check_date.toLocalDate.toString === "2026-08-12")
    assert(li.command.startsWith("CHECKTABLE [testdb].[main].[lineitem]"))
    // state persisted: all 10 objects inventoried, 1 checked
    val persisted = new StateStore(spark, statePath).load()
    assert(persisted.size === 10)
    assert(persisted.count(_.number_of_executions > 0) === 1)
  }

  test("concurrent phase 2 equals the sequential pass (report + state)") {
    // the §2.11 parallel mode must change WALL CLOCK only: identical
    // command SET, submission-ordered executed list covering the same
    // tables, identical per-object state (executions, dates, commands),
    // identical violation/error tallies
    def run(conc: Int) = {
      val cfg = CheckConfig(databases = "testdb", concurrency = conc)
      newScheduler(cfg, new ManualClock(t0, tickMs = 10), tmp()).run()
    }
    val seq = run(1)
    val par = run(4)
    assert(par.executedCommands === seq.executedCommands,
      "submission order is the golden order, independent of concurrency")
    assert(par.violations === seq.violations)
    assert(par.errors === seq.errors)
    assert(par.skipped === seq.skipped)
    def key(s: Seq[graft.model.CheckObject]) = s.sortBy(_.object_name)
      .map(o => (o.object_name, o.number_of_executions, o.active,
        o.last_check_date.toLocalDate.toString, o.command))
    assert(key(par.state) === key(seq.state))
  }

  test("concurrent failure path: a check that throws on a pool thread " +
      "leaves state untouched, counts the error, and matches sequential") {
    import graft.catalog.{Inventory, InventoryRow}
    // existing-but-corrupt file: passes the TOCTOU probe, then the
    // CHECKTABLE action THROWS — on a POOL thread when concurrency > 1.
    // The fold must leave that table's state untouched (still due, zero
    // executions) while healthy tables record normally, and the whole
    // report must equal the sequential pass decision-for-decision.
    val corrupt = java.nio.file.Files.createTempFile("graft-cfail", ".parquet")
    java.nio.file.Files.write(corrupt, "not parquet at all".getBytes)
    val real = new DirInventory(spark, Map("testdb" -> sfDir))
    val inv = new Inventory {
      def databases(): Seq[String] = Seq("testdb")
      def objects(db: String): Seq[InventoryRow] =
        real.objects(db).filter(o =>
          Set("region", "nation")(o.object_name)) :+
          InventoryRow("testdb", "main", "corrupt", "U", 1L, corrupt.toString)
    }
    def run(conc: Int) = new Scheduler(spark, inv,
      new StateStore(spark, tmp()), new CommandLog(spark, None),
      CheckConfig(databases = "testdb", logToTable = false,
        concurrency = conc),
      new ManualClock(t0, tickMs = 10)).run()
    val seq = run(1)
    val par = run(4)
    assert(par.errors >= 1L, "the pool-thread throw must surface as error")
    val st = par.state.find(_.object_name == "corrupt").get
    assert(st.number_of_executions === 0L,
      "a thrown concurrent check must not count as an execution")
    assert(Policy.isDue(st, t0), "the table must remain due")
    // healthy tables completed and recorded despite the sibling failure
    Seq("region", "nation").foreach { n =>
      assert(par.state.find(_.object_name == n).get
        .number_of_executions === 1L, s"$n must record its run")
    }
    // full decision equality with the sequential pass (Clock contract)
    assert(par.executedCommands === seq.executedCommands)
    assert(par.skipped === seq.skipped)
    assert(par.violations === seq.violations)
    assert(par.errors === seq.errors)
    def key(s: Seq[graft.model.CheckObject]) = s.sortBy(_.object_name)
      .map(o => (o.object_name, o.number_of_executions, o.active,
        o.last_check_date.toString, o.avg_run_duration_ms, o.command))
    assert(key(par.state) === key(seq.state))
  }

  test("concurrent deadline cut: no submission after expiry, skipped list " +
      "identical to sequential while the semaphore is saturated") {
    // 10 fixture tables, 2 permits, 60s driver ticks against a 300s
    // budget: the deadline expires mid-queue while both pool slots are
    // occupied by real Spark actions. The driver must stop SUBMITTING at
    // exactly the same pick as the sequential loop (clock reads are
    // driver-only), report the db's tail as skipped, and still drain
    // in-flight checks before persisting state.
    def run(conc: Int) = {
      val cfg = CheckConfig(databases = "testdb", logToTable = false,
        timeLimitSeconds = Some(300), concurrency = conc)
      newScheduler(cfg, new ManualClock(t0, tickMs = 60000), tmp()).run()
    }
    val seq = run(1)
    val par = run(2)
    val parTables = par.executedCommands.filter(_.startsWith("CHECKTABLE"))
    assert(parTables.nonEmpty, "some tables must be admitted")
    assert(parTables.size < 10, "the budget must cut the run mid-queue")
    assert(par.skipped.exists(_._2.contains("time limit")),
      s"the tail must be reported skipped, got ${par.skipped}")
    assert(par.executedCommands === seq.executedCommands,
      "submission stops at the same pick at any concurrency")
    assert(par.skipped === seq.skipped)
    // every submitted check completed and recorded before state persisted
    assert(par.state.count(_.number_of_executions > 0) === parTables.size)
  }

  test("concurrent multi-database pass equals sequential (due-queue " +
      "snapshot under the fold lock)") {
    // two databases, 8 permits: database B's due queue is computed while
    // database A's pool checks may still be folding results — the locked
    // per-db snapshot must make the outcome identical to sequential, and
    // identical across repeated concurrent runs.
    def run(conc: Int) = {
      val inv = new DirInventory(spark, Map(
        "adb" -> "/root/testdata/sf0.001", "bdb" -> "/root/testdata/sf0.001"))
      val cfg = CheckConfig(databases = "ALL_DATABASES",
        logToTable = false, concurrency = conc)
      new Scheduler(spark, inv, new StateStore(spark, tmp()),
        new CommandLog(spark, None), cfg,
        new ManualClock(t0, tickMs = 10)).run()
    }
    def key(r: graft.scheduler.SchedulerReport) =
      (r.executedCommands, r.skipped, r.violations, r.errors,
        r.state.sortBy(o => (o.database_name, o.object_name))
          .map(o => (o.database_name, o.object_name,
            o.number_of_executions, o.last_check_date.toString,
            o.avg_run_duration_ms)))
    val seq = key(run(1))
    val runs = (1 to 3).map(_ => key(run(8)))
    runs.foreach(r => assert(r === seq,
      "concurrent multi-db pass must equal the sequential pass"))
  }

  test("daily idempotence: same-day re-run does no table work (ref IC:665)") {
    val statePath = tmp()
    val cfg = CheckConfig(databases = "testdb",
      objects = Some("testdb.main.region"))
    newScheduler(cfg, new ManualClock(t0, tickMs = 10), statePath).run()
    val r2 = newScheduler(cfg,
      new ManualClock(t0.plusSeconds(3600), tickMs = 10), statePath).run()
    assert(!r2.executedCommands.exists(_.startsWith("CHECKTABLE")))
    // next day it is due again
    val r3 = newScheduler(cfg,
      new ManualClock(t0.plusSeconds(86400), tickMs = 10), statePath).run()
    assert(r3.executedCommands.exists(_.startsWith("CHECKTABLE")))
  }

  test("admission control skips work predicted to overrun (ref IC:677-680)") {
    val statePath = tmp()
    val store = new StateStore(spark, statePath)
    // seed state: one object with a 10-minute average, checked yesterday
    val seeded = StateStore.recordRun(
      graft.model.CheckObject.fresh(1, "testdb", "U", "main", "nation", "U", 5),
      "C", t0.minusSeconds(86400), t0.minusSeconds(86400).plusMillis(600000))
      .copy(avg_run_duration_ms = 600000L)
    store.save(Seq(seeded))
    val cfg = CheckConfig(databases = "testdb",
      objects = Some("testdb.main.nation"),
      timeLimitSeconds = Some(120)) // 2-min budget << 10-min predicted
    val r = newScheduler(cfg, new ManualClock(t0, tickMs = 10), statePath).run()
    assert(!r.executedCommands.exists(_.startsWith("CHECKTABLE")))
    assert(r.skipped.exists(_._2.contains("predicted duration")))
    // and the object stays unchecked (due tomorrow), not falsely marked
    val after = new StateStore(spark, statePath).load()
      .find(_.object_name == "nation").get
    assert(after.number_of_executions === 1) // unchanged from seed
  }

  test("halfway point flips to smallest-first (ref IC:647-668)") {
    val statePath = tmp()
    val store = new StateStore(spark, statePath)
    // majority of REAL inventory objects checked yesterday so the first-run
    // heuristic does NOT trigger; part + supplier stay never-checked
    val base = t0.minusSeconds(86400)
    val checkedOld = Seq("region", "nation", "customer", "orders", "lineitem",
      "events", "documents", "embeddings").zipWithIndex.map { case (n, i) =>
      StateStore.recordRun(
        graft.model.CheckObject.fresh(i + 1, "testdb", "U", "main", n, "U", 1),
        "C", base, base.plusMillis(1))
    }
    store.save(checkedOld)
    val cfg = CheckConfig(databases = "testdb",
      objects = Some("testdb.main.part, testdb.main.supplier"),
      timeLimitSeconds = Some(300))
    // clock: each DRIVER now() call advances 60s (executor stamps and
    // durations no longer tick — Clock's determinism contract), so the
    // flip check before the first table pick reads t0+240s, past the
    // 150s halfway mark -> smallest-first ordering must apply: supplier
    // (smaller) before part, whereas name order would pick part first.
    val clock = new ManualClock(t0, tickMs = 60000)
    val r = newScheduler(cfg, clock, statePath).run()
    val tableCmds = r.executedCommands.filter(_.startsWith("CHECKTABLE"))
    assert(tableCmds.nonEmpty)
    assert(tableCmds.head.contains("[supplier]"),
      s"expected smallest-first pick, got $tableCmds")
  }

  test("resumption: next-day run picks up where the budget cut off " +
      "(ref README.md:2 'picks up where it left off last time')") {
    val statePath = tmp()
    // Day 1: a budget that admits only SOME of the four selected tables.
    // Seed a small known average so admission control has a cost model;
    // the 30s tick burns the 150s budget after a few checks.
    val store = new StateStore(spark, statePath)
    val base = t0.minusSeconds(86400)
    val names = Seq("region", "nation", "supplier", "customer")
    store.save(names.zipWithIndex.map { case (n, i) =>
      StateStore.recordRun(
        graft.model.CheckObject.fresh(i + 1, "testdb", "U", "main", n, "U",
          i + 1),
        "C", base.minusSeconds(86400), base.minusSeconds(86400).plusMillis(10))
    })
    val objects = names.map(n => s"testdb.main.$n").mkString(", ")
    val cfg = CheckConfig(databases = "testdb", objects = Some(objects),
      timeLimitSeconds = Some(300))
    val r1 = newScheduler(cfg, new ManualClock(t0, tickMs = 30000),
      statePath).run()
    val day1 = r1.executedCommands.filter(_.startsWith("CHECKTABLE"))
    assert(day1.nonEmpty && day1.size < names.size,
      s"budget should cut the run mid-list, got $day1")
    // Day 2, fresh budget: the scheduler must check the tables day 1
    // NEVER REACHED before re-checking any table day 1 already covered
    // (oldest-last-check-date priority = resumption).
    val t1 = t0.plusSeconds(86400)
    val r2 = newScheduler(cfg, new ManualClock(t1, tickMs = 10),
      statePath).run()
    val day2 = r2.executedCommands.filter(_.startsWith("CHECKTABLE"))
    val day1Names = names.filter(n => day1.exists(_.contains(s"[$n]")))
    val missed = names.filterNot(day1Names.contains)
    val day2Order = names.filter(n => day2.exists(_.contains(s"[$n]")))
      .sortBy(n => day2.indexWhere(_.contains(s"[$n]")))
    assert(missed.forall(m => day2.exists(_.contains(s"[$m]"))),
      s"day 2 must reach the missed tables: missed=$missed day2=$day2")
    // every missed table is checked BEFORE any re-check of a day-1 table
    val firstRecheck = day2Order.indexWhere(day1Names.contains)
    val lastMissed = day2Order.lastIndexWhere(missed.contains)
    assert(lastMissed >= 0, s"missed tables never checked on day 2: $day2")
    if (firstRecheck >= 0)
      assert(lastMissed < firstRecheck,
        s"resumption order violated: $day2Order (missed=$missed)")
  }

  test("config validation rejects bad maxDop (ref IC:363-369)") {
    val cfg = CheckConfig(maxDop = 65)
    assert(cfg.validate().isLeft)
    intercept[IllegalArgumentException] {
      newScheduler(cfg, new ManualClock(t0), tmp()).run()
    }
  }

  test("DatabaseOrder policies order phase-1 work (ref DIC:1003-1089)") {
    import graft.model.DatabaseOrder
    // two "databases" over different-size fixture dirs
    def run(order: DatabaseOrder): Seq[String] = {
      val inv = new DirInventory(spark, Map(
        "small" -> "/root/testdata/sf0.001", "big" -> "/root/testdata/sf0.01"))
      val cfg = CheckConfig(databases = "ALL_DATABASES",
        objects = Some("%.main.region"), execute = false,
        logToTable = false, databaseOrder = order)
      val r = new Scheduler(spark, inv, new StateStore(spark, tmp()),
        new CommandLog(spark, None), cfg,
        new ManualClock(t0, tickMs = 10)).run()
      r.executedCommands.filter(_.startsWith("CHECKTABLE"))
    }
    assert(run(DatabaseOrder.NameAsc).map(_.contains("[big]")) ===
      Seq(true, false))
    assert(run(DatabaseOrder.NameDesc).map(_.contains("[small]")) ===
      Seq(true, false))
    assert(run(DatabaseOrder.SizeAsc).map(_.contains("[small]")) ===
      Seq(true, false))
    assert(run(DatabaseOrder.SizeDesc).map(_.contains("[big]")) ===
      Seq(true, false))
    // never-checked dbs tie on the 1900 sentinel -> name tiebreak
    assert(run(DatabaseOrder.LastGoodCheckAsc).map(_.contains("[big]")) ===
      Seq(true, false))
    assert(DatabaseOrder.parse("DATABASE_SIZE_ASC") ===
      Right(DatabaseOrder.SizeAsc))
    assert(DatabaseOrder.parse("bogus").isLeft)
  }

  test("unreadable table counts as an error, not a clean check") {
    import graft.catalog.{Inventory, InventoryRow}
    // an existing-but-corrupt file: passes the TOCTOU existence probe,
    // then the CHECKTABLE action throws mid-scan
    val corrupt = java.nio.file.Files.createTempFile("graft-corrupt", ".parquet")
    java.nio.file.Files.write(corrupt, "not parquet at all".getBytes)
    val inv = new Inventory {
      def databases(): Seq[String] = Seq("testdb")
      def objects(db: String): Seq[InventoryRow] = Seq(
        InventoryRow("testdb", "main", "corrupt", "U", 1L, corrupt.toString))
    }
    val cfg = CheckConfig(databases = "testdb", logToTable = false)
    val r = new Scheduler(spark, inv, new StateStore(spark, tmp()),
      new CommandLog(spark, None), cfg, new ManualClock(t0, tickMs = 10)).run()
    // CHECKALLOC flags the corrupt footer as a data violation (its job);
    // the CHECKTABLE scan then THROWS — that must surface as an error,
    // not be clamped into a clean result.
    assert(r.errors >= 1L, "the failed check must surface as an error")
    // and the errored check is NOT recorded as a completed run: the
    // table must stay due (not checked-today) with untouched stats
    val st = r.state.find(_.object_name == "corrupt").get
    assert(st.number_of_executions === 0L,
      "a thrown check must not count as an execution")
    assert(Policy.isDue(st, t0), "the table must remain due")
  }

  test("TOCTOU: object dropped between inventory and check is skipped " +
      "(ref DIC:1615-1635)") {
    import graft.catalog.{Inventory, InventoryRow}
    val real = new DirInventory(spark, Map("testdb" -> sfDir))
    // inventory reports one real table and one that disappears before the
    // check runs
    val ghost = InventoryRow("testdb", "main", "ghost", "U", 1L,
      "/tmp/graft-ghost-does-not-exist.parquet")
    val inv = new Inventory {
      def databases(): Seq[String] = Seq("testdb")
      def objects(db: String): Seq[InventoryRow] =
        real.objects(db).filter(_.object_name == "region") :+ ghost
    }
    val cfg = CheckConfig(databases = "testdb", logToTable = false)
    val r = new Scheduler(spark, inv, new StateStore(spark, tmp()),
      new CommandLog(spark, None), cfg, new ManualClock(t0, tickMs = 10)).run()
    assert(r.executedCommands.count(_.startsWith("CHECKTABLE")) === 1)
    assert(r.skipped.exists { case (obj, reason) =>
      obj.contains("ghost") && reason.contains("no longer exists") })
  }

  test("driver loop handles a 20k-table state in seconds (sorted queue)") {
    // the SCALE.md claim: scheduling is O(n log n) driver work, never an
    // argmin re-scan per pick (O(n²) — minutes at this size). Dry-run
    // (no check actions) + missing paths (every pick exits via the cheap
    // TOCTOU skip): the measured time is selector + reconcile + queue
    // mechanics, not Spark jobs.
    import graft.catalog.{Inventory, InventoryRow}
    val n = 20000
    val inv = new Inventory {
      def databases(): Seq[String] = Seq("bigdb")
      def objects(db: String): Seq[InventoryRow] =
        (0 until n).map(i => InventoryRow("bigdb", "main", f"t$i%05d", "U",
          (i * 37 % 1000).toLong + 1, s"/tmp/graft-missing-$i.parquet"))
    }
    val cfg = CheckConfig(databases = "bigdb", logToTable = false,
      execute = false)
    val t0ms = System.nanoTime()
    val r = new Scheduler(spark, inv, new StateStore(spark, tmp()),
      new CommandLog(spark, None), cfg,
      new ManualClock(t0, tickMs = 0)).run()
    val secs = (System.nanoTime() - t0ms) / 1e9
    assert(r.skipped.count(_._2.contains("no longer exists")) === n)
    assert(secs < 60.0, f"driver loop took $secs%.1f s for $n tables")
  }

  test("pinned manifest: a file appearing mid-run is invisible to BOTH " +
      "phases; the next run sees it (ref IC:519-571 snapshot)") {
    import graft.catalog.{Inventory, InventoryRow, TableManifest}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a directory table with one clean file; later a zero-byte intruder
    // and a NaN-carrying data file land "mid-run" (i.e. AFTER the
    // manifest was pinned). Phase 1 (CHECKALLOC zero-byte scan) and
    // phase 2 (CHECKTABLE NaN profile) must both report against the
    // pinned set -> zero violations; a FRESH run re-pins and flags both.
    val base = java.nio.file.Files.createTempDirectory("graft-manifest")
    val dbDir = s"$base/db"
    val tdir = s"$dbDir/t.parquet"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    spark.createDataFrame(
        java.util.Arrays.asList(Row(1L, 1.0), Row(2L, 2.0)), schema)
      .write.parquet(tdir)
    val real = new DirInventory(spark, Map("db" -> dbDir))
    // snapshot the manifest NOW (pre-intruder), then let the "writer"
    // land files; the wrapper serves the pinned snapshot, which is
    // exactly the state a live run holds after its inventory scan
    val pinnedRows = real.objects("db")
    val pinnedManifests = pinnedRows.map(r =>
      r.object_name -> TableManifest.capture(spark, r)).toMap
    val inv = new Inventory {
      def databases(): Seq[String] = Seq("db")
      def objects(db: String): Seq[InventoryRow] = pinnedRows
      override def manifest(s: org.apache.spark.sql.SparkSession,
          row: InventoryRow): TableManifest =
        pinnedManifests(row.object_name)
    }
    // the mid-run writer: a zero-byte part file + a NaN row file
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$tdir/part-intruder-zero.parquet"))
    spark.createDataFrame(
        java.util.Arrays.asList(Row(9L, Double.NaN)), schema)
      .coalesce(1).write.mode("append").parquet(tdir)
    val cfg = CheckConfig(databases = "db", logToTable = false)
    val r1 = new Scheduler(spark, inv, new StateStore(spark, tmp()),
      new CommandLog(spark, None), cfg,
      new ManualClock(t0, tickMs = 10)).run()
    assert(r1.violations === 0L && r1.errors === 0L,
      s"pinned run must not see mid-run files, got $r1")
    assert(r1.executedCommands.exists(_.startsWith("CHECKTABLE")))
    // a fresh run pins a NEW manifest: zero-byte file (CHECKALLOC) and
    // the NaN row (CHECKTABLE) are now in its universe
    val r2 = new Scheduler(spark, real, new StateStore(spark, tmp()),
      new CommandLog(spark, None), cfg,
      new ManualClock(t0, tickMs = 10)).run()
    assert(r2.violations >= 2L,
      s"re-pinned run must flag the intruders, got $r2")
  }

  test("drift: a second run against grown tables emits drift rows " +
      "(ref IC:56-61, 700-722 state-history trending)") {
    import graft.checks.Drift
    import graft.state.ProfileStore
    import org.apache.spark.sql.functions.col
    // "Night 1": the tables as a date-bounded subset (what the previous
    // nightly run saw); "night 2": the full fixtures after the new loads
    // arrived. Each run profiles its data and records it — the store
    // shuffles current→previous exactly like the reference's end-of-run
    // stat update — and the second run's comparison must flag the row
    // counts as drifted while the stable column means pass the band.
    val base = java.nio.file.Files.createTempDirectory("graft-drift")
    val night1 = base.toString + "/night1"
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") < "1999-01-01").write.parquet(
        s"$night1/lineitem.parquet")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < "1999-01-01").write.parquet(
        s"$night1/orders.parquet")
    Tables.events(spark, sfDir)
      .filter(col("ts") < "2024-01-21").write.parquet(
        s"$night1/events.parquet")
    val store = new ProfileStore(spark, base.toString + "/profiles")

    // run 1: nothing to compare against yet (empty previous generation)
    store.record(Drift.profile(spark, night1))
    assert(store.previous().count() === 0)

    // run 2: full fixtures; compare against run 1's persisted profile
    store.record(Drift.profile(spark, sfDir))
    val drift = Drift.compare(store.previous(), store.current()).collect()
    assert(drift.length === 7, "one row per (table, metric)")
    val drifted = drift.filter(_.getAs[Long]("is_drifted") == 1L)
      .map(r => (r.getString(0), r.getString(1))).toSet
    // every table grew past the 5% band...
    assert(Set(("lineitem", "n_rows"), ("orders", "n_rows"),
      ("events", "n_rows")).subsetOf(drifted))
    // ...while at least one column mean held (the band separates load
    // growth from shape change, not just "something differs")
    assert(drifted.size < drift.length)

    // and a third run on UNCHANGED data is all-quiet
    store.record(Drift.profile(spark, sfDir))
    val quiet = Drift.compare(store.previous(), store.current()).collect()
    assert(quiet.forall(_.getAs[Long]("is_drifted") == 0L))
  }
}
