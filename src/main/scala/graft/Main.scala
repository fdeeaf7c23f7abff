package graft

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, DatabaseOrder, SystemClock}
import graft.scheduler.Scheduler
import graft.state.StateStore

/** CLI entry point (SURVEY.md §7.1 step 8). One flag selects the mode,
  * and [[modes]] lists the flags each mode accepts ([[usage]] is
  * rendered from it):
  *   - no mode flag: the full integrity pass (config → the scheduler);
  *   - `--report`: the reference's trailing inspection queries (ref
  *     IntegrityChecks_VLDB.sql:770-786);
  *   - `--incremental`: check only files landed since the last
  *     checkpoint, O(new files);
  *   - `--compact TABLE_DIR`: small-file compaction, the IndexOptimize
  *     analog;
  *   - `--arrival LANDING_DIR`: THE composed nightly pass — integrity,
  *     dedup ingest of `<landing>/documents`, ANN ingest of
  *     `<landing>/embeddings`, the takedown queue `<landing>/forget`,
  *     index maintenance, OOV QC and, with `--compact-tables`, resident
  *     table compaction, under ONE budget (see scheduler.ArrivalPass);
  *   - `--forget IDS_PARQUET`: on-demand takedown of a doc/vector id set;
  *   - `--print-schedule`: echo the crontab lines of the WHOLE
  *     maintenance surface (ref ola/MaintenanceSolution.sql:7821 ff.).
  *
  * [[parse]] checks a command line against the table before any Spark
  * session exists; `main` prints the error and the usage and exits 1.
  */
object Main {

  /** One row of the CLI table: the flags that select it, the flags it
    * requires, and the further flags it accepts. */
  private final case class Mode(key: Seq[String], requires: Seq[String],
      accepts: Seq[String]) {
    def flags: Seq[String] = key ++ requires ++ accepts
    def name: String =
      if (key.isEmpty) "the full pass" else key.mkString(" ")
  }

  private val fullPass = Seq("--db", "--databases", "--objects",
    "--time-limit", "--physical-only", "--no-data-purity", "--max-dop",
    "--concurrency", "--database-order", "--dry-run", "--state", "--log")

  /** The CLI as one table. A row's first key flag selects its mode:
    * `--print-schedule` outranks the flags it echoes, else the first
    * mode flag given wins, and none selects the full pass. A row keyed
    * on a second flag adds what rides along when that flag is given
    * too. A flag from another mode is an error, never a silent no-op
    * (the reference CLIs fail on unknown parameter combos).
    * `--print-schedule` takes only flags the echoed lines can CARRY:
    * silently dropping a given `--objects` from the printed jobs would
    * install a schedule that runs with different config than the
    * invocation specified. */
  private val modes: Seq[Mode] = Seq(
    Mode(Seq("--print-schedule"), Seq("--db"), Seq("--state", "--log",
      "--checkpoint", "--time-limit", "--max-files-per-batch")),
    Mode(Seq("--print-schedule", "--arrival"), Nil, Seq("--sig-store",
      "--dedup-out", "--ann-store", "--compact-tables")),
    Mode(Seq("--print-schedule", "--compact"), Nil, Seq("--target-bytes")),
    Mode(Seq("--compact"), Nil,
      Seq("--target-bytes", "--time-limit", "--dry-run")),
    // --time-limit rides along: a 15-minute cron pass must not overrun
    // its slot (IC:592's per-table budget check), and so does the
    // per-batch bound that gives the deadline its check points
    Mode(Seq("--incremental"), Seq("--db"), Seq("--checkpoint",
      "--time-limit", "--max-files-per-batch", "--log")),
    Mode(Seq("--arrival"), Nil, Seq("--db", "--time-limit",
      "--checkpoint", "--sig-store", "--dedup-out", "--ann-store",
      "--max-files-per-batch", "--compact-tables", "--log")),
    Mode(Seq("--forget"), Nil,
      Seq("--hard", "--sig-store", "--dedup-out", "--ann-store", "--log")),
    // the report reads only the state table, but takes the full pass's
    // flags so that a full-pass line with --report appended still runs
    Mode(Seq("--report"), Nil, fullPass),
    Mode(Nil, Nil, fullPass))

  /** Each value flag's placeholder; a flag not listed is a switch. */
  private val metavar = Map("--db" -> "name=dir", "--databases" -> "DSL",
    "--objects" -> "DSL", "--time-limit" -> "SECONDS", "--max-dop" -> "N",
    "--concurrency" -> "N", "--database-order" -> "POLICY",
    "--state" -> "PATH", "--log" -> "PATH", "--checkpoint" -> "ROOT",
    "--compact" -> "TABLE_DIR", "--target-bytes" -> "N",
    "--arrival" -> "LANDING_DIR", "--sig-store" -> "PATH",
    "--dedup-out" -> "PATH", "--ann-store" -> "PATH",
    "--max-files-per-batch" -> "N", "--compact-tables" -> "BYTES",
    "--forget" -> "IDS_PARQUET")

  private[graft] val usage: String = modes.map { m =>
    def spell(f: String) = f + metavar.get(f).fold("")(" " + _)
    val words = m.key.drop(1).map(spell) ++ m.requires.map(spell) ++
      m.accepts.map(f => s"[${spell(f)}]")
    if (m.key.size > 1) words.mkString("      with ", " ", "")
    else (m.key.map(spell) ++ words).mkString("  graft.Main ", " ", "")
  }.mkString("usage (one line per mode):\n", "\n", "")

  /** A parsed command line: the selected mode (a row's first key flag,
    * "" for the full pass), the flags given, and every value they bind
    * (defaults where a flag was not given). */
  private[graft] final case class Cli(
      mode: String = "",
      given: Seq[String] = Nil,
      dbs: Map[String, String] = Map.empty,
      cfg: CheckConfig = CheckConfig(),
      statePath: String = "/tmp/graft-state/state",
      logPath: Option[String] = None,
      compactDir: Option[String] = None,
      targetBytes: Long = 128L * 1024 * 1024,
      checkpointRoot: String = "/tmp/graft-incremental",
      sigStorePath: String = "/tmp/graft-sigstore/sigs",
      dedupOut: String = "/tmp/graft-dedup-pairs",
      annStorePath: String = "/tmp/graft-annstore/ann",
      arrivalDir: Option[String] = None,
      maxFilesPerBatch: Option[Int] = None,
      compactTables: Option[Long] = None,
      forgetPath: Option[String] = None,
      hard: Boolean = false)

  private def invalid(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** Parses `args` and checks them against [[modes]]; touches no Spark.
    * Throws IllegalArgumentException naming what is wrong. */
  def parse(args: Seq[String]): Cli = {
    val known = modes.flatMap(_.flags).toSet
    @tailrec def loop(c: Cli, rest: List[String]): Cli = rest match {
      case Nil => c
      case f :: _ if !known(f) => invalid(s"unknown arg $f")
      case f :: t if !metavar.contains(f) => loop(bind(c, f, ""), t)
      case f :: v :: t => loop(bind(c, f, v), t)
      case f :: Nil => invalid(s"$f requires a value")
    }
    val cli = loop(Cli(), args.toList)
    val given = cli.given.toSet
    val primary = cli.given.filter(modes.flatMap(_.key.headOption).toSet)
      .sortBy(_ != "--print-schedule").headOption
    val rows = modes.filter(m =>
      m.key.headOption == primary && m.key.forall(given))
    val name = Mode(rows.flatMap(_.key).distinct, Nil, Nil).name
    val stray = cli.given.filterNot(rows.flatMap(_.flags).toSet)
    if (stray.nonEmpty) invalid(s"$name does not accept " +
      stray.mkString(", ") + stray.map(f => s"$f goes with " +
        modes.filter(_.flags.contains(f)).map(_.name).mkString(" or "))
        .mkString(" (", "; ", ")"))
    rows.flatMap(_.requires).filterNot(given).foreach(f =>
      invalid(s"$name requires $f"))
    cli.copy(mode = primary.getOrElse(""))
  }

  private def bind(c0: Cli, flag: String, v: String): Cli = {
    def num[N](read: String => Option[N], positive: Boolean)(
        implicit n: Numeric[N]): N =
      read(v).filter(x => !positive || n.signum(x) > 0).getOrElse(invalid(
        s"$flag expects a${if (positive) " positive" else "n"} integer"))
    val c = if (c0.given.contains(flag)) c0
      else c0.copy(given = c0.given :+ flag)
    flag match {
      case "--db" => v.split("=", 2) match {
        case Array(n, d) if n.nonEmpty && d.nonEmpty =>
          c.copy(dbs = c.dbs + (n -> d))
        case _ => invalid("--db expects name=dir")
      }
      case "--databases" => c.copy(cfg = c.cfg.copy(databases = v))
      case "--objects" => c.copy(cfg = c.cfg.copy(objects = Some(v)))
      case "--time-limit" =>
        c.copy(cfg = c.cfg.copy(timeLimitSeconds =
          Some(num(_.toLongOption, false))))
      case "--physical-only" => c.copy(cfg = c.cfg.copy(physicalOnly = true))
      case "--no-data-purity" => c.copy(cfg = c.cfg.copy(dataPurity = false))
      case "--max-dop" =>
        c.copy(cfg = c.cfg.copy(maxDop = num(_.toIntOption, false)))
      // the reference's parallel queue sessions (SURVEY §2.11): N
      // independent per-table checks in flight; 1 = sequential loop
      case "--concurrency" =>
        c.copy(cfg = c.cfg.copy(concurrency = num(_.toIntOption, false)))
      case "--database-order" => c.copy(cfg = c.cfg.copy(databaseOrder =
        DatabaseOrder.parse(v).fold(invalid, identity)))
      case "--dry-run" => c.copy(cfg = c.cfg.copy(execute = false))
      case "--state" => c.copy(statePath = v)
      case "--log" => c.copy(logPath = Some(v))
      case "--checkpoint" => c.copy(checkpointRoot = v)
      case "--compact" => c.copy(compactDir = Some(v))
      case "--target-bytes" =>
        c.copy(targetBytes = num(_.toLongOption, true))
      case "--arrival" => c.copy(arrivalDir = Some(v))
      case "--sig-store" => c.copy(sigStorePath = v)
      case "--dedup-out" => c.copy(dedupOut = v)
      case "--ann-store" => c.copy(annStorePath = v)
      // the ingest streams' micro-batch bound = the per-batch deadline
      // check's granularity (see ArrivalConfig)
      case "--max-files-per-batch" =>
        c.copy(maxFilesPerBatch = Some(num(_.toIntOption, true)))
      // opt-in table_compact stage for the composed pass: small-file
      // compaction of resident dir tables at this target size
      case "--compact-tables" =>
        c.copy(compactTables = Some(num(_.toLongOption, true)))
      // takedown/retention propagation: a parquet file/dir whose doc_id
      // column drives the signature store + pair sink and whose vec_id
      // column drives the ANN index (either or both)
      case "--forget" => c.copy(forgetPath = Some(v))
      // the hard tier: erase statistical residue on demand — chain a
      // forced ANN centroid retrain over (corpus − forgotten) after the
      // forget, instead of waiting for drift to cross 0.10
      case "--hard" => c.copy(hard = true)
      case _ => c // mode switches: --report, --incremental, --print-schedule
    }
  }

  private def exitWithUsage(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println(usage)
    sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val cli = try parse(args.toSeq)
    catch { case e: IllegalArgumentException => exitWithUsage(e.getMessage) }
    if (cli.mode == "--print-schedule") return printSchedule(cli)
    val cpus = SessionDefaults.cpus()
    val spark = SessionDefaults(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")), cpus)
      .appName("graft").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    val code = cli.mode match {
      case "--forget" => forget(spark, cli)
      case "--arrival" => arrival(spark, cli)
      case "--compact" => compact(spark, cli)
      case "--incremental" => incremental(spark, cli)
      case "--report" => report(spark, cli)
      case _ => fullRun(spark, cli)
    }
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Exit 2 on data violations, 3 on execution errors — an unreadable
    * table must not look like a clean run (ref CE error capture). */
  private def exitCode(violations: Long, errors: Long): Int =
    if (violations > 0) 2 else if (errors > 0) 3 else 0

  /** A scheduler run's report lines and exit code. */
  private def summary(executed: Seq[String], skipped: Seq[(String, String)],
      violations: Long, errors: Long, notes: Seq[String] = Nil): Int = {
    executed.foreach(c => println(s"executed: $c"))
    skipped.foreach { case (o, why) => println(s"skipped: $o ($why)") }
    notes.foreach(println)
    println(s"violations: $violations")
    if (errors > 0) println(s"errors: $errors (checks failed to run)")
    exitCode(violations, errors)
  }

  /** The reference completes its install story by creating the SQL Agent
    * jobs (ref ola/MaintenanceSolution.sql:7821 ff.); the lake analog is
    * a cron/Airflow entry. Echo ready-to-paste crontab lines bound to
    * THIS invocation's arguments. */
  private def printSchedule(cli: Cli): Unit = {
    val dbArgs = cli.dbs.toSeq.sortBy(_._1)
      .map { case (n, p) => s"--db $n=$p" }.mkString(" ")
    val logArg = cli.logPath.fold("")(p => s" --log $p")
    val submit = "spark-submit --class graft.Main graft.jar"
    println("# graft scheduled-run bootstrap — paste into crontab -e")
    println("# (ref ola/MaintenanceSolution.sql:7821 ff.: the reference")
    println("#  creates SQL Agent jobs; on a lake the scheduler is cron)")
    // a given --time-limit rides EVERY echoed job (the printer's
    // never-drop-a-flag contract)
    val tlArg = cli.cfg.timeLimitSeconds.fold("")(s => s" --time-limit $s")
    println("# nightly full integrity pass (daily idempotence makes")
    println("# re-runs safe, ref IC:664-665):")
    println(s"17 1 * * * $submit $dbArgs --state ${cli.statePath}" +
      s"$tlArg$logArg")
    println("# arrived-data incremental check, every 15 minutes")
    println("# (O(new files) per pass — see --incremental; a given")
    println("# --time-limit rides along so the job cannot overrun")
    println("# its slot — IC:592's per-table budget check, and a")
    println("# given --max-files-per-batch bounds each table's")
    println("# micro-batches so the deadline has check points):")
    val mfbArg = cli.maxFilesPerBatch.fold("")(n =>
      s" --max-files-per-batch $n")
    println(s"*/15 * * * * $submit $dbArgs --incremental " +
      s"--checkpoint ${cli.checkpointRoot}$tlArg$mfbArg$logArg")
    cli.arrivalDir.foreach { landing =>
      // the COMPOSED nightly arrival pass (integrity + dedup ingest +
      // ANN ingest + OOV QC under one budget — see --arrival); the
      // echoed line carries every store/budget argument it was given,
      // so the installed job runs the configuration that was asked for
      println("# composed nightly arrival pass (one budget, admission")
      println("# control between stages — ref IC:505/592/677).")
      println("# Its forget_queue stage drains takedown requests")
      println(s"# (id-parquet files) from $landing/forget —")
      println("# file a takedown by DROPPING A FILE there; tonight's")
      println("# pass propagates it (the scheduled form of --forget).")
      println("# NOTE: its integrity stage and the */15 job above keep")
      println("# SEPARATE file-source checkpoints on purpose — the two")
      println("# jobs can run CONCURRENTLY (a long nightly pass")
      println("# overlaps the 15-minute cron) and a shared streaming")
      println("# checkpoint has no cross-process writer lock, so each")
      println("# tier owns its seen-set. Cost: an arrived file is")
      println("# CHECKTABLE'd once per tier — double coverage, never")
      println("# missed coverage.")
      val ctArg = cli.compactTables.fold("")(n => s" --compact-tables $n")
      println(s"37 2 * * * $submit $dbArgs --arrival $landing " +
        s"--checkpoint ${cli.checkpointRoot} --sig-store " +
        s"${cli.sigStorePath} --dedup-out ${cli.dedupOut} --ann-store " +
        s"${cli.annStorePath}$mfbArg$ctArg$tlArg$logArg")
    }
    cli.compactDir.foreach { dir =>
      // the missing third of the reference's maintenance surface
      // (MS:7821 ff. creates IntegrityCheck AND IndexOptimize jobs):
      // weekly small-file compaction of a lake table — the parquet
      // analog of the index-rebuild job. --time-limit rides along
      // (compact() checks the budget at every group head, IC:644)
      println("# weekly small-file compaction (the IndexOptimize-job")
      println("# analog, ref MS:7821 ff.; budget checked per merge")
      println("# group — see --compact):")
      println(s"47 3 * * 0 $submit --compact $dir " +
        s"--target-bytes ${cli.targetBytes}$tlArg")
    }
  }

  /** Takedown/retention propagation (round-15 verdict #1): remove a
    * doc/vector id set from every persisted store and the emitted pair
    * partitions, audited through the command log. The ids file is
    * parquet with a doc_id and/or vec_id column — its schema says which
    * tiers the request covers. */
  private def forget(spark: SparkSession, cli: Cli): Int = {
    val path = cli.forgetPath.get
    val ids = spark.read.parquet(path)
    val hasDocs = ids.columns.contains("doc_id")
    val hasVecs = ids.columns.contains("vec_id")
    if (!hasDocs && !hasVecs) exitWithUsage(
      s"--forget $path has neither a doc_id nor a vec_id " +
        "column; nothing to propagate")
    // a legally-binding takedown must not silently run against the
    // default /tmp store paths (round-16 advice): against a wrong or
    // absent path every tier reports rows=0 and the run "succeeds",
    // which an operator can mistake for a completed takedown. Each
    // covered tier's targets (the pair partitions are scrubbed too)
    // must be EXPLICIT, and the targeted store root must exist.
    val targets = (if (hasDocs) Seq("doc_id" -> "--sig-store",
      "doc_id" -> "--dedup-out") else Nil) ++
      (if (hasVecs) Seq("vec_id" -> "--ann-store") else Nil)
    targets.find(t => !cli.given.contains(t._2)).foreach { case (c, f) =>
      exitWithUsage(s"--forget $path carries $c: give $f PATH " +
        "explicitly — a takedown must name its targets, not fall back " +
        "to the default path")
    }
    def rootExists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    // only the STORE roots hard-fail when absent: a pair sink that
    // never emitted is a legitimate empty target (scrubPairs handles
    // it as ForgetReport(0,0)) — round-17 advice: a first takedown
    // on a deployment that never produced pairs must not be blocked
    // on creating an empty directory. It still warns loudly, since
    // a TYPO'd --dedup-out would silently skip the scrub.
    val absent =
      (if (hasDocs) Seq("--sig-store" -> cli.sigStorePath) else Nil) ++
      (if (hasVecs) Seq("--ann-store" -> cli.annStorePath) else Nil)
    absent.find(t => !rootExists(t._2)) match {
      case Some((f, p)) =>
        System.err.println(s"error: --forget target $f $p does not " +
          "exist — a takedown against a wrong path would report 0 " +
          "rows and look complete; fix the path (or create the store " +
          "root) and re-run")
        return 3
      case None =>
    }
    if (hasDocs && !rootExists(cli.dedupOut))
      System.err.println(s"warning: --dedup-out ${cli.dedupOut} does " +
        "not exist — treating it as a pair sink that never emitted " +
        "(scrub skipped, 0 pairs); if pairs WERE emitted elsewhere, " +
        "re-run with the right path")
    val logObj = new CommandLog(spark, cli.logPath)
    val docIdsOpt = if (hasDocs) Some(ids) else None
    val vecIdsOpt = if (hasVecs) Some(ids) else None
    val (out, hardAction) =
      if (cli.hard) {
        val (o, a) = pipeline.Forget.hard(spark, docIdsOpt, vecIdsOpt,
          cli.sigStorePath, cli.annStorePath, cli.dedupOut, logObj,
          SystemClock)
        (o, Some(a))
      } else (pipeline.Forget.run(spark, docIdsOpt, vecIdsOpt,
        cli.sigStorePath, cli.annStorePath, cli.dedupOut, logObj,
        SystemClock), None)
    logObj.flush()
    println(s"forgotten: sig_rows=${out.sig.rowsForgotten} " +
      s"(cells=${out.sig.cellsTouched}) " +
      s"pairs=${out.pairs.rowsForgotten} " +
      s"(batch_dirs=${out.pairs.cellsTouched}) " +
      s"ann_vectors=${out.ann.rowsForgotten} " +
      s"(cells=${out.ann.cellsTouched})")
    hardAction.foreach(a => println(s"hard: ann centroid retrain $a " +
      "(statistical residue re-tessellated over the surviving " +
      "corpus; the text classifier holds no persisted weights — " +
      "its next training IS the from-scratch train)"))
    // the retry obligation, stated where the operator reads it
    // (round-16 advice): a forget is not DONE until this line prints
    // — a crash mid-commit can transiently restore pre-forget
    // content until the re-run, which the idempotence makes safe
    println("takedown complete (a failed or interrupted run must be " +
      "re-run: forget is idempotent and converges on retry)")
    0
  }

  /** The composed nightly pass: integrity + dedup ingest + ANN ingest +
    * OOV QC over ONE landing zone under ONE time budget. */
  private def arrival(spark: SparkSession, cli: Cli): Int = {
    val logObj = new CommandLog(spark, cli.logPath)
    val report = scheduler.ArrivalPass.run(spark,
      scheduler.ArrivalConfig(
        landing = cli.arrivalDir.get,
        dbs = cli.dbs,
        timeLimitSeconds = cli.cfg.timeLimitSeconds,
        checkpointRoot = cli.checkpointRoot,
        sigStorePath = cli.sigStorePath,
        dedupOut = cli.dedupOut,
        annStorePath = cli.annStorePath,
        maxFilesPerBatch = cli.maxFilesPerBatch.getOrElse(1000),
        compactTargetBytes = cli.compactTables),
      logObj, SystemClock)
    logObj.flush()
    report.stages.foreach(s => println(
      f"stage ${s.stage}%-22s ${s.status}%-18s ${s.seconds}%7.2fs  " +
        s"${s.detail}"))
    println(s"violations: ${report.violations}")
    if (report.errors > 0)
      println(s"errors: ${report.errors} (checks failed to run)")
    val stageFailures = report.stages.count(_.status == "failed")
    if (stageFailures > 0)
      println(s"failed stages: $stageFailures (see audit log)")
    exitCode(report.violations, report.errors + stageFailures)
  }

  /** Maintenance mode (the IndexOptimize analog): print the plan
    * (dry-run echo, ref CE:197), then execute THE SAME SNAPSHOT unless
    * --dry-run — one listing feeds both, so the echo IS the plan run. */
  private def compact(spark: SparkSession, cli: Cli): Int = {
    val dir = cli.compactDir.get
    val files = maintenance.Compaction.tableFiles(spark, dir)
    maintenance.Compaction.plan(files, cli.targetBytes).collect()
      .foreach(r => println(s"plan: $r"))
    if (cli.cfg.execute) {
      // a given --time-limit is checked at every merge-group head
      // (IC:644); groups past the deadline stay for the next run.
      // The listing is re-taken AFTER the lease (by-name `files`
      // param): if a concurrent compactor finished between the echo
      // and the lock, the re-plan supersedes the echoed snapshot
      // instead of crashing on its merged-away members
      val r = maintenance.Compaction.compact(spark, dir,
        maintenance.Compaction.tableFiles(spark, dir),
        cli.targetBytes, deadline = cli.cfg.timeLimitSeconds
          .map(s => SystemClock.now().plusSeconds(s)))
      if (r.leaseSkipped)
        println("compacted: 0 group(s) — table lease held by " +
          "another compactor; re-run after it finishes")
      else println(s"compacted: ${r.merged} group(s)")
    } else println("dry-run: plan not executed")
    0
  }

  /** Arrived-data tier: O(new files) per pass (see IncrementalScheduler). */
  private def incremental(spark: SparkSession, cli: Cli): Int = {
    val logObj = new CommandLog(spark, cli.logPath)
    val r = scheduler.IncrementalScheduler.run(spark,
      new DirInventory(spark, cli.dbs), cli.checkpointRoot, logObj,
      SystemClock, deadline = cli.cfg.timeLimitSeconds
        .map(s => SystemClock.now().plusSeconds(s)),
      // same per-batch budget granularity as every other streaming
      // mode: with a --time-limit, a deep single-table backlog stops
      // at a batch boundary instead of draining past the deadline
      maxFilesPerBatch = cli.maxFilesPerBatch)
    logObj.flush()
    summary(r.executedCommands, r.skipped, r.violations, r.errors,
      if (r.quiet.isEmpty) Nil else Seq(s"quiet: ${r.quiet.size} " +
        "table(s) (checkpoint covers every landed file; streams skipped)"))
  }

  /** ref IC:770-786: the manual inspection queries. */
  private def report(spark: SparkSession, cli: Cli): Int = {
    val state = new StateStore(spark, cli.statePath).load()
    println("== state (most recent first) ==")
    state.sortBy(o => o.start_time.map(-_.getTime).getOrElse(0L))
      .foreach(o => println(
        f"${o.database_name}.${o.schema_name}.${o.object_name}%-40s " +
          f"execs=${o.number_of_executions}%3d " +
          f"avg=${o.avg_run_duration_ms}%6dms " +
          f"last=${o.last_check_date}"))
    val totalSec = state.map(_.run_duration_ms).sum / 1000.0
    println(f"== total recorded check time: $totalSec%.1f s ==")
    0
  }

  private def fullRun(spark: SparkSession, cli: Cli): Int = {
    val r = new Scheduler(spark, new DirInventory(spark, cli.dbs),
      new StateStore(spark, cli.statePath),
      new CommandLog(spark, cli.logPath), cli.cfg, SystemClock).run()
    summary(r.executedCommands, r.skipped, r.violations, r.errors)
  }
}
