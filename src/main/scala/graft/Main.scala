package graft

import org.apache.spark.sql.SparkSession

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, DatabaseOrder, SystemClock}
import graft.scheduler.Scheduler
import graft.state.StateStore

/** CLI entry point (SURVEY.md §7.1 step 8): bind config → run the
  * scheduler; `--report` prints the reference's trailing inspection
  * queries (state dump by StartTime desc + total duration,
  * ref IntegrityChecks_VLDB.sql:770-786).
  *
  * Usage:
  *   graft.Main --db name=dir [--db name2=dir2 ...]
  *     [--databases DSL] [--objects DSL] [--time-limit SECONDS]
  *     [--physical-only] [--no-data-purity] [--max-dop N]
  *     [--database-order POLICY] [--dry-run]
  *     [--state PATH] [--log PATH] [--report]
  *     [--print-schedule]                       (echo crontab lines for the
  *       nightly full pass + the 15-minute incremental pass — plus the
  *       composed arrival job when --arrival is given and the weekly
  *       compaction job when --compact is given: the WHOLE maintenance
  *       surface, the lake analog of ref ola/MaintenanceSolution.sql:7821
  *       ff. creating both the IntegrityCheck and IndexOptimize jobs)
  *     [--incremental [--checkpoint ROOT] [--time-limit S]
  *       [--max-files-per-batch N]]             (arrived-data mode: check
  *       only files landed since the last checkpoint — O(new files); the
  *       per-batch bound is the deadline check's granularity inside an
  *       admitted table's drain, same as every other streaming mode)
  *     [--compact TABLE_DIR --target-bytes N [--time-limit S]]
  *       (maintenance mode: plan is printed; executed unless --dry-run;
  *       a time limit is checked at every merge-group head — IC:644 —
  *       and the next run re-plans what was left)
  *     [--dedup-ingest DOCS_DIR [--sig-store PATH] [--dedup-out PATH]
  *       [--checkpoint ROOT] [--time-limit S]
  *       [--max-files-per-batch N]]             (arrival-dedup mode: new
  *       document files stream through IncrementalDedup against the
  *       persisted signature store — per batch, exactly the monolithic
  *       LSH pair set restricted to arriving docs, O(batch) work)
  *     [--ann-ingest VECS_DIR [--ann-store PATH] [--checkpoint ROOT]
  *       [--time-limit S] [--max-files-per-batch N]]
  *       (arrival-ANN mode: new vector files stream into the persisted
  *       IVF index — epoch 0 bootstraps (Lloyd training), later epochs
  *       assign against the frozen centroids, O(batch) work)
  *     [--arrival LANDING_DIR [--db ...] [--time-limit SECONDS]
  *       [--checkpoint ROOT] [--sig-store PATH] [--dedup-out PATH]
  *       [--ann-store PATH] [--max-files-per-batch N]
  *       [--compact-tables BYTES] [--log PATH]]
  *       (THE composed nightly pass:
  *       integrity + dedup ingest + ANN ingest + takedown-queue drain
  *       (id-parquet files under LANDING_DIR/forget — the scheduled
  *       form of --forget) + index maintenance +
  *       OOV QC — plus, with --compact-tables, small-file compaction
  *       of the resident dir tables — over one landing zone under ONE
  *       budget — see scheduler.ArrivalPass)
  */
object Main {

  /** One standalone ingest drain over `src`, its report printed through
    * the stage formatter. Schema inference needs a landed file: with
    * none, log a visible skip instead of dying in spark.read.parquet's
    * "unable to infer schema". */
  private def drainLanding(spark: SparkSession, src: String, what: String,
      normal: String)(
      run: org.apache.spark.sql.types.StructType =>
        streaming.Streams.DrainReport): Unit =
    if (streaming.Streams.listDataFiles(spark, src).nonEmpty)
      println(run(spark.read.parquet(src).schema).detail(normal))
    else println(s"no arrivals found under $src, skipping $what " +
      "stream (nothing ingested this run)")

  /** Arrival-ANN mode (the sim14 tier from the product entry point):
    * stream newly landed vector files into the persisted incremental
    * ANN index. */
  private[graft] def annIngestRun(spark: SparkSession, src: String,
      annStorePath: String, checkpointRoot: String,
      deadline: Option[java.time.Instant] = None,
      maxFilesPerBatch: Option[Int] = None): Unit = {
    drainLanding(spark, src, "ANN", s"index=$annStorePath") { schema =>
      streaming.Streams.incrementalAnnStream(spark, src, schema,
        annStorePath, checkpointRoot, deadline, SystemClock,
        maxFilesPerBatch)
    }
    val store = new pipeline.IncrementalAnn.AnnIndexStore(spark,
      annStorePath)
    store.load() match {
      case Some(df) =>
        println(s"indexed vectors: ${df.count()} (cumulative, under " +
          s"$annStorePath)")
      case None => println("indexed vectors: 0 (no batches processed yet)")
    }
  }

  /** Arrival-dedup mode (the dd16 tier from the product entry point):
    * stream newly landed document files through the persisted signature
    * store; pairs land under batch_id partitions. */
  private[graft] def dedupIngestRun(spark: SparkSession, src: String,
      sigStorePath: String, checkpointRoot: String,
      dedupOut: String,
      deadline: Option[java.time.Instant] = None,
      maxFilesPerBatch: Option[Int] = None): Unit = {
    drainLanding(spark, src, "dedup",
        s"store=$sigStorePath pairs under $dedupOut") { schema =>
      streaming.Streams.incrementalDedupStream(spark, src, schema,
        sigStorePath, checkpointRoot, dedupOut, deadline, SystemClock,
        maxFilesPerBatch)
    }
    val outP = new org.apache.hadoop.fs.Path(dedupOut)
    val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outP)) {
      val n = spark.read.parquet(dedupOut).count()
      println(s"pairs: $n (cumulative, under $dedupOut)")
    } else println("pairs: 0 (no batches processed yet)")
  }

  def main(args: Array[String]): Unit = {
    var dbs = Map.empty[String, String]
    var cfg = CheckConfig()
    var statePath = "/tmp/graft-state/state"
    var logPath: Option[String] = None
    var report = false
    var compactDir: Option[String] = None
    var targetBytes = 128L * 1024 * 1024
    var incremental = false
    var checkpointRoot = "/tmp/graft-incremental"
    var printSchedule = false
    var dedupSrc: Option[String] = None
    var sigStorePath = "/tmp/graft-sigstore/sigs"
    var dedupOut = "/tmp/graft-dedup-pairs"
    var annSrc: Option[String] = None
    var annStorePath = "/tmp/graft-annstore/ann"
    var arrivalDir: Option[String] = None
    var maxFilesPerBatch: Option[Int] = None
    var compactTables: Option[Long] = None
    var forgetPath: Option[String] = None
    var hardForget = false
    def usage(msg: String): Nothing = {
      System.err.println(s"error: $msg")
      System.err.println(
        "usage: graft.Main --db name=dir [--db name2=dir2 ...] " +
          "[--databases DSL] [--objects DSL] [--time-limit SECONDS] " +
          "[--physical-only] [--no-data-purity] [--max-dop N] " +
          "[--concurrency N] " +
          "[--database-order POLICY] [--dry-run] [--state PATH] " +
          "[--log PATH] [--report] [--print-schedule] " +
          "[--incremental [--checkpoint ROOT]] " +
          "[--compact TABLE_DIR --target-bytes N [--time-limit S]] " +
          "[--dedup-ingest DOCS_DIR [--sig-store PATH] " +
          "[--dedup-out PATH] [--checkpoint ROOT]] " +
          "[--ann-ingest VECS_DIR [--ann-store PATH] [--checkpoint ROOT]] " +
          "[--arrival LANDING_DIR [--db ...] [--time-limit SECONDS] " +
          "[--checkpoint ROOT] [--sig-store PATH] [--dedup-out PATH] " +
          "[--ann-store PATH] [--max-files-per-batch N] " +
          "[--compact-tables BYTES] [--log PATH]] " +
          "[--forget IDS_PARQUET [--hard] [--sig-store PATH] " +
          "[--dedup-out PATH] [--ann-store PATH] [--log PATH]]")
      sys.exit(1)
    }
    var i = 0
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def value(flag: String): String = {
      if (i + 1 >= args.length) usage(s"$flag requires a value")
      i += 1; args(i)
    }
    while (i < args.length) {
      seen += args(i)
      args(i) match {
        case "--db" =>
          value("--db").split("=", 2) match {
            case Array(n, d) if n.nonEmpty && d.nonEmpty => dbs += (n -> d)
            case _ => usage("--db expects name=dir")
          }
        case "--databases" => cfg = cfg.copy(databases = value("--databases"))
        case "--objects" => cfg = cfg.copy(objects = Some(value("--objects")))
        case "--time-limit" =>
          cfg = cfg.copy(timeLimitSeconds =
            Some(value("--time-limit").toLong))
        case "--physical-only" => cfg = cfg.copy(physicalOnly = true)
        case "--no-data-purity" => cfg = cfg.copy(dataPurity = false)
        case "--max-dop" => cfg = cfg.copy(maxDop = value("--max-dop").toInt)
        // the reference's parallel queue sessions (SURVEY §2.11): N
        // independent per-table checks in flight; 1 = sequential loop
        case "--concurrency" =>
          cfg = cfg.copy(concurrency = value("--concurrency").toInt)
        case "--database-order" =>
          cfg = cfg.copy(databaseOrder =
            DatabaseOrder.parse(value("--database-order"))
              .fold(usage, identity))
        case "--dry-run" => cfg = cfg.copy(execute = false)
        case "--incremental" => incremental = true
        case "--checkpoint" => checkpointRoot = value("--checkpoint")
        case "--print-schedule" => printSchedule = true
        case "--compact" => compactDir = Some(value("--compact"))
        case "--dedup-ingest" => dedupSrc = Some(value("--dedup-ingest"))
        case "--sig-store" => sigStorePath = value("--sig-store")
        case "--dedup-out" => dedupOut = value("--dedup-out")
        case "--ann-ingest" => annSrc = Some(value("--ann-ingest"))
        case "--ann-store" => annStorePath = value("--ann-store")
        case "--arrival" => arrivalDir = Some(value("--arrival"))
        // takedown/retention propagation: a parquet file/dir whose
        // doc_id column drives the signature store + pair sink and
        // whose vec_id column drives the ANN index (either or both)
        case "--forget" => forgetPath = Some(value("--forget"))
        // the hard tier: erase statistical residue on demand — chain a
        // forced ANN centroid retrain over (corpus − forgotten) after
        // the forget, instead of waiting for drift to cross 0.10
        case "--hard" => hardForget = true
        // the ingest streams' micro-batch bound = the per-batch
        // deadline check's granularity (see ArrivalConfig)
        case "--max-files-per-batch" =>
          maxFilesPerBatch =
            Some(scala.util.Try(value("--max-files-per-batch").toInt)
              .filter(_ > 0).getOrElse(usage(
                "--max-files-per-batch expects a positive integer")))
        // opt-in table_compact stage for the composed pass: small-file
        // compaction of resident dir tables at this target size
        case "--compact-tables" =>
          compactTables =
            Some(scala.util.Try(value("--compact-tables").toLong)
              .filter(_ > 0).getOrElse(usage(
                "--compact-tables expects a positive byte target")))
        case "--target-bytes" =>
          targetBytes = scala.util.Try(value("--target-bytes").toLong)
            .filter(_ > 0)
            .getOrElse(usage("--target-bytes expects a positive integer"))
        case "--state" => statePath = value("--state")
        case "--log" => logPath = Some(value("--log"))
        case "--report" => report = true
        case other => usage(s"unknown arg $other")
      }
      i += 1
    }

    if (printSchedule) {
      // The reference completes its install story by creating the SQL
      // Agent jobs (ref ola/MaintenanceSolution.sql:7821 ff.); the lake
      // analog is a cron/Airflow entry. Echo ready-to-paste crontab lines
      // bound to THIS invocation's --db/--state/--log arguments.
      // Only flags the echoed lines can CARRY are accepted: silently
      // dropping a given --objects/--time-limit from the printed jobs
      // would install a schedule that runs with different config than
      // the invocation specified.
      val allowed = Set("--print-schedule", "--db", "--state", "--log",
        "--checkpoint", "--arrival", "--time-limit", "--sig-store",
        "--dedup-out", "--ann-store", "--compact", "--target-bytes",
        "--max-files-per-batch", "--compact-tables")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        s"--print-schedule cannot carry ${stray.mkString(", ")} into the " +
          "echoed jobs; configure those in the pasted line manually " +
          "(accepted here: --db, --state, --log, --checkpoint, " +
          "--arrival, --time-limit, --sig-store, --dedup-out, " +
          "--ann-store, --compact, --target-bytes, " +
          "--max-files-per-batch, --compact-tables)")
      if (compactDir.isEmpty && seen.contains("--target-bytes"))
        usage("--target-bytes only rides the echoed compaction job; " +
          "give --compact TABLE_DIR")
      if (arrivalDir.isEmpty &&
          Seq("--sig-store", "--dedup-out", "--ann-store",
            "--compact-tables")
            .exists(seen.contains))
        usage("--sig-store/--dedup-out/--ann-store/" +
          "--compact-tables only ride the " +
          "composed arrival job; give --arrival LANDING_DIR")
      if (dbs.isEmpty)
        usage("--print-schedule requires at least one --db (the echoed " +
          "jobs must name the databases they check)")
      val dbArgs = dbs.toSeq.sortBy(_._1)
        .map { case (n, p) => s"--db $n=$p" }.mkString(" ")
      val logArg = logPath.fold("")(p => s" --log $p")
      val submit = "spark-submit --class graft.Main graft.jar"
      println("# graft scheduled-run bootstrap — paste into crontab -e")
      println("# (ref ola/MaintenanceSolution.sql:7821 ff.: the reference")
      println("#  creates SQL Agent jobs; on a lake the scheduler is cron)")
      // a given --time-limit rides EVERY echoed job (the printer's
      // never-drop-a-flag contract)
      val tlArg = cfg.timeLimitSeconds.fold("")(s => s" --time-limit $s")
      println("# nightly full integrity pass (daily idempotence makes")
      println("# re-runs safe, ref IC:664-665):")
      println(s"17 1 * * * $submit $dbArgs --state $statePath$tlArg$logArg")
      println("# arrived-data incremental check, every 15 minutes")
      println("# (O(new files) per pass — see --incremental; a given")
      println("# --time-limit rides along so the job cannot overrun")
      println("# its slot — IC:592's per-table budget check, and a")
      println("# given --max-files-per-batch bounds each table's")
      println("# micro-batches so the deadline has check points):")
      val mfbArg = maxFilesPerBatch.fold("")(n =>
        s" --max-files-per-batch $n")
      println(s"*/15 * * * * $submit $dbArgs --incremental " +
        s"--checkpoint $checkpointRoot$tlArg$mfbArg$logArg")
      arrivalDir.foreach { landing =>
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
        val ctArg = compactTables.fold("")(n => s" --compact-tables $n")
        println(s"37 2 * * * $submit $dbArgs --arrival $landing " +
          s"--checkpoint $checkpointRoot --sig-store $sigStorePath " +
          s"--dedup-out $dedupOut --ann-store $annStorePath" +
          s"$mfbArg$ctArg$tlArg$logArg")
      }
      compactDir.foreach { dir =>
        // the missing third of the reference's maintenance surface
        // (MS:7821 ff. creates IntegrityCheck AND IndexOptimize jobs):
        // weekly small-file compaction of a lake table — the parquet
        // analog of the index-rebuild job. --time-limit rides along
        // (compact() checks the budget at every group head, IC:644)
        println("# weekly small-file compaction (the IndexOptimize-job")
        println("# analog, ref MS:7821 ff.; budget checked per merge")
        println("# group — see --compact):")
        println(s"47 3 * * 0 $submit --compact $dir " +
          s"--target-bytes $targetBytes$tlArg")
      }
      return
    }

    val cpus = SessionDefaults.cpus()
    val spark = SessionDefaults(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")), cpus)
      .appName("graft").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)

    // Mode separation, enforced not implied: every flag belongs to exactly
    // one mode, and a flag from the other mode is an error rather than a
    // silent no-op (the reference CLIs fail on unknown parameter combos).
    val compactFlags =
      Set("--compact", "--target-bytes", "--dry-run", "--time-limit")
    if (compactDir.isDefined) {
      val stray = seen.filterNot(compactFlags)
      if (stray.nonEmpty) usage(
        "--compact is a standalone maintenance mode; scheduler-only " +
          s"flag(s) given: ${stray.mkString(", ")} (allowed with " +
          "--compact: --target-bytes, --dry-run, --time-limit)")
    } else if (seen.contains("--target-bytes"))
      usage("--target-bytes only applies to --compact maintenance runs")
    if (incremental) {
      // --time-limit rides along: a 15-minute cron pass must not
      // overrun its slot — IC:592's per-table budget check applies to
      // the incremental tier exactly as to the batch scheduler.
      // --max-files-per-batch rides along too (round-15 fix: the run
      // path honored it since round 14 — IncrementalScheduler forwards
      // it into the per-table streams as the deadline's granularity
      // knob — but this allow-list still rejected the combination, so
      // the documented `--incremental ... --max-files-per-batch N`
      // invocation errored at the flag matrix)
      val allowed = Set("--incremental", "--db", "--checkpoint", "--log",
        "--time-limit", "--max-files-per-batch")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        "--incremental checks arrived files only; full-run flag(s) given: " +
          s"${stray.mkString(", ")} (allowed with --incremental: --db, " +
          "--checkpoint, --log, --time-limit, --max-files-per-batch)")
      if (dbs.isEmpty) usage("--incremental requires at least one --db")
    }
    if (arrivalDir.isDefined) {
      val allowed = Set("--arrival", "--db", "--time-limit",
        "--checkpoint", "--sig-store", "--dedup-out", "--ann-store",
        "--log", "--max-files-per-batch", "--compact-tables")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        "--arrival is the composed nightly pass; other flag(s) given: " +
          s"${stray.mkString(", ")} (allowed: --db, --time-limit, " +
          "--checkpoint, --sig-store, --dedup-out, --ann-store, --log, " +
          "--max-files-per-batch, --compact-tables)")
    }
    if (dedupSrc.isDefined) {
      val allowed = Set("--dedup-ingest", "--sig-store", "--dedup-out",
        "--checkpoint", "--time-limit", "--max-files-per-batch")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        "--dedup-ingest is a standalone arrival-dedup mode; other " +
          s"flag(s) given: ${stray.mkString(", ")} (allowed: " +
          "--sig-store, --dedup-out, --checkpoint, --time-limit, " +
          "--max-files-per-batch)")
    } else if (arrivalDir.isEmpty && forgetPath.isEmpty &&
        Seq("--sig-store", "--dedup-out").exists(seen.contains))
      usage("--sig-store/--dedup-out only apply to --dedup-ingest, " +
        "--arrival or --forget runs")
    if (annSrc.isDefined) {
      val allowed = Set("--ann-ingest", "--ann-store", "--checkpoint",
        "--time-limit", "--max-files-per-batch")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        "--ann-ingest is a standalone arrival-ANN mode; other " +
          s"flag(s) given: ${stray.mkString(", ")} (allowed: " +
          "--ann-store, --checkpoint, --time-limit, " +
          "--max-files-per-batch)")
    } else if (arrivalDir.isEmpty && forgetPath.isEmpty &&
        seen.contains("--ann-store"))
      usage("--ann-store only applies to --ann-ingest, --arrival or " +
        "--forget runs")
    if (arrivalDir.isEmpty && dedupSrc.isEmpty && annSrc.isEmpty &&
        !incremental && seen.contains("--max-files-per-batch"))
      usage("--max-files-per-batch only applies to " +
        "--incremental/--arrival/--dedup-ingest/--ann-ingest runs")
    if (forgetPath.isEmpty && seen.contains("--hard"))
      usage("--hard only applies to --forget runs (it chains the " +
        "forced ANN centroid retrain after the takedown)")
    if (arrivalDir.isEmpty && seen.contains("--compact-tables"))
      usage("--compact-tables only applies to --arrival runs " +
        "(standalone compaction is --compact TABLE_DIR)")
    if (!incremental && dedupSrc.isEmpty && annSrc.isEmpty &&
        arrivalDir.isEmpty && seen.contains("--checkpoint"))
      usage("--checkpoint only applies to " +
        "--incremental/--dedup-ingest/--ann-ingest/--arrival runs")
    if (forgetPath.isDefined) {
      // takedown/retention propagation (round-15 verdict #1): remove a
      // doc/vector id set from every persisted store and the emitted
      // pair partitions, audited through the command log. The ids file
      // is parquet with a doc_id and/or vec_id column — its schema
      // says which tiers the request covers.
      val allowed = Set("--forget", "--hard", "--sig-store",
        "--ann-store", "--dedup-out", "--log")
      val stray = seen.filterNot(allowed)
      if (stray.nonEmpty) usage(
        "--forget is a standalone takedown mode; other flag(s) given: " +
          s"${stray.mkString(", ")} (allowed: --hard, --sig-store, " +
          "--ann-store, --dedup-out, --log)")
      val ids = spark.read.parquet(forgetPath.get)
      val hasDocs = ids.columns.contains("doc_id")
      val hasVecs = ids.columns.contains("vec_id")
      if (!hasDocs && !hasVecs) usage(
        s"--forget ${forgetPath.get} has neither a doc_id nor a vec_id " +
          "column; nothing to propagate")
      // a legally-binding takedown must not silently run against the
      // default /tmp store paths (round-16 advice): against a wrong or
      // absent path every tier reports rows=0 and the run "succeeds",
      // which an operator can mistake for a completed takedown. The
      // ids file's schema says which tiers the request covers; each
      // covered tier's store flag must be EXPLICIT, and the targeted
      // store root must exist.
      if (hasDocs && !seen.contains("--sig-store")) usage(
        s"--forget ${forgetPath.get} carries doc_id: give --sig-store " +
          "PATH explicitly — a takedown must name its target store, " +
          "not fall back to the default path")
      if (hasDocs && !seen.contains("--dedup-out")) usage(
        s"--forget ${forgetPath.get} carries doc_id: give --dedup-out " +
          "PATH explicitly (the emitted pair partitions are scrubbed " +
          "too) — a takedown must name its targets, not fall back to " +
          "the default path")
      if (hasVecs && !seen.contains("--ann-store")) usage(
        s"--forget ${forgetPath.get} carries vec_id: give --ann-store " +
          "PATH explicitly — a takedown must name its target store, " +
          "not fall back to the default path")
      def rootExists(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(hp)
      }
      // only the STORE roots hard-fail when absent: a pair sink that
      // never emitted is a legitimate empty target (scrubPairs handles
      // it as ForgetReport(0,0)) — round-17 advice: a first takedown
      // on a deployment that never produced pairs must not be blocked
      // on creating an empty directory. It still warns loudly, since
      // a TYPO'd --dedup-out would silently skip the scrub.
      val absent =
        (if (hasDocs) Seq("--sig-store" -> sigStorePath) else Nil) ++
        (if (hasVecs) Seq("--ann-store" -> annStorePath) else Nil)
      absent.filterNot(t => rootExists(t._2)).foreach { case (f, p) =>
        System.err.println(s"error: --forget target $f $p does not " +
          "exist — a takedown against a wrong path would report 0 " +
          "rows and look complete; fix the path (or create the store " +
          "root) and re-run")
        spark.stop()
        sys.exit(3)
      }
      if (hasDocs && !rootExists(dedupOut))
        System.err.println(s"warning: --dedup-out $dedupOut does not " +
          "exist — treating it as a pair sink that never emitted " +
          "(scrub skipped, 0 pairs); if pairs WERE emitted elsewhere, " +
          "re-run with the right path")
      val logObj = new CommandLog(spark, logPath)
      val docIdsOpt = if (hasDocs) Some(ids) else None
      val vecIdsOpt = if (hasVecs) Some(ids) else None
      val (out, hardAction) =
        if (hardForget) {
          val (o, a) = pipeline.Forget.hard(spark, docIdsOpt, vecIdsOpt,
            sigStorePath, annStorePath, dedupOut, logObj, SystemClock)
          (o, Some(a))
        } else (pipeline.Forget.run(spark, docIdsOpt, vecIdsOpt,
          sigStorePath, annStorePath, dedupOut, logObj, SystemClock),
          None)
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
      spark.stop()
      return
    }
    if (arrivalDir.isDefined) {
      // the composed nightly pass: integrity + dedup ingest + ANN
      // ingest + OOV QC over ONE landing zone under ONE time budget
      val logObj = new CommandLog(spark, logPath)
      val report = scheduler.ArrivalPass.run(spark,
        scheduler.ArrivalConfig(
          landing = arrivalDir.get,
          dbs = dbs,
          timeLimitSeconds = cfg.timeLimitSeconds,
          checkpointRoot = checkpointRoot,
          sigStorePath = sigStorePath,
          dedupOut = dedupOut,
          annStorePath = annStorePath,
          maxFilesPerBatch = maxFilesPerBatch.getOrElse(1000),
          compactTargetBytes = compactTables),
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
      spark.stop()
      if (report.violations > 0) sys.exit(2)
      if (report.errors > 0 || stageFailures > 0) sys.exit(3)
      return
    }
    if (dedupSrc.isDefined) {
      // --time-limit is the stream's per-micro-batch deadline (IC:644):
      // the cron'd standalone job gets the same slot discipline as the
      // composed pass's dedup stage
      dedupIngestRun(spark, dedupSrc.get, sigStorePath, checkpointRoot,
        dedupOut, deadline = cfg.timeLimitSeconds
          .map(s => SystemClock.now().plusSeconds(s)),
        maxFilesPerBatch = maxFilesPerBatch)
    } else if (annSrc.isDefined) {
      annIngestRun(spark, annSrc.get, annStorePath, checkpointRoot,
        deadline = cfg.timeLimitSeconds
          .map(s => SystemClock.now().plusSeconds(s)),
        maxFilesPerBatch = maxFilesPerBatch)
    } else if (compactDir.isDefined) {
      // maintenance mode (the IndexOptimize analog): print the plan
      // (dry-run echo, ref CE:197), then execute THE SAME SNAPSHOT unless
      // --dry-run — one listing feeds both, so the echo IS the plan run
      val dir = compactDir.get
      val files = maintenance.Compaction.tableFiles(spark, dir)
      maintenance.Compaction.plan(files, targetBytes).collect()
        .foreach(r => println(s"plan: $r"))
      if (cfg.execute) {
        // a given --time-limit is checked at every merge-group head
        // (IC:644); groups past the deadline stay for the next run.
        // The listing is re-taken AFTER the lease (by-name `files`
        // param): if a concurrent compactor finished between the echo
        // and the lock, the re-plan supersedes the echoed snapshot
        // instead of crashing on its merged-away members
        val r = maintenance.Compaction.compact(spark, dir,
          maintenance.Compaction.tableFiles(spark, dir),
          targetBytes, deadline = cfg.timeLimitSeconds
            .map(s => SystemClock.now().plusSeconds(s)))
        if (r.leaseSkipped)
          println("compacted: 0 group(s) — table lease held by " +
            "another compactor; re-run after it finishes")
        else println(s"compacted: ${r.merged} group(s)")
      } else println("dry-run: plan not executed")
    } else if (incremental) {
      // arrived-data tier: O(new files) per pass (see IncrementalScheduler)
      val logObj = new CommandLog(spark, logPath)
      val r = scheduler.IncrementalScheduler.run(spark,
        new DirInventory(spark, dbs), checkpointRoot, logObj, SystemClock,
        deadline = cfg.timeLimitSeconds
          .map(s => SystemClock.now().plusSeconds(s)),
        // same per-batch budget granularity as every other streaming
        // mode: with a --time-limit, a deep single-table backlog stops
        // at a batch boundary instead of draining past the deadline
        maxFilesPerBatch = maxFilesPerBatch)
      logObj.flush()
      r.executedCommands.foreach(c => println(s"executed: $c"))
      r.skipped.foreach { case (o, why) => println(s"skipped: $o ($why)") }
      if (r.quiet.nonEmpty) println(s"quiet: ${r.quiet.size} table(s) " +
        "(checkpoint covers every landed file; streams skipped)")
      println(s"violations: ${r.violations}")
      if (r.errors > 0) println(s"errors: ${r.errors} (checks failed to run)")
      if (r.violations > 0) sys.exit(2)
      if (r.errors > 0) sys.exit(3)
    } else if (report) {
      val store = new StateStore(spark, statePath)
      // ref IC:770-786: the manual inspection queries
      val state = store.load()
      println("== state (most recent first) ==")
      state.sortBy(o => o.start_time.map(-_.getTime).getOrElse(0L))
        .foreach(o => println(
          f"${o.database_name}.${o.schema_name}.${o.object_name}%-40s " +
            f"execs=${o.number_of_executions}%3d " +
            f"avg=${o.avg_run_duration_ms}%6dms " +
            f"last=${o.last_check_date}"))
      val totalSec = state.map(_.run_duration_ms).sum / 1000.0
      println(f"== total recorded check time: $totalSec%.1f s ==")
    } else {
      val store = new StateStore(spark, statePath)
      val r = new Scheduler(spark, new DirInventory(spark, dbs), store,
        new CommandLog(spark, logPath), cfg, SystemClock).run()
      r.executedCommands.foreach(c => println(s"executed: $c"))
      r.skipped.foreach { case (o, why) => println(s"skipped: $o ($why)") }
      println(s"violations: ${r.violations}")
      if (r.errors > 0) println(s"errors: ${r.errors} (checks failed to run)")
      // Exit 2 on data violations, 3 on execution errors — an unreadable
      // table must not look like a clean run (ref CE error capture).
      if (r.violations > 0) sys.exit(2)
      if (r.errors > 0) sys.exit(3)
    }
    spark.stop()
  }
}
