package graft

import org.scalatest.funsuite.AnyFunSuite

/** Main's command-line matrix, checked by `Main.parse` alone (no Spark
  * session): per mode, every flag it accepts parses and every other flag
  * is rejected with a message naming the mode. The accepted sets are
  * written out here, not read from Main's table, so a change to the
  * table shows up as a failing pair. */
class MainSpec extends AnyFunSuite {

  /** Each flag as it appears on a command line, with a valid value. */
  private val spelled: Map[String, Seq[String]] = Map(
    "--db" -> Seq("--db", "b=/data/b"),
    "--databases" -> Seq("--databases", "ALL_DATABASES"),
    "--objects" -> Seq("--objects", "b.dbo.t"),
    "--time-limit" -> Seq("--time-limit", "60"),
    "--physical-only" -> Seq("--physical-only"),
    "--no-data-purity" -> Seq("--no-data-purity"),
    "--max-dop" -> Seq("--max-dop", "2"),
    "--concurrency" -> Seq("--concurrency", "2"),
    "--database-order" -> Seq("--database-order", "DATABASE_NAME_ASC"),
    "--dry-run" -> Seq("--dry-run"),
    "--state" -> Seq("--state", "/state"),
    "--log" -> Seq("--log", "/log"),
    "--report" -> Seq("--report"),
    "--incremental" -> Seq("--incremental"),
    "--checkpoint" -> Seq("--checkpoint", "/ckpt"),
    "--print-schedule" -> Seq("--print-schedule"),
    "--compact" -> Seq("--compact", "/data/b/t"),
    "--target-bytes" -> Seq("--target-bytes", "1024"),
    "--arrival" -> Seq("--arrival", "/landing"),
    "--sig-store" -> Seq("--sig-store", "/sigs"),
    "--dedup-out" -> Seq("--dedup-out", "/pairs"),
    "--ann-store" -> Seq("--ann-store", "/ann"),
    "--max-files-per-batch" -> Seq("--max-files-per-batch", "5"),
    "--compact-tables" -> Seq("--compact-tables", "1024"),
    "--forget" -> Seq("--forget", "/ids"),
    "--hard" -> Seq("--hard"))

  private val selectors = Set("--report", "--incremental", "--compact",
    "--arrival", "--forget", "--print-schedule")

  private val fullPass = Set("--db", "--databases", "--objects",
    "--time-limit", "--physical-only", "--no-data-purity", "--max-dop",
    "--concurrency", "--database-order", "--dry-run", "--state", "--log")
  private val schedule = Set("--db", "--state", "--log", "--checkpoint",
    "--arrival", "--compact", "--time-limit", "--max-files-per-batch")

  /** (mode as named in messages, its base command line, the flags it
    * accepts on top of that base). */
  private val matrix: Seq[(String, Seq[String], Set[String])] = Seq(
    ("the full pass", Nil, fullPass),
    ("--report", Seq("--report"), fullPass),
    ("--incremental", Seq("--incremental", "--db", "a=/data/a"),
      Set("--db", "--checkpoint", "--log", "--time-limit",
        "--max-files-per-batch")),
    ("--compact", Seq("--compact", "/data/a/t"),
      Set("--target-bytes", "--dry-run", "--time-limit")),
    ("--arrival", Seq("--arrival", "/landing"),
      Set("--db", "--time-limit", "--checkpoint", "--sig-store",
        "--dedup-out", "--ann-store", "--log", "--max-files-per-batch",
        "--compact-tables")),
    ("--forget", Seq("--forget", "/ids"),
      Set("--hard", "--sig-store", "--ann-store", "--dedup-out", "--log")),
    ("--print-schedule", Seq("--print-schedule", "--db", "a=/data/a"),
      schedule),
    ("--print-schedule --arrival",
      Seq("--print-schedule", "--db", "a=/data/a", "--arrival", "/l"),
      schedule ++ Set("--sig-store", "--dedup-out", "--ann-store",
        "--compact-tables")),
    ("--print-schedule --compact",
      Seq("--print-schedule", "--db", "a=/data/a", "--compact", "/t"),
      schedule + "--target-bytes"))

  private def reject(args: String*): String =
    intercept[IllegalArgumentException](Main.parse(args)).getMessage

  test("every mode parses each flag it accepts") {
    for ((name, base, accepted) <- matrix; f <- accepted.toSeq.sorted) {
      val cli = Main.parse(base ++ spelled(f))
      assert(cli.mode === base.headOption.getOrElse(""), s"$name + $f")
    }
  }

  test("every flag outside a mode is rejected with a message naming " +
      "the mode") {
    for ((name, base, accepted) <- matrix;
         f <- spelled.keys.toSeq.sorted
         if !accepted(f) && !base.contains(f) &&
           !(base.isEmpty && selectors(f))) {
      val msg = reject(base ++ spelled(f): _*)
      // --print-schedule outranks every other mode flag: it names
      // itself (a stray flag, or the --db it requires)
      if (f == "--print-schedule") assert(msg.startsWith(f), msg)
      else assert(msg.startsWith(s"$name does not accept ") &&
        msg.contains(f), s"$name + $f: $msg")
    }
  }

  test("each dependency rule rejects its flag outside its modes and " +
      "says where the flag goes") {
    val ps = Seq("--print-schedule", "--db", "a=/data/a")
    val cases = Seq(
      // print-schedule: the compaction job carries --target-bytes
      (ps ++ spelled("--target-bytes"), "--print-schedule",
        "--target-bytes goes with --print-schedule --compact or --compact"),
      // print-schedule: the arrival job carries the store flags
      (ps ++ spelled("--ann-store"), "--print-schedule",
        "--ann-store goes with --print-schedule --arrival or --arrival " +
          "or --forget"),
      (spelled("--target-bytes"), "the full pass",
        "--target-bytes goes with"),
      (spelled("--sig-store") ++ spelled("--dedup-out"), "the full pass",
        "--sig-store goes with --print-schedule --arrival or --arrival " +
          "or --forget; --dedup-out goes with"),
      (spelled("--ann-store"), "the full pass", "--ann-store goes with"),
      (spelled("--max-files-per-batch"), "the full pass",
        "--max-files-per-batch goes with --print-schedule or " +
          "--incremental or --arrival"),
      (spelled("--hard"), "the full pass", "--hard goes with --forget"),
      (spelled("--compact-tables"), "the full pass",
        "--compact-tables goes with --print-schedule --arrival or " +
          "--arrival"),
      (spelled("--checkpoint"), "the full pass",
        "--checkpoint goes with --print-schedule or --incremental or " +
          "--arrival"))
    for ((args, mode, hint) <- cases) {
      val msg = reject(args: _*)
      assert(msg.startsWith(s"$mode does not accept ") &&
        msg.contains(hint), msg)
    }
    assert(reject("--print-schedule") === "--print-schedule requires --db")
    assert(reject("--incremental") === "--incremental requires --db")
  }

  test("the removed standalone ingest modes are unknown arguments " +
      "(--arrival runs both ingest stages)") {
    for (tier <- Seq("dedup", "ann")) {
      val flag = s"--$tier-ingest"
      assert(reject(flag, "/landing", "--checkpoint", "/c") ===
        s"unknown arg $flag")
    }
  }

  test("values are checked and bound") {
    assert(reject("--db", "nodir") === "--db expects name=dir")
    assert(reject("--db") === "--db requires a value")
    assert(reject("--time-limit", "soon") ===
      "--time-limit expects an integer")
    for (f <- Seq("--target-bytes", "--max-files-per-batch"))
      assert(reject("--compact", "/t", f, "0").contains(
        s"$f expects a positive integer"))
    assert(reject("--database-order", "bogus").contains("bogus"))
    val full = Main.parse(Seq("--db", "a=/data/a", "--db", "b=/data/b",
      "--objects", "a.dbo.t", "--time-limit", "60", "--physical-only",
      "--no-data-purity", "--max-dop", "4", "--concurrency", "3",
      "--dry-run", "--state", "/state", "--log", "/log"))
    assert(full.mode === "")
    assert(full.dbs === Map("a" -> "/data/a", "b" -> "/data/b"))
    assert(full.cfg.objects === Some("a.dbo.t"))
    assert(full.cfg.timeLimitSeconds === Some(60L))
    assert(full.cfg.physicalOnly && !full.cfg.dataPurity &&
      !full.cfg.execute)
    assert((full.cfg.maxDop, full.cfg.concurrency) === ((4, 3)))
    assert((full.statePath, full.logPath) === (("/state", Some("/log"))))
    val arr = Main.parse(Seq("--arrival", "/landing", "--checkpoint", "/c",
      "--sig-store", "/s", "--dedup-out", "/p", "--ann-store", "/a",
      "--max-files-per-batch", "7", "--compact-tables", "2048"))
    assert(arr.mode === "--arrival")
    assert((arr.arrivalDir, arr.checkpointRoot, arr.sigStorePath,
      arr.dedupOut, arr.annStorePath) ===
      ((Some("/landing"), "/c", "/s", "/p", "/a")))
    assert((arr.maxFilesPerBatch, arr.compactTables) ===
      ((Some(7), Some(2048L))))
    val fg = Main.parse(Seq("--forget", "/ids", "--hard", "--sig-store",
      "/s"))
    assert(fg.forgetPath === Some("/ids") && fg.hard)
    assert(fg.given === Seq("--forget", "--hard", "--sig-store"))
  }

  test("the usage line is rendered from the table: one line per mode, " +
      "every flag spelled") {
    val lines = Main.usage.linesIterator.toSeq
    for (sel <- selectors)
      assert(lines.exists(_.startsWith(s"  graft.Main $sel")), sel)
    assert(lines.exists(_.contains("with --arrival LANDING_DIR")))
    for (f <- spelled.keys) assert(Main.usage.contains(f), f)
  }
}
