package graft

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, GraftTestBridge, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.DirInventory
import graft.executor.CommandLog
import graft.model.{CheckConfig, CheckObject, CommandLogEntry, ManualClock}
import graft.scheduler.Scheduler
import graft.state.StateStore

/** The scheduler's per-night bookkeeping (state load and save, audit-log
  * flush) runs on the driver with no Spark job, and its files are the
  * files a Spark write leaves: Spark and the store read each other's
  * output, and a partial write is never visible. */
class BookkeepingIoSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ts(s: String): Option[Timestamp] =
    Some(Timestamp.from(Instant.parse(s)))

  // Some and None timestamps, sub-millisecond instants, the sentinel date
  private val stateRows = Seq(
    CheckObject.fresh(1L, "db", "U", "main", "fresh", "U", 10L),
    CheckObject.fresh(2L, "db", "U", "main", "checked", "U", 20L).copy(
      start_time = ts("2026-08-12T10:00:00.123456Z"),
      end_time = ts("2026-08-12T10:00:01.000001Z"),
      run_duration_ms = 877L, command = "CHECKTABLE [db].[main].[checked]",
      number_of_executions = 3L, avg_run_duration_ms = 500L,
      previous_run_date = ts("2026-08-11T23:59:59.999999Z"),
      previous_run_duration_ms = 12L,
      last_check_date = Date.valueOf("2026-08-12")),
    CheckObject.fresh(3L, "db", "U", "main", "gone", "U", 0L)
      .copy(active = false, previous_run_date = ts("1970-01-01T00:00:00Z")))

  private def logRows(tag: String) = Seq(
    CommandLogEntry(s"$tag-1", "db", "main", "t", "U", "{}",
      "CHECKTABLE [db].[main].[t]", "DBCC_CHECKTABLE",
      ts("2026-08-12T10:00:00.000123Z").get,
      ts("2026-08-12T10:00:00.5Z"), Some(0), None),
    CommandLogEntry(s"$tag-2", "db", "", "", "", """{"transient_retries": 1}""",
      "CHECKALLOC [db]", "DBCC_CHECKALLOC",
      ts("2026-08-12T10:00:01Z").get, None, None, None),
    CommandLogEntry(s"$tag-3", "db", "main", "u", "U", "{}",
      "CHECKTABLE [db].[main].[u]", "DBCC_CHECKTABLE",
      ts("2026-08-12T10:00:02Z").get, ts("2026-08-12T10:00:03Z"),
      Some(8939), Some("2 integrity violations")))

  /** Runs `body` under a non-UTC session time zone. */
  private def inZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, before)
  }

  private def footer(dir: String) = {
    val f = new File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(f.length === 1, dir)
    val r = GraftSqlBridge.openParquet(
      spark.sparkContext.hadoopConfiguration, new Path(f.head.toURI))
    try r.getFooter.getFileMetaData finally r.close()
  }

  private def names(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName).toSeq.sorted

  /** Every hidden name is the checksum of a listed file, never a partial
    * write or its checksum. */
  private def noHiddenLeftovers(dir: String): Unit = {
    val all = names(dir).toSet
    all.filter(_.startsWith(".")).foreach { n =>
      assert(n.endsWith(".crc") &&
        all(n.stripPrefix(".").stripSuffix(".crc")), s"$dir: $n")
    }
  }

  test("StateStore.load, StateStore.save and CommandLog.flush run no " +
      "Spark job") {
    val dir = tmpDir("graft-bk-jobs")
    val store = new StateStore(spark, s"$dir/state")
    val log = new CommandLog(spark, Some(s"$dir/log"))
    logRows("a").foreach(log.append)
    store.save(stateRows) // warm-up: first use of the write path
    val gauge = new Dev.Gauge(spark.sparkContext)
    try {
      val loaded = gauge.measure("StateStore.load")(store.load())
      assert((loaded.sortBy(_.id), gauge.jobs.get()) === ((stateRows, 0L)))
      gauge.measure("StateStore.save")(store.save(stateRows))
      assert(gauge.jobs.get() === 0L)
      gauge.measure("CommandLog.flush")(log.flush())
      assert(gauge.jobs.get() === 0L)
    } finally gauge.close()
  }

  test("a logged Scheduler.run over small tables runs no Spark job") {
    val dir = tmpDir("graft-bk-sched")
    val gauge = new Dev.Gauge(spark.sparkContext)
    try {
      val r = gauge.measure("Scheduler.run")(new Scheduler(spark,
        new DirInventory(spark, Map("testdb" -> SparkTestSession.sfDir)),
        new StateStore(spark, s"$dir/state"),
        new CommandLog(spark, Some(s"$dir/log")),
        CheckConfig(databases = "testdb", logToTable = true),
        new ManualClock(Instant.parse("2026-08-12T10:00:00Z"), tickMs = 10))
        .run())
      val tables = r.executedCommands.count(_.startsWith("CHECKTABLE"))
      assert(tables > 0 && r.violations === 0L && r.errors === 0L)
      // every fixture table is within CHECKTABLE's local route ceilings
      assert(gauge.jobs.get() === 0L)
    } finally gauge.close()
    assert(new StateStore(spark, s"$dir/state").load().size === 10)
    assert(spark.read.parquet(s"$dir/log").count() > 0L)
  }

  test("StateStore.load leaves no broadcast block behind") {
    val dir = tmpDir("graft-bk-bcast")
    val store = new StateStore(spark, s"$dir/state")
    store.save(stateRows)
    store.load() // warm-up
    val before = GraftTestBridge.broadcastBlocks(spark.sparkContext)
    (1 to 5).foreach(_ => assert(store.load().sortBy(_.id) === stateRows))
    assert(GraftTestBridge.broadcastBlocks(spark.sparkContext) -- before ===
      Set.empty)
  }

  test("a state directory written by a Spark write loads equal, under a " +
      "non-UTC session time zone") {
    inZone("America/Los_Angeles") {
      val dir = tmpDir("graft-bk-compat")
      stateRows.toDS().coalesce(1).write.parquet(s"$dir/state")
      assert(new StateStore(spark, s"$dir/state").load().sortBy(_.id) ===
        stateRows)
    }
  }

  test("state and log written on the driver read back through " +
      "spark.read.parquet with the schema of a Spark write") {
    inZone("Asia/Kolkata") {
      val dir = tmpDir("graft-bk-schema")
      new StateStore(spark, s"$dir/state").save(stateRows)
      stateRows.toDS().coalesce(1).write.parquet(s"$dir/spark-state")
      val log = new CommandLog(spark, Some(s"$dir/log"))
      logRows("d").foreach(log.append)
      log.flush()
      logRows("d").toDS().coalesce(1).write.parquet(s"$dir/spark-log")

      assert(spark.read.parquet(s"$dir/state").as[CheckObject].collect()
        .sortBy(_.id).toSeq === stateRows)
      assert(spark.read.parquet(s"$dir/log").as[CommandLogEntry].collect()
        .sortBy(_.id).toSeq === logRows("d"))
      Seq("state", "log").foreach { t =>
        assert(spark.read.parquet(s"$dir/$t").schema ===
          spark.read.parquet(s"$dir/spark-$t").schema, t)
        // the stored schema too: parquet types, repetition, Spark metadata
        val (mine, theirs) = (footer(s"$dir/$t"), footer(s"$dir/spark-$t"))
        assert(mine.getSchema === theirs.getSchema, t)
        assert(mine.getKeyValueMetaData === theirs.getKeyValueMetaData, t)
        assert(mine.getCreatedBy === theirs.getCreatedBy, t)
        assert(names(s"$dir/$t").filterNot(_.startsWith(".")).map(
          _.replaceAll("-[0-9a-f-]{36}-", "-")) ===
          names(s"$dir/spark-$t").filterNot(_.startsWith(".")).map(
            _.replaceAll("-[0-9a-f-]{36}-", "-")), t)
      }
    }
  }

  test("a log directory with a Spark-appended file and a driver-appended " +
      "file reads as the union") {
    val dir = tmpDir("graft-bk-union")
    logRows("s").toDS().coalesce(1).write.mode(SaveMode.Append)
      .parquet(s"$dir/log")
    val log = new CommandLog(spark, Some(s"$dir/log"))
    logRows("d").foreach(log.append)
    log.flush()
    assert(names(s"$dir/log").count(_.startsWith("part-")) === 2)
    assert(spark.read.parquet(s"$dir/log").as[CommandLogEntry].collect()
      .sortBy(_.id).toSeq === (logRows("d") ++ logRows("s")).sortBy(_.id))
  }

  test("a hidden partial file is invisible to readers, and no temp file " +
      "outlives save or flush") {
    val dir = tmpDir("graft-bk-crash")
    val torn = "PAR1 torn".getBytes("UTF-8")
    def plant(d: String): Unit = {
      new File(d).mkdirs()
      java.nio.file.Files.write(
        new File(d, ".part-00000-torn-c000.snappy.parquet").toPath, torn)
    }
    // the log: a crash mid-flush next to a committed file
    val log = new CommandLog(spark, Some(s"$dir/log"))
    logRows("c").foreach(log.append)
    log.flush()
    noHiddenLeftovers(s"$dir/log")
    plant(s"$dir/log")
    assert(spark.read.parquet(s"$dir/log").count() === 3L)
    // the state: a crash mid-save leaves a .tmp with no _SUCCESS
    val store = new StateStore(spark, s"$dir/state")
    store.save(stateRows)
    noHiddenLeftovers(s"$dir/state")
    plant(s"$dir/state.tmp")
    assert(store.load().sortBy(_.id) === stateRows)
    // ... or a partial file inside a committed generation
    plant(s"$dir/state")
    assert(store.load().sortBy(_.id) === stateRows)
    // the next save starts its tmp afresh and leaves no partial behind
    store.save(stateRows.take(1))
    assert(store.load() === stateRows.take(1))
    noHiddenLeftovers(s"$dir/state")
    assert(!new File(s"$dir/state.tmp").exists())
  }
}
