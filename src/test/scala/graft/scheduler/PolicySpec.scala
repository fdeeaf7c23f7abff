package graft.scheduler

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Inventory, InventoryRow, PinnedFile, TableManifest}
import graft.checks.LakeChecks
import graft.executor.CommandLog
import graft.model.{CheckConfig, CheckObject, DatabaseOrder, ManualClock}
import graft.selector.Selector
import graft.state.StateStore

/** Property-based hardening of the scheduling policy (ref
  * IntegrityChecks_VLDB.sql:505-744): [[Scheduler.run]] must make exactly
  * the night [[PolicySpec.night]] builds from [[Policy]]'s functions, on
  * drawn inventories, histories, budgets, clocks, database orders and
  * concurrency levels; and the policy itself keeps its promises across
  * nights (resumption, one-way flip, same-day idempotence, the IC:706
  * fold). */
class PolicySpec extends AnyFunSuite {
  import PolicySpec._
  import graft.SparkTestSession.spark

  private def check(prop: Prop, cases: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-policy").toString +
      "/state"

  private val night0 = Instant.parse("2026-03-10T01:00:00Z")

  private def genWorld(concurrency: Gen[Int]): Gen[World] = for {
    nDbs <- Gen.choose(1, 4)
    dbs = (0 until nDbs).map(i => f"d$i%02d")
    perDb <- Gen.listOfN(nDbs, Gen.choose(0, 6))
    shape = dbs.zip(perDb).flatMap { case (db, n) =>
      (0 until n).map(i => (db, f"t$i%02d")) }
    sizes <- Gen.listOfN(shape.size, Gen.choose(1L, 20L))
    schemas <- Gen.listOfN(shape.size,
      Gen.frequency(4 -> "main", 1 -> "aux"))
    goneFlags <- Gen.listOfN(shape.size,
      Gen.frequency(9 -> false, 1 -> true))
    rows = shape.zip(sizes).zip(schemas).map { case (((db, t), sz), sch) =>
      InventoryRow(db, sch, t, "U", sz, s"/mem/$db/$t.parquet") }
    start <- Gen.choose(0L, 3600L).map(night0.plusSeconds)
    history <- genHistory(rows, start)
    tickMs <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, 120000L))
    limit <- Gen.option(Gen.choose(0L, 1800L))
    order <- Gen.oneOf(DatabaseOrder.all)
    conc <- concurrency
    maxDop <- Gen.oneOf(0, 4)
    physicalOnly <- Gen.oneOf(false, false, true)
  } yield World(dbs, rows,
    rows.zip(goneFlags).collect { case (r, true) => rowKey(r) }.toSet,
    history, start, tickMs,
    CheckConfig(databases = "ALL_DATABASES", execute = false,
      logToTable = false, timeLimitSeconds = limit, databaseOrder = order,
      concurrency = conc, maxDop = maxDop, physicalOnly = physicalOnly))

  /** A history row for some inventoried tables (never-checked, checked
    * days ago, or checked today) plus stale rows for dropped tables. */
  private def genHistory(rows: Seq[InventoryRow], start: Instant)
      : Gen[Seq[CheckObject]] = {
    val today = LocalDate.ofInstant(start, java.time.ZoneOffset.UTC)
    val genRow: Gen[Option[(LocalDate, Long, Long)]] = Gen.frequency(
      2 -> Gen.const(None),
      5 -> (for {
        daysAgo <- Gen.frequency(1 -> Gen.const(0L), 6 -> Gen.choose(1L, 5L))
        n <- Gen.choose(1L, 20L)
        avg <- Gen.frequency(2 -> Gen.const(0L),
          5 -> Gen.choose(0L, 900000L))
      } yield Some((today.minusDays(daysAgo), n, avg))))
    for {
      drawn <- Gen.listOfN(rows.size, genRow)
      stale <- Gen.choose(0, 2)
    } yield {
      val live = rows.zip(drawn).collect { case (r, Some(h)) => (r, h) }
      val dropped = (0 until stale).map(i =>
        (InventoryRow("d00", "main", s"dropped$i", "U", 1L, ""),
          (today.minusDays(2), 3L, 500L)))
      (live ++ dropped).zipWithIndex.map { case ((r, (d, n, avg)), i) =>
        val ran = Timestamp.from(d.atStartOfDay(java.time.ZoneOffset.UTC)
          .toInstant.plusSeconds(7200))
        CheckObject.fresh(i + 1L, r.database_name, "U", r.schema_name,
          r.object_name, "U", r.used_page_count).copy(
          start_time = Some(ran), end_time = Some(ran),
          run_duration_ms = avg, command = "C", number_of_executions = n,
          avg_run_duration_ms = avg, last_check_date = Date.valueOf(d))
      }
    }
  }

  private def schedulerNight(w: World, statePath: String, start: Instant,
      config: CheckConfig): SchedulerReport =
    new Scheduler(spark, w.inventory, new StateStore(spark, statePath),
      new CommandLog(spark, None), config,
      new ManualClock(start, w.tickMs)).run()

  /** Persist `w`'s history where a night will load it. */
  private def seeded(w: World): String = {
    val p = tmp()
    if (w.history.nonEmpty) new StateStore(spark, p).save(w.history)
    p
  }

  private def sameNight(r: SchedulerReport, m: Night): Prop =
    Prop(r.executedCommands == m.executed) :| "command list" &&
      Prop(r.skipped == m.skipped) :| "skip list" &&
      Prop(r.state == m.state) :| "final state"

  test("trace: Scheduler.run makes exactly the policy's night") {
    check(Prop.forAllNoShrink(genWorld(Gen.oneOf(1, 4))) { w =>
      val r = schedulerNight(w, seeded(w), w.start, w.config)
      val m = night(spark, w.inventory, w.history, w.config,
        new ManualClock(w.start, w.tickMs), w.gone)
      sameNight(r, m) :| w.toString
    })
  }

  test("resumption: what a budget-cut night leaves due is what the next " +
      "night starts from") {
    val cut = genWorld(Gen.const(1)).map(w => w.copy(
      config = w.config.copy(logToTable = true,
        timeLimitSeconds = Some(w.config.timeLimitSeconds.getOrElse(60L)))))
    check(Prop.forAllNoShrink(cut) { w =>
      val path = seeded(w)
      val r1 = schedulerNight(w, path, w.start, w.config)
      val persisted = new StateStore(spark, path).load().sortBy(_.id)
      val leftDue = r1.state.filter(o =>
        o.active && Policy.isDue(o, w.start)).map(o => key(o)).toSet
      val next = w.start.plusSeconds(86400)
      val r2 = schedulerNight(w, path, next,
        w.config.copy(timeLimitSeconds = None, logToTable = false))
      // per database, night 2 takes every table night 1 left due before
      // any table night 1 checked
      val live = w.rows.filterNot(r => w.gone(rowKey(r)))
      val byCmd =
        live.map(r => tableCommand(spark, r, w.config) -> r).toMap
      val order = r2.executedCommands.flatMap(byCmd.get)
      val leftFirst = order.groupBy(_.database_name).values.forall { seq =>
        val flags = seq.map(r => leftDue(rowKey(r)))
        flags == flags.sortBy(!_)
      }
      (Prop(persisted == r1.state) :| "persisted = reported" &&
        Prop(order.size == live.size &&
          order.map(rowKey).toSet == live.map(rowKey).toSet) :|
          "an unbudgeted next night checks every live table" &&
        Prop(leftFirst) :| s"leftovers first: $order") :| w.toString
    }, cases = 50)
  }

  test("flip: smallest-first, once on, stays on for the rest of the night") {
    val genClock = for {
      firstRun <- Gen.oneOf(false, true)
      halfway <- Gen.option(Gen.choose(0L, 1000L).map(night0.plusMillis))
      steps <- Gen.listOf(Gen.choose(0L, 200L))
    } yield (firstRun, halfway, steps.scanLeft(night0)(_.plusMillis(_)))
    check(Prop.forAll(genClock) { case (firstRun, halfway, reads) =>
      val flips = reads.map(Policy.smallestFirst(firstRun, halfway, _))
      flips == flips.sorted
    })
    // and in every drawn night, pick by pick
    check(Prop.forAllNoShrink(genWorld(Gen.const(1))) { w =>
      val m = night(spark, w.inventory, w.history, w.config,
        new ManualClock(w.start, w.tickMs), w.gone)
      m.flips == m.flips.sorted
    })
  }

  test("idempotence: a table checked today is not checked again today") {
    check(Prop.forAllNoShrink(genWorld(Gen.oneOf(1, 4))) { w =>
      val path = seeded(w)
      val cfg = w.config.copy(logToTable = true)
      val today = LocalDate.ofInstant(w.start, java.time.ZoneOffset.UTC)
      val r1 = schedulerNight(w, path, w.start, cfg)
      val again = w.start.plusSeconds(1800)
      val r2 =
        schedulerNight(w, path, again, cfg.copy(timeLimitSeconds = None))
      val before = w.history.map(o => key(o) -> o).toMap
      val first = r1.state.map(o => key(o) -> o).toMap
      def ranOn(prev: Option[CheckObject], o: CheckObject): Boolean =
        o.number_of_executions > prev.fold(0L)(_.number_of_executions)
      val sameDay = LocalDate.ofInstant(again, java.time.ZoneOffset.UTC) ==
        today
      (Prop(r1.state.forall(o => !(ranOn(before.get(key(o)), o) &&
          before.get(key(o)).exists(!Policy.isDue(_, w.start))))) :|
        "night 1 re-checked a table already checked that day" &&
        Prop(sameDay && r2.state.forall(o =>
          !(ranOn(first.get(key(o)), o) &&
            first.get(key(o)).exists(!Policy.isDue(_, again))))) :|
        "night 2 re-checked a table night 1 checked the same day") :|
        w.toString
    }, cases = 50)
  }

  test("fold: the IC:706 mean is the order-dependent integer recurrence " +
      "avg += (d - avg) / n, in the state rows and in DurationStats") {
    val t0 = Instant.parse("2026-08-12T00:00:00Z")
    val stats = new DurationStats(spark, tmp() + "/stats.json")
    var unit = 0
    check(Prop.forAll(Gen.listOf(Gen.choose(0L, 3600000L))) { ds =>
      val recurrence = ds.zipWithIndex.foldLeft(0L) {
        case (avg, (d, i)) => avg + (d - avg) / (i + 1)
      }
      val folded = ds.zipWithIndex.foldLeft(0L) {
        case (avg, (d, i)) => Policy.fold(avg, i + 1L, d)
      }
      val row = ds.zipWithIndex.foldLeft(
          CheckObject.fresh(1, "db", "U", "main", "t", "U", 1L)) {
        case (o, (d, i)) =>
          val start = t0.plusSeconds(i * 86400L)
          StateStore.recordRun(o, "C", start, start.plusMillis(d))
      }
      unit += 1
      ds.foreach(stats.record(s"u$unit", _))
      folded == recurrence && row.avg_run_duration_ms == recurrence &&
        stats.predictMs(s"u$unit") == ds.headOption.map(_ => recurrence)
    })
    // order matters: the same runs folded in another order can differ
    assert(Seq(0L, 3L).foldLeft((0L, 0L)) { case ((a, n), d) =>
      (Policy.fold(a, n + 1, d), n + 1) }._1 === 1L)
    assert(Seq(3L, 0L).foldLeft((0L, 0L)) { case ((a, n), d) =>
      (Policy.fold(a, n + 1, d), n + 1) }._1 === 2L)
  }

  test("admission and the deadline compare instants, grace included") {
    val d = Instant.parse("2026-08-12T10:00:00Z")
    val now = d.minusSeconds(10)
    assert(Policy.admits(now, 70000L, d, Policy.SchedulerGraceMs))
    assert(!Policy.admits(now, 70001L, d, Policy.SchedulerGraceMs))
    // 25 % of the prediction: 13,333 ms ends 3,333 ms late, inside
    // its 3,333 ms grace; 13,334 ms does not
    assert(Policy.admits(now, 13333L, d, Policy.arrivalGraceMs(13333L)))
    assert(!Policy.admits(now, 13334L, d, Policy.arrivalGraceMs(13334L)))
    // at least 1 s
    assert(Policy.admits(d, 1000L, d, Policy.arrivalGraceMs(1000L)))
    assert(!Policy.admits(d, 1001L, d, Policy.arrivalGraceMs(1001L)))
    // a sub-millisecond boundary decides on the instant, not the millis
    assert(!Policy.reached(d.minusNanos(1000), d))
    assert(Policy.reached(d, d))
    assert(!Policy.admits(d.minusNanos(1000), 1L, d, 0L))
  }

  test("scale: a 100,000-object, 1,000-database night (VLDB scale)") {
    val dbs = (0 until 1000).map(i => f"db$i%04d")
    val rows = for (db <- dbs; t <- 0 until 100)
      yield InventoryRow(db, "main", f"t$t%03d", "U",
        ((db.hashCode * 31 + t) & 0xffff).toLong + 1, s"/mem/$db/$t")
    val rnd = new scala.util.Random(7)
    val start = night0
    val today = LocalDate.ofInstant(start, java.time.ZoneOffset.UTC)
    val history = rows.zipWithIndex.collect {
      case (r, i) if rnd.nextInt(10) > 0 =>
        val d = today.minusDays(rnd.nextInt(30).toLong)
        CheckObject.fresh(i + 1L, r.database_name, "U", r.schema_name,
          r.object_name, "U", r.used_page_count).copy(
          number_of_executions = 1L + rnd.nextInt(50),
          avg_run_duration_ms = rnd.nextInt(20000).toLong,
          last_check_date = Date.valueOf(d))
    }
    val gone = Set(rowKey(rows(17)), rowKey(rows(50017)))
    val w = World(dbs, rows, gone, history, start, 10L,
      CheckConfig(execute = false, logToTable = false,
        timeLimitSeconds = Some(1500), concurrency = 4))
    val path = seeded(w)
    val t0 = System.nanoTime()
    val r = schedulerNight(w, path, start, w.config)
    val secs = (System.nanoTime() - t0) / 1e9
    val m = night(spark, w.inventory, w.history, w.config,
      new ManualClock(start, w.tickMs), w.gone)
    info(f"Scheduler.run over 100,000 objects: $secs%.1f s, " +
      s"${r.executedCommands.size} commands, ${r.skipped.size} skips")
    assert(r.executedCommands.count(_.startsWith("CHECKTABLE")) > 1000,
      "the budget must admit real work")
    assert(r.skipped.exists(_._2 == "time limit reached"),
      "the budget must cut the night")
    assert(r.executedCommands === m.executed)
    assert(r.skipped === m.skipped)
    assert(r.state === m.state)
  }
}

object PolicySpec {
  type Key = (String, String, String)

  /** One existing file every non-vanished table pins, so the scheduler's
    * pre-check existence probe passes without reading data (dry run). */
  lazy val pinnedFile: String = {
    val f = java.nio.file.Files.createTempFile("graft-policy", ".parquet")
    f.toFile.deleteOnExit()
    f.toString
  }

  /** A drawn world: the catalog, the state history, and one night's
    * clock and configuration. */
  final case class World(dbs: Seq[String], rows: Seq[InventoryRow],
      gone: Set[Key], history: Seq[CheckObject], start: Instant,
      tickMs: Long, config: CheckConfig) {
    def inventory: Inventory = new MemInventory(dbs, rows, gone, pinnedFile)
    override def toString: String =
      s"World(dbs=$dbs, tables=${rows.size}, gone=$gone, start=$start, " +
        s"tickMs=$tickMs, config=$config, history=" +
        history.map(o => (o.database_name, o.object_name,
          o.last_check_date, o.number_of_executions,
          o.avg_run_duration_ms)).mkString(", ") + ")"
  }

  def key(o: CheckObject): Key =
    (o.database_name, o.schema_name, o.object_name)
  def rowKey(r: InventoryRow): Key =
    (r.database_name, r.schema_name, r.object_name)

  /** An in-memory catalog: `dbs` may hold databases with no table, and
    * a `gone` table pins an empty manifest (dropped before its check). */
  final class MemInventory(dbs: Seq[String], rows: Seq[InventoryRow],
      gone: Set[Key], file: String) extends Inventory {
    private val byDb = rows.groupBy(_.database_name)
    def databases(): Seq[String] = dbs
    def objects(db: String): Seq[InventoryRow] = byDb.getOrElse(db, Nil)
    override def manifest(spark: SparkSession, row: InventoryRow)
        : TableManifest = TableManifest(isDir = false,
      if (gone(rowKey(row))) Nil else Seq(PinnedFile(file, 1L)))
  }

  /** One night: the commands it issues, what it skips and why, the state
    * it leaves, and the smallest-first flag at each pick. */
  final case class Night(executed: Seq[String],
      skipped: Seq[(String, String)], state: Seq[CheckObject],
      flips: Seq[Boolean])

  def tableCommand(spark: SparkSession, r: InventoryRow,
      config: CheckConfig): String =
    LakeChecks.checkTable(spark, r, config.physicalOnly, config.dataPurity,
      config.maxDop)._1

  /** The reference night (ref IC:505-744) as a sequential loop over
    * [[Policy]]: reconcile `history` with the inventory, then phase 1
    * and phase 2 per database, reading `clock` exactly where a night
    * reads it. Every check completes clean in `clock.elapsedMs` (a dry
    * run, or a real run over clean tables); a `gone` table is skipped at
    * its pick. Command text is [[LakeChecks]]'; the state rows are
    * [[StateStore]]'s MERGE and run record. */
  def night(spark: SparkSession, inventory: Inventory,
      history: Seq[CheckObject], config: CheckConfig, clock: ManualClock,
      gone: Set[Key] = Set.empty): Night = {
    require(config.objects.isEmpty, "the model schedules whole databases")
    val jobStart = clock.now()
    val deadline = config.timeLimitSeconds.map(jobStart.plusSeconds)
    val halfway = Policy.halfway(jobStart, config.timeLimitSeconds)
    def timeUp(): Boolean =
      deadline.exists(d => Policy.reached(clock.now(), d))
    val dbs = Selector.selectedNames(
      inventory.databases().map(Selector.DbInfo(_)), config.databases)
    val scan = dbs.flatMap(inventory.objects)
    val merged = StateStore.reconcile(history, scan)
    val state = mutable.Map(merged.map(o => key(o) -> o): _*)
    val keysByDb = merged.map(key).groupBy(_._1)
    val rows = scan.map(r => rowKey(r) -> r).toMap
    val order = Policy.databaseOrder(config.databaseOrder, dbs, merged)
    val executed = mutable.ArrayBuffer.empty[String]
    val skipped = mutable.ArrayBuffer.empty[(String, String)]
    val flips = mutable.ArrayBuffer.empty[Boolean]

    val scanByDb = scan.groupBy(_.database_name)
    order.foreach { db =>
      if (timeUp()) skipped += db -> "time limit reached before phase 1"
      else {
        val tables = scanByDb.getOrElse(db, Nil)
        executed +=
          LakeChecks.checkAlloc(spark, db, tables, config.maxDop)._1
        executed += LakeChecks.checkCatalog(spark, db, tables)._1
      }
    }
    val firstRun = Policy.firstRunMode(merged)
    order.foreach { db =>
      var flip = Policy.smallestFirst(firstRun, halfway, clock.now())
      var queue = Policy.sortQueue(keysByDb.getOrElse(db, Nil).map(state)
        .filter(o => o.active && Policy.isDue(o, jobStart)), flip)
      while (queue.nonEmpty && !timeUp()) {
        val now = clock.now()
        if (Policy.smallestFirst(firstRun, halfway, now) != flip) {
          flip = true
          queue = Policy.sortQueue(queue, flip)
        }
        flips += flip
        val pick = queue.head
        queue = queue.tail
        val name = s"${pick.database_name}.${pick.schema_name}." +
          pick.object_name
        if (deadline.exists(d => !Policy.admits(now,
            pick.avg_run_duration_ms, d, Policy.SchedulerGraceMs)))
          skipped += name -> "predicted duration exceeds time limit"
        else if (gone(key(pick)))
          skipped += name -> "object no longer exists (ref DIC:1615)"
        else {
          val cmd = tableCommand(spark, rows(key(pick)), config)
          executed += cmd
          val start = clock.now()
          state(key(pick)) = StateStore.recordRun(pick, cmd, start,
            start.plusMillis(clock.elapsedMs(System.nanoTime())))
        }
      }
      if (timeUp() && queue.nonEmpty) skipped += db -> "time limit reached"
    }
    Night(executed.toSeq, skipped.toSeq, state.values.toSeq.sortBy(_.id),
      flips.toSeq)
  }
}
