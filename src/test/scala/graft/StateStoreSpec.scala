package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.InventoryRow
import graft.model.CheckObject
import graft.scheduler.Policy
import graft.state.StateStore

/** MERGE arms + incremental-mean recurrence + daily idempotence
  * (ref IntegrityChecks_VLDB.sql:454-484, 700-722, 664-665). */
class StateStoreSpec extends AnyFunSuite {

  def inv(name: String, size: Long): InventoryRow =
    InventoryRow("db", "main", name, "U", size, s"/x/$name.parquet")
  def obj(id: Long, name: String, size: Long = 10L): CheckObject =
    CheckObject.fresh(id, "db", "U", "main", name, "U", size)

  test("MERGE: matched rows refresh size and stay active") {
    val state = Seq(obj(1, "a", 10).copy(number_of_executions = 5))
    val merged = StateStore.reconcile(state, Seq(inv("a", 99)))
    assert(merged.size === 1)
    assert(merged.head.used_page_count === 99)
    assert(merged.head.active)
    assert(merged.head.number_of_executions === 5) // stats preserved
  }

  test("MERGE: new objects inserted with continuing ids") {
    val merged = StateStore.reconcile(Seq(obj(7, "a")), Seq(inv("a", 1), inv("b", 2)))
    val b = merged.find(_.object_name == "b").get
    assert(b.id === 8)
    assert(b.number_of_executions === 0)
    assert(b.last_check_date === CheckObject.SentinelDate)
  }

  test("MERGE: dropped objects soft-deleted, stats kept (ref IC:482-483)") {
    val state = Seq(obj(1, "gone").copy(number_of_executions = 3))
    val merged = StateStore.reconcile(state, Seq.empty)
    assert(merged.size === 1)
    assert(!merged.head.active)
    assert(merged.head.number_of_executions === 3)
  }

  test("MERGE: reactivation of a previously dropped object") {
    val state = Seq(obj(1, "back").copy(active = false))
    val merged = StateStore.reconcile(state, Seq(inv("back", 5)))
    assert(merged.head.active)
  }

  test("recordRun: incremental mean follows avg += (new-avg)/n (ref IC:706)") {
    var o = obj(1, "a")
    val t0 = Instant.parse("2026-08-12T10:00:00Z")
    // runs of 100ms, 200ms, 600ms -> integer-arithmetic means 100, 150, 300
    val durations = Seq(100L, 200L, 600L)
    val expected = Seq(100L, 150L, 300L)
    durations.zip(expected).zipWithIndex.foreach { case ((d, e), i) =>
      val start = t0.plusSeconds(i * 3600L)
      o = StateStore.recordRun(o, "CMD", start, start.plusMillis(d))
      assert(o.avg_run_duration_ms === e, s"after run $i")
      assert(o.run_duration_ms === d)
      assert(o.number_of_executions === i + 1)
    }
  }

  test("recordRun: previous-run columns shuffle (ref IC:716-717)") {
    val t0 = Instant.parse("2026-08-12T10:00:00Z")
    val o1 = StateStore.recordRun(obj(1, "a"), "C1", t0, t0.plusMillis(100))
    val o2 = StateStore.recordRun(o1, "C2",
      t0.plusSeconds(60), t0.plusSeconds(60).plusMillis(250))
    assert(o2.previous_run_date === o1.start_time)
    assert(o2.previous_run_duration_ms === 100L)
    assert(o2.run_duration_ms === 250L)
  }

  test("daily idempotence: checked today is not due (ref IC:664-665)") {
    val t0 = Instant.parse("2026-08-12T10:00:00Z")
    val o = StateStore.recordRun(obj(1, "a"), "C", t0, t0.plusMillis(10))
    assert(!Policy.isDue(o, t0.plusSeconds(7200)))
    // the reference's manual time-travel fixture: -1 day makes it due again
    // (ref IC:787-790)
    val yesterday = o.copy(last_check_date =
      java.sql.Date.valueOf(o.last_check_date.toLocalDate.minusDays(1)))
    assert(Policy.isDue(yesterday, t0.plusSeconds(7200)))
  }

  test("save/load round-trips through parquet atomically") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val store = new graft.state.StateStore(spark, s"$dir/state")
    assert(store.load().isEmpty)
    val t0 = Instant.parse("2026-08-12T10:00:00Z")
    val rows = Seq(
      StateStore.recordRun(obj(1, "a"), "C", t0, t0.plusMillis(42)),
      obj(2, "b").copy(active = false))
    store.save(rows)
    val loaded = store.load().sortBy(_.id)
    assert(loaded === rows.sortBy(_.id))
    // second save overwrites (swap), not appends
    store.save(rows.take(1))
    assert(store.load().size === 1)
  }

  test("load falls back to <path>.old when the swap died mid-rename") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val store = new graft.state.StateStore(spark, s"$dir/state")
    val rows = Seq(obj(1, "a"))
    store.save(rows)
    // simulate a crash between rename(p, pOld) and rename(pTmp, p):
    // only '<path>.old' remains on disk
    val fs = new org.apache.hadoop.fs.Path(s"$dir/state")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/state"),
      new org.apache.hadoop.fs.Path(s"$dir/state.old"))
    assert(store.load() === rows)
  }

  test("load prefers a complete <path>.tmp — the newer crashed generation") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val store = new graft.state.StateStore(spark, s"$dir/state")
    store.save(Seq(obj(1, "gen1")))
    // simulate a crash AFTER the new generation's tmp committed but
    // BEFORE the swap: write gen2 as a complete '<path>.tmp' (saving
    // through a store rooted there produces the dir + _SUCCESS marker)
    new graft.state.StateStore(spark, s"$dir/state.tmp")
      .save(Seq(obj(2, "gen2")))
    val loaded = store.load()
    assert(loaded.map(_.object_name) === Seq("gen2"),
      "the complete tmp is strictly newer than the swapped path")
  }

  test("two drivers on one state path: the second save fails loudly") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val store1 = new graft.state.StateStore(spark, s"$dir/state")
    val store2 = new graft.state.StateStore(spark, s"$dir/state")
    // driver 1 is mid-save (holds the lease) when driver 2's save lands
    store1.acquireLease()
    val e = intercept[IllegalStateException] {
      store2.save(Seq(obj(1, "a")))
    }
    assert(e.getMessage.contains("leased by another live run"))
    // the loser must not have clobbered anything
    assert(store1.load().isEmpty)
    store1.releaseLease()
    store2.save(Seq(obj(1, "a")))
    assert(store2.load().size === 1)
  }

  test("a dead driver's lease self-heals after the ttl") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val crashed = new graft.state.StateStore(spark, s"$dir/state",
      leaseTtlMs = 1L)
    crashed.acquireLease() // driver dies here, lease left behind
    Thread.sleep(10)
    val healer = new graft.state.StateStore(spark, s"$dir/state",
      leaseTtlMs = 1L)
    healer.save(Seq(obj(1, "a"))) // breaks the stale lease, then proceeds
    assert(healer.load().size === 1)
  }

  test("a saver declaring a 1 ms ttl cannot break a live lease: the " +
      "holder's declared ttl governs") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val holder = new graft.state.StateStore(spark, s"$dir/state")
    holder.acquireLease()
    try {
      Thread.sleep(10)
      val impatient = new graft.state.StateStore(spark, s"$dir/state",
        leaseTtlMs = 1L)
      val e = intercept[IllegalStateException] {
        impatient.save(Seq(obj(1, "a")))
      }
      assert(e.getMessage.contains("leased by another live run"))
      assert(holder.load().isEmpty)
    } finally holder.releaseLease()
  }

  test("a lock left in the earlier JSON format blocks save while fresh " +
      "and is broken once its mtime is older than the ttl") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
    val lock = new org.apache.hadoop.fs.Path(s"$dir/state.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.writeBytes(s"""{"owner": "dead-driver", "acquired_ms": """ +
      s"""${System.currentTimeMillis()}}""")
    out.close()
    val store = new graft.state.StateStore(spark, s"$dir/state")
    val e = intercept[IllegalStateException](store.save(Seq(obj(1, "a"))))
    assert(e.getMessage.contains("leased by another live run"))
    assert(store.load().isEmpty)
    val stale = System.currentTimeMillis() -
      graft.tables.StoreLease.DefaultTtlMs - 60 * 1000L
    fs.setTimes(lock, stale, stale)
    store.save(Seq(obj(1, "a")))
    assert(store.load().map(_.object_name) === Seq("a"))
    assert(!fs.exists(lock), "the broken lease is gone after the save")
  }
}
