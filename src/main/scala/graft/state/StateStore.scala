package graft.state

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

import graft.catalog.InventoryRow
import graft.model.CheckObject

/** Persistent check-history state (SURVEY.md §7.1 step 4) — the lake
  * re-expression of `dbo.CheckTableObjects` + its MERGE
  * (ref IntegrityChecks_VLDB.sql:41-65, 454-484, 700-722).
  *
  * State is one row per table, so it is driver-small by construction even
  * at 100 TB of data under check (100k tables → 100k rows). Persistence is
  * a parquet dataset rewritten atomically (write-temp-and-swap,
  * SURVEY.md §7.4 hard-problem #3); the MERGE itself is pure Scala over the
  * loaded rows, with identical semantics to the reference's 3 clauses.
  * Both load and save run on the driver with no Spark job: the rows are
  * decoded and encoded by Spark's own parquet reader and writer
  * (`GraftSqlBridge.readParquetRows`/`writeParquetFile`), so the files are
  * those a one-partition Spark write leaves and `spark.read.parquet` reads
  * them as before; the swap around the write is unchanged.
  */
final class StateStore(spark: SparkSession, path: String,
    leaseTtlMs: Long = 10 * 60 * 1000L) {
  import spark.implicits._

  private val lockPath = new Path(path + ".lock")
  private val ownerId = java.util.UUID.randomUUID().toString

  /** Mutual exclusion for the save() swap — the minimal lake analog of
    * the reference's queue-claim semantics (ref ola/Queue.sql:7-21: rows
    * claimed under UPDLOCK so two sessions never run the same work;
    * dead-session liveness reset at DatabaseIntegrityCheck.sql:1198-1207).
    * Spark owns parallelism WITHIN a run (SURVEY §2.11), but nothing
    * stops an operator from launching two drivers against one state
    * path — without this, the second driver's rename swap silently
    * clobbers the first's just-written history. The lease is an
    * exclusively-created marker file: concurrent holders fail LOUDLY;
    * a holder that died is healed via TTL (a lease older than
    * `leaseTtlMs` is broken with a warning — save() holds it for
    * seconds, so minutes-old means a dead driver, the reference's
    * liveness-reset semantics). */
  private[graft] def acquireLease(): Unit = {
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(lockPath)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lockPath).getModificationTime
      if (age < leaseTtlMs) throw new IllegalStateException(
        s"state path is leased by another live run (lock $lockPath, " +
          s"age ${age} ms < ttl ${leaseTtlMs} ms). Two graft drivers " +
          "must not share a state path concurrently; if the other " +
          "driver is dead, the lease self-heals after the ttl")
      // Break the stale lease by RENAME, not delete: rename is atomic on
      // HDFS/local, so of two drivers healing the same dead lease exactly
      // ONE wins the rename — the loser must NOT blind-delete (it could
      // destroy the winner's fresh lock) and instead loses the race
      // loudly. (On S3-class stores without atomic rename the lease is
      // advisory; a conditional-PUT lock service is the real analog.)
      val broken = new Path(path + s".lock.broken-$ownerId")
      if (!fs.rename(lockPath, broken)) throw new IllegalStateException(
        s"stale lease at $lockPath was claimed by another healing driver " +
          "concurrently — retry after it finishes")
      System.err.println(
        s"[state] broke stale lease at $lockPath (age ${age} ms)")
      fs.delete(broken, false)
    }
    try {
      // create(overwrite=false) is the atomic claim: exactly one of two
      // racing drivers gets the file, the other lands in catch below
      val out = fs.create(lockPath, false)
      try out.write(
        (s"""{"owner": "$ownerId", """ +
          s""""acquired_ms": ${System.currentTimeMillis()}}""")
          .getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"lost the state-lease race at $lockPath — another run claimed " +
          "it concurrently", e)
    }
  }

  /** Release ONLY a lease this instance owns: a delete without the owner
    * check could destroy the fresh lock of a driver that broke our stale
    * lease while we were suspended past the ttl. */
  private[graft] def releaseLease(): Unit = {
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(lockPath)) {
      val mine = try {
        val in = fs.open(lockPath)
        try {
          val buf = new Array[Byte](4096)
          val n = math.max(in.read(buf), 0)
          new String(buf, 0, n, "UTF-8").contains(ownerId)
        } finally in.close()
      } catch { case _: java.io.IOException => false }
      if (mine) fs.delete(lockPath, false)
    }
  }

  def load(): Seq[CheckObject] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery, newest complete generation first: save() can die
    // between rename(p, pOld) and rename(pTmp, p) — at that point
    // '<path>.tmp' already holds the NEWER state, fully written (its
    // _SUCCESS marker proves the write committed; a crash mid-write
    // leaves no marker and the tmp is ignored). Fall back to '.old' only
    // when no complete tmp exists, so the history is never silently
    // reset and never rolled back when a newer generation survives.
    // Precedence: a complete tmp beats '<path>' — tmp only survives a
    // crash between its own commit and the swap, at which point it is
    // strictly the newer generation (every save() rewrites tmp first).
    val tmp = new Path(path + ".tmp")
    val src =
      if (fs.exists(new Path(tmp, "_SUCCESS"))) Some(path + ".tmp")
      else if (fs.exists(p)) Some(path)
      else if (fs.exists(new Path(path + ".old"))) Some(path + ".old")
      else None
    src.fold(Seq.empty[CheckObject])(s =>
      GraftSqlBridge.readParquetRows[CheckObject](spark, new Path(s)))
  }

  /** Atomic rewrite: write `<path>.tmp` (its data file under a hidden name
    * until closed, then `_SUCCESS`), swap via rename so a killed run
    * never leaves a half-written state (ref: DBMS atomicity, §7.4 #3).
    * The whole write+swap runs under the state lease (see acquireLease):
    * a second driver on the same path fails loudly instead of silently
    * clobbering the tmp/old/current generation chain. */
  def save(rows: Seq[CheckObject]): Unit = {
    acquireLease()
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pTmp = new Path(path + ".tmp")
      val pOld = new Path(path + ".old")
      fs.delete(pTmp, true) // a tmp left by a save that died mid-write
      GraftSqlBridge.writeParquetFile(spark, pTmp, rows)
      if (fs.exists(pOld)) fs.delete(pOld, true)
      if (fs.exists(p)) fs.rename(p, pOld)
      fs.rename(pTmp, p)
      fs.delete(pOld, true)
    } finally releaseLease()
  }
}

object StateStore {

  /** The 3-clause MERGE (ref IC:454-484):
    *  - MATCHED            → refresh size/type, re-activate
    *  - NOT MATCHED        → insert fresh (id continues the sequence)
    *  - NOT MATCHED BY SOURCE → soft-delete (active=false), stats kept
    */
  def reconcile(state: Seq[CheckObject], scan: Seq[InventoryRow])
      : Seq[CheckObject] = {
    val key = (o: CheckObject) => (o.database_name, o.schema_name, o.object_name)
    val scanByKey = scan.map(r =>
      (r.database_name, r.schema_name, r.object_name) -> r).toMap
    val stateKeys = state.map(key).toSet
    var nextId = (state.map(_.id) :+ 0L).max

    val updatedOrDeactivated = state.map { o =>
      scanByKey.get(key(o)) match {
        case Some(r) => o.copy(used_page_count = r.used_page_count,
          object_type = r.object_type, active = true)
        case None => o.copy(active = false)
      }
    }
    val inserted = scan
      .filterNot(r => stateKeys((r.database_name, r.schema_name, r.object_name)))
      .map { r =>
        nextId += 1
        CheckObject.fresh(nextId, r.database_name, "U", r.schema_name,
          r.object_name, r.object_type, r.used_page_count)
      }
    updatedOrDeactivated ++ inserted
  }

  /** Post-run stat update (ref IC:700-722): shuffles current run into the
    * Previous* columns, bumps the execution count, and folds the duration
    * into the running average with the reference's exact recurrence
    * `avg += (new - avg) / n` (integer arithmetic, ref IC:706). */
  def recordRun(o: CheckObject, command: String, start: Instant, end: Instant)
      : CheckObject = {
    val durationMs = end.toEpochMilli - start.toEpochMilli
    val n = o.number_of_executions + 1
    val newAvg = o.avg_run_duration_ms + (durationMs - o.avg_run_duration_ms) / n
    o.copy(
      previous_run_date = o.start_time,
      previous_run_duration_ms = o.run_duration_ms,
      start_time = Some(Timestamp.from(start)),
      end_time = Some(Timestamp.from(end)),
      run_duration_ms = durationMs,
      command = command,
      number_of_executions = n,
      avg_run_duration_ms = newAvg,
      last_check_date = Date.valueOf(
        LocalDate.ofInstant(start, ZoneOffset.UTC)))
  }

  /** Daily idempotence predicate (ref IC:664-665): a row is due when its
    * last check date differs from the job's start date. */
  def isDueOn(o: CheckObject, jobStart: Instant): Boolean =
    o.last_check_date.toLocalDate != LocalDate.ofInstant(jobStart, ZoneOffset.UTC)
}
