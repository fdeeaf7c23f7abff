package graft.state

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

import graft.catalog.InventoryRow
import graft.model.CheckObject
import graft.scheduler.Policy
import graft.tables.Generations

/** Persistent check-history state (SURVEY.md §7.1 step 4) — the lake
  * re-expression of `dbo.CheckTableObjects` + its MERGE
  * (ref IntegrityChecks_VLDB.sql:41-65, 454-484, 700-722).
  *
  * State is one row per table, so it is driver-small by construction even
  * at 100 TB of data under check (100k tables → 100k rows). Persistence is
  * a parquet dataset rewritten as whole generations by
  * [[graft.tables.Generations]] (write tmp, swap, crash-ordered reads);
  * the MERGE itself is pure Scala over the loaded rows, with identical
  * semantics to the reference's 3 clauses. Both load and save run on the
  * driver with no Spark job: the rows are decoded and encoded by Spark's
  * own parquet reader and writer (`GraftSqlBridge.readParquetRows`/
  * `writeParquetFile`), so the files are those a one-partition Spark
  * write leaves and `spark.read.parquet` reads them as before.
  */
final class StateStore(spark: SparkSession, path: String,
    leaseTtlMs: Long = 10 * 60 * 1000L) {
  import spark.implicits._

  private val gens = new Generations(spark, path, "StateStore",
    Seq("_SUCCESS"))

  /** Mutual exclusion for the save() swap — the reference's queue-claim
    * semantics (ref ola/Queue.sql:7-21: rows claimed under UPDLOCK so two
    * sessions never run the same work; dead-session liveness reset at
    * DatabaseIntegrityCheck.sql:1198-1207). Spark owns parallelism WITHIN
    * a run (SURVEY §2.11), but nothing stops an operator from launching
    * two drivers against one state path; the second fails LOUDLY instead
    * of clobbering the first's history. The lease is the shared
    * [[graft.tables.StoreLease]], declaring `leaseTtlMs`: a lease whose
    * holder died heals once its heartbeat is older than the TTL the
    * holder declared. */
  private[graft] def acquireLease(): Unit = gens.lease.acquire(leaseTtlMs)

  private[graft] def releaseLease(): Unit = gens.lease.release()

  /** The newest complete generation ([[Generations.newest]]), or no rows
    * before the first save. */
  def load(): Seq[CheckObject] =
    gens.newest().fold(Seq.empty[CheckObject])(
      GraftSqlBridge.readParquetRows[CheckObject](spark, _))

  /** Atomic rewrite under the state lease: a killed run never leaves a
    * half-written state (ref: DBMS atomicity, §7.4 #3). */
  def save(rows: Seq[CheckObject]): Unit = {
    acquireLease()
    try gens.writeGeneration(tmp =>
      GraftSqlBridge.writeParquetFile(spark, new Path(tmp), rows))
    finally releaseLease()
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
    * into the running average ([[Policy.fold]], ref IC:706). */
  def recordRun(o: CheckObject, command: String, start: Instant, end: Instant)
      : CheckObject = {
    val durationMs = end.toEpochMilli - start.toEpochMilli
    val n = o.number_of_executions + 1
    o.copy(
      previous_run_date = o.start_time,
      previous_run_duration_ms = o.run_duration_ms,
      start_time = Some(Timestamp.from(start)),
      end_time = Some(Timestamp.from(end)),
      run_duration_ms = durationMs,
      command = command,
      number_of_executions = n,
      avg_run_duration_ms =
        Policy.fold(o.avg_run_duration_ms, n, durationMs),
      last_check_date = Date.valueOf(
        LocalDate.ofInstant(start, ZoneOffset.UTC)))
  }
}
