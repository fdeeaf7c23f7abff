package graft.scheduler

import java.time.{Instant, LocalDate, ZoneOffset}

import graft.model.{CheckObject, DatabaseOrder}

/** The reference's scheduling policy (SURVEY.md §3.1; ref
  * IntegrityChecks_VLDB.sql:505-744) as pure functions over state rows
  * and clock readings: no session, no filesystem, no clock of its own.
  * [[Scheduler]], [[IncrementalScheduler]] and [[ArrivalPass]] make
  * every scheduling decision through it, and `PolicySpec`'s reference
  * night is built from it.
  *
  * Policy, faithfully reproduced:
  *  - Phase 1: CHECKALLOC + CHECKCATALOG per database, deadline-gated
  *    (ref IC:505-577).
  *  - Phase 2: databases by oldest MIN(LastCheckDate) first (ref IC:583-595)
  *    or another [[DatabaseOrder]] (ref DIC:1003-1089); within a database,
  *    tables least-recently-checked first; after HALF the budget,
  *    smallest-first, one way (ref IC:647-668), or from the start when
  *    most tables were never checked (ref IC:602-604); skip a table whose
  *    predicted duration (the persisted incremental average) would overrun
  *    the deadline plus a grace (ref IC:677-680); a table already checked
  *    today is not re-checked (ref IC:664-665).
  *
  * Every comparison is on `Instant`s, so a sub-millisecond boundary under
  * a wall clock decides the same way in every driver. */
object Policy {

  /** The batch scheduler's grace, ref IC:677-680 "+ 1 minute". */
  val SchedulerGraceMs: Long = 60L * 1000

  /** The arrival stages' and incremental tables' grace: 25 % of the
    * prediction, at least 1 s. Their averages are noisier, and an
    * admitted overrunner stops at the deadline per micro-batch. */
  def arrivalGraceMs(predictedMs: Long): Long =
    math.max(1000L, predictedMs / 4)

  /** Half the budget (ref IC:647-649), the smallest-first flip point. */
  def halfway(jobStart: Instant, timeLimitSeconds: Option[Long])
      : Option[Instant] =
    timeLimitSeconds.map(s => jobStart.plusMillis(s * 1000 / 2))

  /** Is the time up (ref IC:592, 644): `now` is at or past `mark`. */
  def reached(now: Instant, mark: Instant): Boolean = !now.isBefore(mark)

  /** Admission (ref IC:677-680): a unit predicted to take `predictedMs`
    * from `now` may start unless it would end after the deadline plus
    * the grace. */
  def admits(now: Instant, predictedMs: Long, deadline: Instant,
      graceMs: Long): Boolean =
    !now.plusMillis(predictedMs).isAfter(deadline.plusMillis(graceMs))

  /** The IC:706 running mean in integer arithmetic: the average after
    * the `n`-th run, of `durationMs`, given the average of the first
    * n - 1. */
  def fold(avg: Long, n: Long, durationMs: Long): Long =
    avg + (durationMs - avg) / n

  /** Same-day idempotence (ref IC:664-665): a row is due when its last
    * check date (UTC) differs from the job's start date. */
  def isDue(o: CheckObject, jobStart: Instant): Boolean =
    o.last_check_date.toLocalDate !=
      LocalDate.ofInstant(jobStart, ZoneOffset.UTC)

  /** The order databases are visited in (ref DIC:1003-1089; the default
    * LastGoodCheckAsc is IC:583-595), every tie broken by name. The
    * per-database keys come from one pass over `state`. */
  def databaseOrder(order: DatabaseOrder, selected: Seq[String],
      state: Seq[CheckObject]): Seq[String] = {
    import DatabaseOrder._
    val activeByDb = state.filter(_.active).groupBy(_.database_name)
    def minCheck(db: String): LocalDate =
      activeByDb.getOrElse(db, Seq.empty)
        .map(_.last_check_date.toLocalDate)
        .minOption.getOrElse(LocalDate.of(1900, 1, 1))
    def size(db: String): Long =
      activeByDb.getOrElse(db, Seq.empty).map(_.used_page_count).sum
    order match {
      case NameAsc => selected.sorted
      case NameDesc => selected.sorted.reverse
      case SizeAsc => selected.sortBy(db => (size(db), db))
      case SizeDesc => selected.sortBy(db => (-size(db), db))
      case LastGoodCheckAsc => selected.sortBy(db => (minCheck(db), db))
      case LastGoodCheckDesc =>
        selected.sortBy(db => (minCheck(db), db))(
          Ordering.Tuple2(Ordering[LocalDate].reverse, Ordering[String]))
    }
  }

  /** First-run mode (ref IC:602-604): most active rows were never
    * checked, so go smallest-first from the start to maximize coverage. */
  def firstRunMode(state: Seq[CheckObject]): Boolean = {
    val active = state.filter(_.active)
    active.count(_.number_of_executions == 0) >
      active.count(_.number_of_executions > 0)
  }

  /** Smallest-first ordering is on in first-run mode and from the
    * halfway mark on; time only moves forward, so the flip is one-way.
    * `now` is read only when the answer depends on it, so a
    * deterministic clock ticks the same way in every caller. */
  def smallestFirst(firstRun: Boolean, halfway: Option[Instant],
      now: => Instant): Boolean =
    firstRun || halfway.exists(h => reached(now, h))

  /** A database's work queue, head first: least-recently-checked, then
    * smallest (once flipped), then name. The reference re-evaluates its
    * argmin (TOP 1 ... ORDER BY, ref IC:651-668) before every check; every
    * key here is static within a night (a check changes only its own
    * row, which leaves the queue), so the sorted queue's head is that
    * argmin and a flip re-sorts once: O(n log n) driver work a night,
    * not the O(n²) of a scan per pick. */
  def sortQueue(q: Seq[CheckObject], smallestFirst: Boolean)
      : List[CheckObject] =
    q.sortBy(o => (o.last_check_date.toLocalDate,
      if (smallestFirst) o.used_page_count else 0L,
      o.object_name, o.schema_name)).toList
}
