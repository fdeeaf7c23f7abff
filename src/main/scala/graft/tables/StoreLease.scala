package graft.tables

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession

/** Best-effort single-writer lease over a persisted store directory —
  * the reference's queue-claim semantics (ola/DatabaseIntegrityCheck
  * .sql:1111 UPDLOCK row claim) in lake form, shared by every
  * persisted-state tier (SigStore, AnnIndexStore, StateStore,
  * ProfileStore), each through its [[Generations]].
  *
  * Mechanics (hardened across rounds 10-11 on the SigStore, extracted
  * verbatim in round 12 so new stores inherit the proven semantics
  * instead of re-deriving them):
  *
  *  - the lock file's CONTENT carries holder UUID + heartbeat
  *    timestamp, REWRITTEN (not touched) on renew — object stores
  *    where `setTimes` is a no-op still heartbeat correctly;
  *  - acquire verifies BY RE-READING that this writer's UUID survived
  *    the create (create-if-absent is atomic on HDFS-like stores but
  *    check-then-write on the local FS and S3A — the verify closes
  *    that window: of two racers, the one whose bytes landed last
  *    wins and the other fails);
  *  - a live lease (heartbeat younger than the TTL) makes a second
  *    writer FAIL LOUDLY; a stale one is broken by renaming it aside
  *    to a breaker-unique tombstone, so of several racing breakers
  *    exactly one rename wins;
  *  - [[assertStillHeld]] runs before every store write, so a writer
  *    usurped after a TTL lapse aborts before it can interleave a
  *    commit.
  *
  * Staleness compares the holder's written timestamp with the
  * breaker's clock — single-host exact, cross-host best-effort under
  * skew. */
final class StoreLease(spark: SparkSession, path: String, what: String) {
  import StoreLease.DefaultTtlMs
  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def lockPath = new Path(path + ".lock")

  /** This instance's writer identity — what the lock file carries
    * while this instance holds the lease. */
  private val writerId = java.util.UUID.randomUUID().toString
  @volatile private var leased = false

  /** The TTL this instance declares in its lock while holding the
    * lease (set by acquire; renew re-writes it). */
  @volatile private var myTtlMs: Long = DefaultTtlMs

  /** The lock file's content: holder UUID + heartbeat timestamp + the
    * HOLDER's declared TTL, written BY the holder. None = no lock or
    * unreadable. The liveness judges that act on someone ELSE's lock
    * (canMaintain's sweep allowance, assertStillHeld's unleased-write
    * guard) read the TTL from the lock itself, so a holder that
    * acquired with a longer TTL (the arrival pass's 2 h lease) is not
    * judged dead by the 15-minute default between its renews. */
  private def readLock(): Option[(String, Long, Long)] = {
    try {
      val in = fs.open(lockPath)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      txt.trim.split("\\s+") match {
        // malformed numerics (corrupt/truncated lock) must flow into
        // the designed handling — acquire's loud lease message,
        // canMaintain's false — not escape as NumberFormatException
        // (round-12 review): fall back to the file's mtime / the
        // default TTL.
        case Array(id, ts, ttl) => Some((id,
          ts.toLongOption.getOrElse(
            fs.getFileStatus(lockPath).getModificationTime),
          ttl.toLongOption.getOrElse(DefaultTtlMs)))
        case Array(id, ts) => // v2 lock (no TTL field)
          Some((id,
            ts.toLongOption.getOrElse(
              fs.getFileStatus(lockPath).getModificationTime),
            DefaultTtlMs))
        case Array(id) => // pre-v2 lock: fall back to mtime
          Some((id, fs.getFileStatus(lockPath).getModificationTime,
            DefaultTtlMs))
        case other =>
          // ≥4 tokens = corruption. The old spelling returned an
          // instantly-STALE sentinel (("", 0L)) — which let a torn
          // write on a live holder's lock be broken immediately and
          // let canMaintain sweep under the live writer (round-14
          // review). Fail SAFE instead, like the other malformed
          // arms: first token + mtime + default TTL.
          Some((other.headOption.getOrElse(""),
            fs.getFileStatus(lockPath).getModificationTime,
            DefaultTtlMs))
      }
    } catch { case _: java.io.IOException => None }
  }

  private def writeLock(overwrite: Boolean): Unit = {
    val out = fs.create(lockPath, overwrite)
    out.writeBytes(
      s"$writerId ${System.currentTimeMillis()} $myTtlMs\n")
    out.close()
  }

  /** Claim the store for writing (see class doc for the race story).
    * `ttlMs` is this writer's declared liveness TTL (written into the
    * lock, honored by every other judge). An EXISTING lock's staleness
    * is judged by max(ttlMs, the lock's own declared TTL): the holder
    * declared how long its heartbeats may gap (canMaintain and
    * assertStillHeld already honor that declaration), so a default-TTL
    * acquirer must not break a live long-TTL holder (the arrival
    * pass's 2 h lease) fifteen minutes after its last renew
    * (round-14 advice). `ttlMs` stays the FLOOR of the patience so an
    * operator/spec can still declare extra patience of its own. */
  def acquire(ttlMs: Long = DefaultTtlMs): Unit = {
    myTtlMs = ttlMs
    readLock() match {
      case Some((holder, hb, lockTtl)) =>
        val patience = math.max(ttlMs, lockTtl)
        val age = System.currentTimeMillis() - hb
        if (age < patience) throw new IllegalStateException(
          s"$what at $path is leased to writer $holder " +
            s"(heartbeat age ${age} ms < ttl ${patience} ms): the store " +
            "is leased by another live run, and a second writer would " +
            "interleave its swap chain. If the holder is dead, the " +
            s"lease self-heals after the ttl (or remove $path.lock)")
        // stale: break it by renaming aside — one breaker wins
        val tomb = new Path(path + s".lock.broken.$writerId")
        if (!fs.rename(lockPath, tomb)) throw new IllegalStateException(
          s"$what at $path: lost the stale-lease break race to " +
            "another writer")
        // a failed tombstone delete must not strand garbage silently
        // (round-12 review): retry once, then leave it for
        // sweepTombstones() — the maintenance path that reaps strays
        if (!fs.delete(tomb, false) && fs.exists(tomb) &&
            !fs.delete(tomb, false))
          System.err.println(s"[StoreLease] could not delete stale-" +
            s"lease tombstone $tomb; maintenance will sweep it")
      case None => () // no lock (or vanished mid-read: create decides)
    }
    try writeLock(overwrite = false)
    catch {
      case _: FileAlreadyExistsException |
          _: org.apache.hadoop.fs.PathExistsException =>
        throw new IllegalStateException(
          s"$what at $path was leased concurrently by another " +
            "writer (lost the lock-file creation race)")
    }
    // write-then-verify: on stores whose create(overwrite=false) is
    // check-then-write, two racers can both "succeed" — the re-read
    // picks the one whose bytes landed last
    readLock() match {
      case Some((id, _, _)) if id == writerId => leased = true
      case other => throw new IllegalStateException(
        s"$what at $path was leased concurrently by another " +
          s"writer (lock now carries ${other.map(_._1)})")
    }
  }

  /** Heartbeat: rewrite the lock content with a fresh timestamp so a
    * long run outlives the TTL. Call once per batch; verifies this
    * writer still OWNS the lease first and fails loudly if a breaker
    * took it (the batch must abort rather than interleave commits).
    * Calling renew() WITHOUT having acquired is refused — the
    * overwrite would silently usurp a live holder's lock. */
  def renew(): Unit = {
    if (!leased) throw new IllegalStateException(
      s"$what at $path: renew() without an acquired lease would " +
        "overwrite the live holder's lock; call acquire() first")
    assertStillHeld()
    writeLock(overwrite = true)
  }

  /** Called before every store write. Leased instance: fail if the
    * lock no longer carries OUR UUID (broken by another writer after
    * a TTL lapse), so a usurped writer aborts before it can interleave
    * a commit. UNLEASED instance: the lease is opt-in (specs and
    * single-process tools write without one), but an unleased write
    * while ANOTHER writer's lease is LIVE would interleave with its
    * generation swaps unchecked — fail loudly instead (round-12
    * review: assertStillHeld was a silent no-op here, contradicting
    * the "second writer fails loudly" contract). A stale lock does not
    * block: its holder is dead by the same TTL contract acquire()
    * breaks leases with. */
  def assertStillHeld(): Unit =
    if (leased) {
      readLock() match {
        case Some((id, _, _)) if id == writerId => ()
        case other => throw new IllegalStateException(
          s"$what at $path: writer lease lost (lock now carries " +
            s"${other.map(_._1).getOrElse("<absent>")}); aborting the " +
            "store write — another writer may have claimed the store " +
            "after a TTL lapse")
      }
    } else readLock() match {
      // liveness judged by the HOLDER's declared TTL (carried in the
      // lock), not the default: a long-TTL lease between renews is
      // still live to an unleased writer
      case Some((id, hb, lockTtl))
          if id != writerId &&
            System.currentTimeMillis() - hb < lockTtl =>
        throw new IllegalStateException(
          s"$what at $path is leased to writer $id and this writer " +
            "never acquired the lease; an unleased write would " +
            "interleave with the holder's commits. Acquire the lease " +
            "(acquire()/withLease) or wait for its expiry.")
      case _ => ()
    }

  /** Whether THIS instance currently believes it holds the lease —
    * gate for writer-only maintenance (e.g. sweeping a dynamic
    * overwrite's staging dirs, which on a READ path would delete a
    * concurrent writer's in-flight commit). */
  def isHeld: Boolean = leased

  /** Whether this context may run STRAY-FILE maintenance (discard a
    * garbage tmp generation, sweep staging dirs): it VERIFIABLY holds
    * the lease (the local flag is re-checked against the lock content,
    * so a writer usurped after a TTL lapse cannot sweep the live
    * usurper's in-flight staging), or NO writer holds one (every
    * disciplined writer leases, so an absent lock means no in-flight
    * commit to race — best-effort, like the lease itself: the
    * check-then-clean window is accepted). A PRESENT-but-unreadable
    * lock blocks maintenance — a transient read error must not be
    * taken as "no writer". */
  def canMaintain: Boolean =
    if (leased) readLock().exists(_._1 == writerId)
    else {
      try {
        !fs.exists(lockPath) || readLock().exists { case (_, hb, ttl) =>
          // a READABLE but STALE lock (heartbeat past the HOLDER's
          // declared TTL, carried in the lock) does not block
          // maintenance: its holder is dead by the same contract
          // acquire() breaks leases with — otherwise one crashed
          // writer's lock file blocks every future reader's recovery
          // forever. An unreadable lock still blocks (the None case).
          System.currentTimeMillis() - hb >= ttl
        }
      } catch { case _: java.io.IOException => false }
    }

  /** Reap stray stale-lease tombstones (`<path>.lock.broken.*` — a
    * breaker whose delete failed leaves one; round-12 review). Safe
    * only under the [[canMaintain]] discipline; the caller
    * ([[Generations.recover]]'s maintenance section) gates it there. */
  def sweepTombstones(): Unit = {
    val dir = new Path(path).getParent
    val prefix = new Path(path).getName + ".lock.broken."
    try {
      if (dir != null && fs.exists(dir))
        fs.listStatus(dir).filter(_.getPath.getName.startsWith(prefix))
          .foreach(s => fs.delete(s.getPath, false))
    } catch { case _: java.io.IOException => () }
    ()
  }

  def release(): Unit = {
    // only the owner may release; a usurped lease belongs to the
    // usurper now
    if (readLock().exists(_._1 == writerId)) fs.delete(lockPath, false)
    leased = false
    ()
  }

  /** Renew only if this instance holds the lease — the heartbeat hook
    * for code paths that run BOTH leased (under withLease) and
    * unleased (single-process tools, specs), where renew()'s
    * no-lease refusal would be wrong. */
  def renewIfHeld(): Unit = if (leased) renew()

  def withLease[T](f: => T): T = {
    acquire()
    try f finally release()
  }
}

object StoreLease {
  /** One DEFAULT TTL everywhere. Since round 14 the holder's declared
    * TTL travels IN the lock (third token), so assertStillHeld's
    * unleased-write guard and canMaintain's stale-lock allowance judge
    * a non-default lease (the arrival pass's 2 h lock) by the TTL its
    * holder actually declared; this constant remains the declaration
    * default, the legacy-lock fallback, and the trash-age grace. */
  val DefaultTtlMs: Long = 15 * 60 * 1000L
}
