package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The crash-safe generation protocol of every persisted store
  * (SigStore, AnnIndexStore, StateStore, ProfileStore) — the lake form
  * of the reference's transactional state tables (IC:454-484, SURVEY.md
  * §7.4 hard-problem #3): a run killed at any point leaves the newest
  * complete generation readable, never a half-written one.
  *
  * On disk, beside the live generation `<path>`:
  *  - `<path>.tmp` — the next generation, being written. It is finished
  *    once every file named in `complete` is in it (`_SUCCESS`, plus the
  *    store's `_graft_meta.json` where it keeps one);
  *  - `<path>.old` — the live generation a swap archived before renaming
  *    the tmp over it;
  *  - `<path>.bakparts` — the partition cells an in-place rewrite
  *    ([[commitCells]]) archived before its dynamic overwrite;
  *  - `<path>.trash.<millis>.<uuid>` — a generation a completed recovery
  *    superseded, reaped once older than the lease TTL;
  *  - `<path>.lock` — the single-writer [[lease]].
  *
  * Writers: [[writeGeneration]] (a full rewrite: tmp, then swap) and
  * [[commitCells]] (archive, then dynamic overwrite of the touched cells).
  * Readers either take [[newest]] (read-only: complete tmp > `<path>` >
  * `.old`), or [[recover]] first and read [[serveRoot]] ([[read]]). */
final class Generations(spark: SparkSession, path: String, what: String,
    complete: Seq[String]) {

  /** The store's writer lease; every mutation below is gated by it. */
  val lease = new StoreLease(spark, path, what)

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val live = new Path(path)
  private val tmp = new Path(path + ".tmp")
  private val old = new Path(path + ".old")
  private val bak = new Path(path + ".bakparts")

  private def isComplete(dir: Path): Boolean =
    complete.forall(f => fs.exists(new Path(dir, f)))

  /** The newest complete generation without touching the disk. A
    * complete tmp beats `<path>`: it only survives a crash between its
    * own commit and the swap, when it is strictly the newer generation;
    * `.old` serves only when a crash between the two swap renames left
    * no `<path>`. A tmp without its markers is a write that died. */
  def newest(): Option[Path] =
    if (isComplete(tmp)) Some(tmp) else Seq(live, old).find(fs.exists)

  /** Normalize on-disk state so `<path>` holds the newest COMPLETE
    * generation, whatever point the last writer died at — including a
    * writer that died inside [[commitCells]]: any cell archived in
    * `.bakparts` but missing from the store is restored (old-complete),
    * cells the overwrite already committed stay new-complete, and the
    * caller's replay converges the mix.
    *
    * Every mutation is MAINTENANCE, gated by [[StoreLease.canMaintain]]
    * (this instance holds the lease, or no live writer does): a reader
    * racing a live writer must neither promote a tmp under its renames,
    * nor delete its in-flight tmp or staging, nor restore its archive
    * into the store it is overwriting. While a writer lives, its own
    * write completes its swap. */
  def recover(): Unit = {
    val done = isComplete(tmp)
    if (done && lease.canMaintain) {
      // interrupted swap with a complete next generation: finish it. A
      // cell archive from an older interrupted commit predates this
      // generation — drop it, never restore it over the newer one.
      // CHECKED renames: two recover() calls can race here — the loser
      // of either rename stops (restoring what it moved), never falls
      // through to a delete that could drop the only surviving
      // generation. `.old` is trashed (not deleted; TTL-aged sweep
      // below) only by the racer that COMPLETED the swap.
      if (fs.exists(bak)) fs.delete(bak, true)
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(live) && !fs.rename(live, old)) return ()
      if (!fs.rename(tmp, live)) {
        if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
        return ()
      }
      if (fs.exists(old))
        fs.rename(old, new Path(path + ".trash." +
          System.currentTimeMillis() + "." +
          java.util.UUID.randomUUID().toString))
    } else if (!done && fs.exists(tmp) && lease.canMaintain) {
      // died mid-write: the tmp bytes are garbage
      fs.delete(tmp, true)
    }
    if (!fs.exists(live) && fs.exists(old) && lease.canMaintain) {
      // died between `<path>`→`.old` and tmp→`<path>`, the tmp already
      // promoted or lost: the archived generation is the newest one
      fs.rename(old, live)
    }
    if (fs.exists(bak) && lease.canMaintain) {
      // interrupted cell commit: restore every archived cell the
      // overwrite had removed but not yet rewritten
      fs.listStatus(bak).filter(_.isDirectory).foreach { d0 =>
        fs.listStatus(d0.getPath).filter(_.isDirectory).foreach { d1 =>
          val dest = new Path(new Path(live, d0.getPath.getName),
            d1.getPath.getName)
          if (!fs.exists(dest)) {
            fs.mkdirs(dest.getParent)
            fs.rename(d1.getPath, dest)
          }
        }
      }
      fs.delete(bak, true)
    }
    if (fs.exists(live) && lease.canMaintain) {
      // a crash before a dynamic overwrite's commit leaves its staging
      // dir behind; reads ignore dot-dirs but the garbage accretes
      fs.listStatus(live).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(".spark-staging"))
        .foreach(s => fs.delete(s.getPath, true))
    }
    if (lease.canMaintain) {
      lease.sweepTombstones()
      sweepTrash()
    }
    ()
  }

  /** Reap TTL-aged trash dirs. Names carry their creation millis; only
    * trash older than [[StoreLease.DefaultTtlMs]] goes, so a generation
    * trashed moments ago (the racer window the trash exists for)
    * survives long enough to be rescued by hand. */
  private def sweepTrash(): Unit = {
    val dir = live.getParent
    val prefix = live.getName + ".trash."
    val now = System.currentTimeMillis()
    try {
      if (dir != null && fs.exists(dir))
        fs.listStatus(dir)
          .filter { s =>
            val n = s.getPath.getName
            n.startsWith(prefix) &&
              n.stripPrefix(prefix).takeWhile(_.isDigit)
                .toLongOption.exists(now - _ >= StoreLease.DefaultTtlMs)
          }
          .foreach(s => fs.delete(s.getPath, true))
    } catch { case _: java.io.IOException => () }
    ()
  }

  /** Which generation a read serves after [[recover]]: `<path>`, except
    * while a LIVE writer is mid-swap (`<path>` missing, `.old` present,
    * maintenance not allowed) — recover() rightly refuses to mutate
    * then, but a reader must not see the store absent for up to the
    * lease TTL, so it serves the archived generation READ-ONLY. */
  def serveRoot(): String =
    if (!fs.exists(live) && fs.exists(old) && !lease.canMaintain)
      path + ".old"
    else path

  /** [[recover]], then the served generation through the memoized-schema
    * read (the layout is protocol-fixed; listing stays per read). None
    * when there is no generation — including a root a whole-corpus
    * forget emptied (metadata and lock, zero data files), where schema
    * inference fails; any other inference failure is corruption and
    * propagates. */
  def read(): Option[DataFrame] = {
    recover()
    val root = serveRoot()
    if (!fs.exists(new Path(root))) None
    else try Some(Tables.memoizedParquet(spark, root))
    catch { case _: AnalysisException if !hasDataFile(root) => None }
  }

  private def hasDataFile(root: String): Boolean = {
    val it = fs.listFiles(new Path(root), true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** Write a complete next generation and swap it in. `write` is handed
    * the tmp path and must leave every `complete` file there. Nothing
    * under `<path>` moves until the tmp is written, so `write` may lazily
    * read the live generation; the swap is pure renames (`<path>` →
    * `.old`, tmp → `<path>`, drop `.old`). Lease ownership is asserted
    * before the write and again before the swap, so a writer whose lease
    * was broken mid-write aborts instead of interleaving with the new
    * holder. Every rename is checked: an interfering process (a racing
    * recover that already promoted this tmp) makes the swap FAIL LOUDLY
    * with both generations still on disk, never reach a delete that
    * could drop the only surviving copy. */
  def writeGeneration(write: String => Unit): Unit = {
    lease.assertStillHeld()
    if (fs.exists(tmp)) fs.delete(tmp, true) // a write that died
    write(tmp.toString)
    lease.assertStillHeld()
    // a cell archive from an older interrupted commit predates this
    // generation
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new IllegalStateException(
        s"$what at $path: could not archive the live generation before " +
          "the swap (concurrent writer?); store left untouched")
    if (!fs.rename(tmp, live)) {
      if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
      throw new IllegalStateException(
        s"$what at $path: tmp generation vanished before the swap (a " +
          "racing recover may have promoted it); re-read the store " +
          "before retrying")
    }
    fs.delete(old, true)
    ()
  }

  /** The scope of an in-place rewrite of `cells` over the partition
    * columns (c0, c1): the EXACT cells while there are at most 1024 (a
    * takedown's ids scatter independently, so their rectangle approaches
    * the full grid), else the (c0 × c1) rectangle, whose two IN-lists
    * stay cheap to plan. Returns the partition filter and the cells
    * [[commitCells]] archives. `cells` must be non-empty. */
  def cellScope[A, B](c0: String, c1: String,
      cells: Seq[(A, B)]): (Column, Seq[(A, B)]) =
    if (cells.length <= 1024)
      (cells.map { case (a, b) => col(c0) === lit(a) && col(c1) === lit(b) }
        .reduce(_ || _), cells)
    else {
      val as = cells.map(_._1).distinct
      val bs = cells.map(_._2).distinct
      (col(c0).isInCollection(as) && col(c1).isInCollection(bs),
        for (a <- as; b <- bs) yield (a, b))
    }

  /** Commit `out` over the (c0, c1) partition cells `cells` in place:
    * archive each cell's current directory to `.bakparts`, dynamic-
    * overwrite the cells `out` holds, then drop the archive. The
    * overwrite deletes each target cell before renaming staged files in;
    * without the archive a crash there would LOSE the cell, including
    * co-resident rows a replay cannot rebuild — with it, [[recover]]
    * restores the cell and the replay converges. A cell `out` leaves
    * empty stays absent. `out` must not read the archived files
    * (materialize it first). */
  def commitCells(out: DataFrame, c0: String, c1: String,
      cells: Seq[(Any, Any)]): Unit = {
    lease.assertStillHeld()
    fs.mkdirs(bak)
    cells.foreach { case (a, b) =>
      val part = new Path(live, s"$c0=$a/$c1=$b")
      if (fs.exists(part)) {
        val dest = new Path(bak, s"$c0=$a/$c1=$b")
        fs.mkdirs(dest.getParent)
        fs.rename(part, dest)
      }
    }
    // a per-writer option, not a session conf toggle, so no concurrent
    // write in the session turns dynamic
    out.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(c0, c1).parquet(path)
    // the overwrite rewrote leaf files two levels deep under unchanged
    // child names, which the schema memo's fingerprint cannot see
    Tables.invalidateSchemaMemo(path)
    fs.delete(bak, true)
    ()
  }
}
