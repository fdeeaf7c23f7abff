package graft.maintenance

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.tables.Json

/** Small-file compaction planning — the lake-native analog of the vendored
  * IndexOptimize maintenance tier (ref ola/IndexOptimize.sql: rebuild
  * fragmented physical structures; on a parquet lake the fragmentation
  * pathology is SMALL FILES, and the "rebuild" is rewriting file groups at
  * a target size). The planner is read-only over FILE METADATA — it lists
  * sizes, never data — and emits the merge groups a rewrite job would
  * execute, exactly the dry-run-first shape of the reference
  * (`@Execute='N'`, ref ola/CommandExecute.sql:197).
  *
  * Packing is the same running-sum window technique as pipe07's token
  * bins: cumulative small-file bytes per table, bucket = floor of the
  * cumulative START offset / target, one window exchange on (table,
  * file-name order) — deterministic, and at a 100 TB lake (millions of
  * files) the plan runs over the FILE LIST (O(files) rows), never the
  * data. Files already at/above the target stay singleton noop groups;
  * `merges` filters to the 2+-file groups a rewrite job would execute.
  */
object Compaction {

  /** One row per planned group; `action` is 'merge' for 2+ file groups
    * and 'noop' for files that already stand alone at/above target (the
    * dry-run report shows both, like the reference's @Execute='N' echo;
    * `merges` filters to the actionable set).
    *
    * Only SMALL files (< target) ever merge: each at-target file closes
    * its own segment, so runs of small files pack among themselves (a
    * naive global cumulative bucketing would glue a small file onto the
    * tail bucket of a preceding big one). Small files bucket by their
    * cumulative START offset — a file joins the group its first byte
    * falls in — so a run whose sizes straddle a target boundary still
    * merges (end-bucketing splits 60+60 @ target 100 into two singleton
    * "noops" and iterated replanning never converges). Group bytes stay
    * < 2×target: a group's last file starts inside the bucket and adds
    * < target of its own. Both windows ride ONE exchange — same key,
    * same order. */
  def plan(files: DataFrame, targetBytes: Long): DataFrame =
    planWithMembers(files, targetBytes).drop("members")

  /** plan() plus an explicit sorted `members` file-list column per group.
    * Execution consumes THIS (the membership travels with the plan row);
    * the members-free projection is the report/oracle surface (array
    * columns are not hash-comparable there). Deriving membership any
    * other way — e.g. re-filtering the listing by the [first_file,
    * last_file] range — silently depends on groups being contiguous in
    * path order, an invariant a future packing change could break. */
  private[graft] def planWithMembers(files: DataFrame,
      targetBytes: Long): DataFrame = {
    val small = col("bytes") < targetBytes
    val w = Window.partitionBy("table_name").orderBy("file")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = sum(when(!small, 1).otherwise(0)).over(w)
    val wSeg = Window.partitionBy(col("table_name"), col("segment"))
      .orderBy("file")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("segment", seg)
      .withColumn("cum_start",
        sum(when(small, col("bytes")).otherwise(0L)).over(wSeg) -
          when(small, col("bytes")).otherwise(0L))
      // big file → its own group keyed by its name; small files → the
      // bucket their cumulative START falls in, within the segment
      .withColumn("grp", when(small,
          floor(col("cum_start") / targetBytes).cast("string"))
        .otherwise(concat(lit("solo:"), col("file"))))
      .groupBy("table_name", "segment", "grp")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("group_bytes"),
        min("file").as("first_file"), max("file").as("last_file"),
        sort_array(collect_list(col("file"))).as("members"))
      .withColumn("action",
        when(col("n_files") >= 2, "merge").otherwise("noop"))
      .drop("segment", "grp")
      .orderBy("table_name", "first_file")
  }

  /** Actionable merge groups only (with their `members` lists). */
  def merges(files: DataFrame, targetBytes: Long): DataFrame =
    planWithMembers(files, targetBytes).filter(col("action") === "merge")

  /** File listing (name, bytes) for every table under a sf-style dir —
    * recursive, so partitioned tables contribute their leaf files. */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val table = st.getPath.getName.stripSuffix(".parquet")
        if (st.isDirectory) {
          val it = fs.listFiles(st.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long)]
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet"))
              buf += ((table, f.getPath.toString, f.getLen))
          }
          buf.toSeq
        } else Seq((table, st.getPath.toString, st.getLen))
      }
    rows.toDF("table_name", "file", "bytes")
  }

  /** Driver-side NECESSARY-condition precheck: can this table's listing
    * possibly plan a merge? A merge group needs ≥2 sub-target files, so
    * fewer than two smalls can never merge. Lets the nightly pass skip
    * the per-table lease + plan job on the (common) HEALTHY table — a
    * 20k-table inventory otherwise pays 20k tiny Spark jobs a night for
    * all-noop plans, the same quiet-night cost class the stream stages'
    * probe eliminated in round 14. Conservative by construction: true
    * may still plan zero merges (smalls separated into different
    * segments by at-target files), false NEVER misses a merge. One
    * listStatus, zero Spark jobs. */
  def worthPlanning(spark: SparkSession, tableDir: String,
      targetBytes: Long): Boolean = {
    val dirPath = new Path(tableDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dirPath).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getLen < targetBytes) >= 2
  }

  /** Direct-children file listing of ONE table dir (files only — a nested
    * dir named *.parquet is a dataset, not a compaction member). Shared
    * by compact() and the CLI's plan echo so both see identical members
    * (full URIs with scheme, as the filesystem reports them). */
  def tableFiles(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val dirPath = new Path(tableDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dirPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => ("t", st.getPath.toString, st.getLen))
      .toDF("table_name", "file", "bytes")
  }

  /** What one [[compact]] run did: groups rewritten, and whether the
    * whole table was skipped because another compactor holds its lease
    * (`lease_skipped` — the caller's audit surface: every declined
    * unit of work carries its reason, ref ola/CommandExecute.sql:204-222,
    * instead of a stdout line only an operator tailing the job sees). */
  final case class CompactReport(merged: Int, leaseSkipped: Boolean)

  /** Durable record dir of superseded originals: after a merge group's
    * originals are deleted, its sidecar manifest is MOVED here (from
    * `.compact-tmp`) instead of dying with the staging dir. `_`-prefix
    * = hidden to Spark scans and the streaming landing probes. The
    * integrity tier's vanished-file reconciliation reads these (plus
    * any in-flight `.compact-tmp` manifests) to tell compaction-induced
    * removals from real data loss. One small JSON per merged group —
    * bounded by merge history; a table rebase/teardown removes it. */
  private[graft] val RecordDirName = "_graft_compacted"

  /** `v` as a quoted JSON string. Paths are operator data, not trusted
    * JSON: a quote or backslash in a legal filename would otherwise
    * corrupt the record (or audit row) it is written into. */
  private[graft] def jstr(v: String): String = "\"" + v.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every path the durable compaction records (plus any in-flight
    * `.compact-tmp` manifests — a crash window leaves the group's
    * manifest there) declare superseded by a merge under `tableDir`,
    * normalized to bare URI paths (the spelling the streaming offset
    * log is compared in). Driver-side metadata reads only; empty when
    * the table was never compacted. */
  def supersededPaths(spark: SparkSession, tableDir: String): Set[String] = {
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def barePath(p: String): String =
      try new Path(new java.net.URI(p)).toUri.getPath
      catch { case _: Exception => p }
    def readDir(d: Path): Seq[String] =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
        .flatMap { st =>
          // a torn in-flight manifest explains nothing: its group's
          // originals are deleted only after it is complete
          try Json.mapper.readTree(fs.open(st.getPath)).path("supersedes")
            .elements().asScala.map(n => barePath(n.asText)).toSeq
          catch { case _: JacksonException => Nil }
        }
    (readDir(new Path(dir, RecordDirName)) ++
      readDir(new Path(dir, ".compact-tmp"))).toSet
  }

  /** Execute the merge plan against ONE table directory — the
    * `@Execute='Y'` counterpart of the dry-run planner (ref
    * ola/CommandExecute.sql:197: same command text, executed instead of
    * echoed). For each merge group: read exactly that group's files,
    * rewrite them as one file under a `.compact-tmp` staging dir, then
    * swap (delete originals, move the merged file in). Returns the number
    * of groups rewritten.
    *
    * Each group is one bounded read+write (<2×target bytes) and an
    * independent unit of work — on a scheduler-driven lake each group is
    * one admission-controlled command, so a time-boxed run compacts what
    * fits and the next run re-plans the remainder (the planner is
    * idempotent: already-merged groups re-plan as noop).
    *
    * Crash safety (plain parquet): the merged file is RENAMED INTO THE
    * TABLE before any original is deleted, and every rename/delete return
    * code is checked (HDFS-style filesystems return false instead of
    * throwing). Data LOSS is therefore impossible — the worst crash
    * window (after the rename, before the deletes finish) leaves the
    * group's rows readable TWICE (merged + surviving originals).
    * Duplicates are loud (check_rowcounts / dd01 flag them) and a
    * sidecar manifest written to `.compact-tmp/manifest-<i>.json` BEFORE
    * the swap names exactly which originals the merged file supersedes,
    * so recovery is mechanical. That is the right failure direction for
    * an integrity engine; exactly-once swaps need a table format with a
    * transactional manifest (Delta/Iceberg). */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long): CompactReport =
    compact(spark, tableDir, tableFiles(spark, tableDir), targetBytes)

  /** Same, against a caller-supplied file listing. `files` is BY-NAME
    * and evaluated only AFTER the per-table lease is held (round-14
    * advice): a listing taken before the lock can reference files a
    * just-finished concurrent compactor merged away, and planning from
    * it fails loudly mid-group (FileNotFoundException) where a
    * post-lock listing re-plans correctly. Callers that pass the
    * listing expression in argument position (the nightly pass) get
    * the post-lock listing for free; the CLI still echoes a dry-run
    * plan first — deterministic over the same listing, so when no
    * concurrent compactor intervened the echo IS the executed plan
    * (ref CE:197), and when one did, the re-plan supersedes the echo
    * instead of crashing on its leftovers.
    *
    * `deadline`: the budget check at every GROUP head (each merge group
    * is one independent admission-controlled unit — the IC:644
    * inner-loop discipline): a group past the deadline is skipped, the
    * committed prefix stands, and the next run re-plans exactly the
    * remainder (the planner is idempotent — merged groups re-plan as
    * noop). A group is never killed mid-swap. */
  def compact(spark: SparkSession, tableDir: String, files: => DataFrame,
      targetBytes: Long,
      deadline: Option[java.time.Instant] = None,
      clock: graft.model.Clock = graft.model.SystemClock,
      heartbeat: () => Unit = () => ()): CompactReport = {
    val dirPath = new Path(tableDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Single-compactor lease per table dir (the shared hardened
    // StoreLease — the same liveness contract as the persisted
    // stores): the echoed schedule installs BOTH a nightly
    // --compact-tables pass and a weekly standalone --compact over the
    // same tables, and two concurrent compactors would plan
    // overlapping merge groups (duplicated rows when both land merges
    // before the loser's delete throws) and destroy each other's
    // in-flight recovery manifests via the shared .compact-tmp sweep.
    // A held lease = another compactor is live: skip LOUDLY and let
    // the next run re-plan — the planner is idempotent.
    val lease = new graft.tables.StoreLease(spark, tableDir,
      "table compaction")
    try lease.acquire()
    catch {
      case e: IllegalStateException =>
        // the skip travels back to the caller (CompactReport) so its
        // stage detail / audit row can say lease_skipped, reference
        // style (CE:204-222: every declined unit logs its reason); the
        // println stays for the standalone CLI's operator
        println(s"compact: $tableDir is being compacted by another " +
          s"run — skipping this table (${e.getMessage})")
        return CompactReport(0, leaseSkipped = true)
    }
    // EVERYTHING after the successful acquire runs inside try/finally:
    // a planning failure (the merges() job, tmp setup) must release the
    // lock rather than strand it for the TTL, blocking the other
    // scheduled compactor on this table in the interim (round-14
    // advice)
    val tmp = new Path(dirPath, ".compact-tmp")
    val recordDir = new Path(dirPath, RecordDirName)
    var done = 0
    try {
      // `files` evaluated HERE — after the lease — so the plan reflects
      // post-lock state (see the overload doc); membership travels WITH
      // each plan row (see planWithMembers), never re-derived from the
      // listing, so a packing-rule change cannot make execution read or
      // delete the wrong files
      val groups = merges(files, targetBytes)
        .select("members").collect()
        .map(_.getSeq[String](0))

      def mergeOne(members: Seq[String], i: Int): Unit = {
      val out = new Path(tmp, s"merge-$i")
      spark.read.parquet(members: _*).coalesce(1)
        .write.mode("overwrite").parquet(out.toString)
      val part = fs.listStatus(out)
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      val dest = new Path(dirPath,
        s"merged-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet")
      // sidecar manifest FIRST: if the swap below is interrupted between
      // the rename and the deletes, .compact-tmp/manifest-<i>.json says
      // exactly which originals the landed merged file supersedes —
      // recovery is mechanical (delete the listed originals), not a
      // row-count forensics exercise. On success it is PROMOTED to the
      // durable record dir (see RecordDirName), not discarded.
      val manifest = new Path(tmp, s"manifest-$i.json")
      val mout = fs.create(manifest, true)
      try mout.write(
        (s"""{"merged": ${jstr(dest.toString)}, "supersedes": [""" +
          members.map(jstr).mkString(", ") + "]}\n")
          .getBytes("UTF-8"))
      finally mout.close()
      // land the merged file (unique name — cannot collide), then
      // promote the manifest to the DURABLE record dir BEFORE retiring
      // the originals (round-15 advice): the delete-failure message
      // below points the operator at the supersession record, and a
      // pointer into `.compact-tmp` dangles — the staging dir is swept
      // at the end of any LATER run on this table, destroying the one
      // artifact the message references. Promoted first, the record
      // outlives every sweep. A record whose originals still exist
      // (crash between promotion and the deletes) is harmless: the
      // reconciliation uses records only to EXPLAIN missing files, and
      // present files are just duplicated rows — the same loud
      // (dd01/check_rowcounts) crash window as before, now with the
      // recovery pointer durable. The promotion is CHECKED like every
      // other rename here: a false return (how HDFS-style filesystems
      // signal failure) falls back to a byte copy, and if that fails
      // too the run aborts LOUDLY with the originals intact.
      if (!fs.rename(part, dest))
        throw new java.io.IOException(
          s"compact: rename $part -> $dest failed; originals intact")
      if (!fs.exists(recordDir)) fs.mkdirs(recordDir)
      val record = new Path(recordDir,
        s"merge-${java.util.UUID.randomUUID().toString.take(8)}-$i.json")
      if (!fs.rename(manifest, record)) {
        val in = fs.open(manifest)
        val bytes = try in.readAllBytes() finally in.close()
        val out2 = fs.create(record, false)
        try out2.write(bytes) finally out2.close()
        if (!fs.exists(record)) {
          // promotion failed AFTER the merged file landed: without
          // this cleanup the abort would leave merged copy + intact
          // originals = silently duplicated group rows (round-16
          // advice). Remove the just-landed dest (checked) so the
          // abort restores the exact pre-compaction state; if even
          // that delete fails, say BOTH things loudly.
          val destRemoved = fs.delete(dest, false) || !fs.exists(dest)
          throw new java.io.IOException(
            s"compact: could not promote $manifest to $record — " +
              (if (destRemoved)
                s"aborting; the just-landed merged file $dest was " +
                  "removed, originals intact (exact pre-compaction " +
                  "state restored)"
              else
                s"aborting, AND the landed merged file $dest could " +
                  "not be removed: group rows are DUPLICATED until " +
                  "it is deleted manually"))
        }
        fs.delete(manifest, false)
      }
      members.foreach { p =>
        if (!fs.delete(new Path(p), false))
          throw new java.io.IOException(
            s"compact: delete $p failed after landing $dest — group rows " +
              s"are duplicated until it is removed (see $record)")
      }
      ()
      }

      var budgetStop = false
      while (done < groups.length && !budgetStop) {
        if (deadline.exists(d =>
            graft.scheduler.Policy.reached(clock.observe(), d))) {
          // loud skip, reference-style: the operator sees what a
          // time-boxed run left for the next one
          println(s"compact: time budget exhausted before group $done " +
            s"(${groups.length - done} group(s) remain; re-run to " +
            "compact the remainder)")
          budgetStop = true
        } else {
          // per-group heartbeats: this compactor's own lease AND the
          // caller's (the composed pass renews its pass lease here) —
          // a many-group backlog must not let either go TTL-stale
          lease.renew()
          heartbeat()
          mergeOne(groups(done), done)
          done += 1
        }
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
    } finally lease.release()
    CompactReport(done, leaseSkipped = false)
  }

  /** STRICT-oracled planner gate: the full packing algebra (segment
    * windows, start-offset bucketing, merge/noop classification) runs in
    * both engines over the same deterministic synthetic listing — 40
    * "files" whose integer byte sizes derive from `orders` aggregates, a
    * mix of small runs and at-target solos at target 100. Real-filesystem
    * listings exercise the identical plan() via the CLI and
    * CompactionSpec (file sizes on disk are invisible to the oracle's
    * table views; the ALGEBRA is what an oracle can pin, and now does). */
  val maint01CompactionPlan: Q = Q(
    "maint01_compaction_plan",
    """WITH listing AS (
      |  SELECT 'evt' AS table_name,
      |    'f' || lpad(CAST(o_orderkey % 40 AS VARCHAR), 3, '0') AS file,
      |    CAST((sum(o_custkey) + count(*)) % 341 + 10 AS BIGINT) AS bytes
      |  FROM orders GROUP BY 1, 2),
      |seg AS (
      |  SELECT *, sum(CASE WHEN bytes >= 100 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY table_name ORDER BY file
      |            ROWS UNBOUNDED PRECEDING) AS segment
      |  FROM listing),
      |cum AS (
      |  SELECT *, sum(CASE WHEN bytes < 100 THEN bytes ELSE 0 END)
      |      OVER (PARTITION BY table_name, segment ORDER BY file
      |            ROWS UNBOUNDED PRECEDING)
      |    - CASE WHEN bytes < 100 THEN bytes ELSE 0 END AS cum_start
      |  FROM seg),
      |grp AS (
      |  SELECT *, CASE WHEN bytes < 100
      |    THEN CAST(cum_start // 100 AS VARCHAR)
      |    ELSE 'solo:' || file END AS g
      |  FROM cum)
      |SELECT table_name, CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(bytes) AS BIGINT) AS group_bytes,
      |  min(file) AS first_file, max(file) AS last_file,
      |  CASE WHEN count(*) >= 2 THEN 'merge' ELSE 'noop' END AS action
      |FROM grp GROUP BY table_name, segment, g
      |ORDER BY table_name, first_file""".stripMargin) { (s, d) =>
    plan(syntheticListing(s, d), targetBytes = 100L)
  }

  /** The deterministic 40-file listing the maint01 oracle plans over:
    * integer-exact byte sizes in [10, 350] from `orders` aggregates —
    * small-file runs straddling the 100-byte target plus at-target
    * solos, so every packing rule (segmenting, start-offset bucketing,
    * solo noops) fires. */
  private[graft] def syntheticListing(s: SparkSession,
      d: String): DataFrame = {
    val orders = graft.tables.Tables.orders(s, d)
    orders
      .groupBy((col("o_orderkey") % 40).as("gid"))
      .agg(((sum(col("o_custkey")) + count(lit(1))) % 341 + 10)
        .cast("long").as("bytes"))
      .select(lit("evt").as("table_name"),
        concat(lit("f"), lpad(col("gid").cast("string"), 3, "0")).as("file"),
        col("bytes"))
  }

  val queries: Seq[Q] = Seq(maint01CompactionPlan)
}
