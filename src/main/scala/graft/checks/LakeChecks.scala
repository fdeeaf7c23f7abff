package graft.checks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{InventoryRow, TableManifest}
import graft.functions.Strings.quoteName

/** What DBCC means on a data lake (SURVEY.md §7.1 step 5 — the design
  * risk). Each check builds (commandString, action); the command string
  * reproduces the reference's command-text format so dry-run goldens are
  * meaningful (ref IntegrityChecks_VLDB.sql:547-555, 683-687), and the
  * action returns a violation count. The coarse checks (CHECKALLOC,
  * CHECKCATALOG) run no Spark job, and a pinned CHECKTABLE runs one Spark
  * action, its scan's aggregate. (Adaptive execution submits that
  * aggregate's shuffle map stage as a job of its own, and Spark lists more
  * files than `spark.sql.sources.parallelPartitionDiscovery.threshold` in
  * a job too.)
  *
  * Scale notes: CHECKALLOC/CHECKCATALOG touch only filesystem metadata and
  * parquet footers, read on the driver (no data scan). CHECKTABLE is
  * exactly one full scan with map-side partial aggregation — the minimal
  * plan for content validation — and its PHYSICAL_ONLY tier reads footers
  * only. Every pinned schema comes from [[pinnedSchema]], never from
  * Spark's inference, which would start a job of its own to read one
  * footer.
  */
object LakeChecks {

  /** CHECKALLOC: every storage unit is present, openable, and non-empty —
    * files exist, no zero-byte parquet, footers parse
    * (ref IC:547 DBCC CHECKALLOC).
    *
    * `manifests` pins the per-run file universe (ref IC:519-571 snapshot;
    * see [[graft.catalog.TableManifest]]): a table with a pinned manifest
    * is validated against EXACTLY that file set — a file landed by a
    * concurrent writer after inventory time is invisible to this run, and
    * a pinned file that vanished reads as a violation. Tables without an
    * entry fall back to a capture-at-action listing (the pre-manifest
    * behavior, kept for direct callers). */
  def checkAlloc(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      maxDop: Int,
      manifests: Map[(String, String, String), TableManifest] = Map.empty)
      : (String, () => Long) = {
    val cmd = s"CHECKALLOC ${quoteName(db)} WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      maxDopSuffix(maxDop)
    (cmd, () => {
      tables.map { t =>
        val m = manifestFor(spark, t, manifests)
        if (m.files.isEmpty) 1L
        else {
          val zero = m.files.count(_.length == 0L).toLong
          // footer parse, no data scan; a pinned-then-deleted file reads
          // as bad too (see checkedSchema)
          val footerBad =
            try { checkedSchema(spark, m); 0L }
            catch { case _: Throwable => 1L }
          zero + footerBad
        }
      }.sum
    })
  }

  /** CHECKCATALOG: metadata consistency — schema non-empty, column names
    * unique, row-count metadata consistent with a metadata-only count
    * (ref IC:554 DBCC CHECKCATALOG). Reads via the pinned manifest when
    * one is supplied (see [[checkAlloc]]). */
  def checkCatalog(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      manifests: Map[(String, String, String), TableManifest] = Map.empty)
      : (String, () => Long) = {
    val cmd = s"CHECKCATALOG ${quoteName(db)} WITH NO_INFOMSGS"
    (cmd, () => {
      tables.map { t =>
        try {
          val schema = checkedSchema(spark, manifestFor(spark, t, manifests))
          val dupCols =
            schema.fieldNames.map(_.toLowerCase).groupBy(identity)
              .count(_._2.length > 1).toLong
          val emptySchema = if (schema.isEmpty) 1L else 0L
          dupCols + emptySchema
        } catch { case _: Throwable => 1L }
      }.sum
    })
  }

  /** CHECKTABLE: full-scan content validation. Tiers (ref IC:684-687):
    *  - PHYSICAL_ONLY → footer/row-count pass only (no column profiling)
    *  - default       → one-pass per-column profile (nulls, NaN/Inf,
    *                    min<=max sanity) — all in a single aggregate
    *  - DATA_PURITY   → adds domain checks: string columns valid UTF-8
    *                    lengths, timestamps in sane range (ref IC:685-686)
    */
  def checkTable(spark: SparkSession, t: InventoryRow, physicalOnly: Boolean,
      dataPurity: Boolean, maxDop: Int,
      manifest: Option[TableManifest] = None): (String, () => Long) = {
    val opts =
      (if (physicalOnly) Seq("PHYSICAL_ONLY") else Seq.empty) ++
        (if (!physicalOnly && dataPurity) Seq("DATA_PURITY") else Seq.empty)
    val cmd = s"CHECKTABLE ${quoteName(t.database_name)}." +
      s"${quoteName(t.schema_name)}.${quoteName(t.object_name)}" +
      s" WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      (if (opts.nonEmpty) opts.mkString(", ", ", ", "") else "") +
      maxDopSuffix(maxDop)
    (cmd, () => {
      // pinned manifest (ref IC:519-571): the scan covers exactly the
      // run's snapshot of the table — phase 2 profiles the same rows
      // phase 1 allocated, even if a writer appended files in between
      val df = manifest match {
        case Some(m) => readPinned(spark, m)
        case None => spark.read.parquet(t.path) // as it is now
      }
      if (physicalOnly) { df.count(); 0L } // footer-driven count, no decode
      else violationCount(df, dataPurity)
    })
  }

  /** CHECKDB: the composition the vendored proc defines (ref
    * ola/DatabaseIntegrityCheck.sql:1350-1369 — CHECKDB subsumes
    * CHECKALLOC + CHECKCATALOG + every table's CHECKTABLE). */
  def checkDb(spark: SparkSession, db: String, tables: Seq[InventoryRow],
      physicalOnly: Boolean, dataPurity: Boolean, maxDop: Int,
      manifests: Map[(String, String, String), TableManifest] = Map.empty)
      : (String, () => Long) = {
    val opts =
      (if (physicalOnly) Seq("PHYSICAL_ONLY") else Seq.empty) ++
        (if (!physicalOnly && dataPurity) Seq("DATA_PURITY") else Seq.empty)
    val cmd = s"CHECKDB ${quoteName(db)} WITH NO_INFOMSGS, ALL_ERRORMSGS" +
      (if (opts.nonEmpty) opts.mkString(", ", ", ", "") else "") +
      maxDopSuffix(maxDop)
    (cmd, () => {
      val (_, alloc) = checkAlloc(spark, db, tables, maxDop, manifests)
      val (_, cat) = checkCatalog(spark, db, tables, manifests)
      alloc() + cat() + tables.map(t =>
        checkTable(spark, t, physicalOnly, dataPurity, maxDop,
          manifests.get(
            (t.database_name, t.schema_name, t.object_name)))._2()).sum
    })
  }

  /** CHECKFILEGROUP: the lake analog of a filegroup is a PARTITION
    * directory of a partitioned table (SURVEY §2.1 S3) — validate just
    * that storage slice: files present/non-empty + content checks on the
    * partition's rows only (partition pruning keeps the scan to the
    * slice). Ref ola/DatabaseIntegrityCheck.sql:1372-1511.
    *
    * Deliberately OUTSIDE the per-run manifest: this is a direct,
    * user-invoked partition probe (the scheduler never issues it), so it
    * reads the slice as it exists at call time — the snapshot device
    * protects cross-PHASE consistency within a scheduled run, which has
    * no analog for a one-shot slice check. */
  def checkFileGroup(spark: SparkSession, t: InventoryRow,
      partitionSubdir: String, dataPurity: Boolean, maxDop: Int)
      : (String, () => Long) = {
    val cmd = s"CHECKFILEGROUP ${quoteName(t.database_name)}." +
      s"${quoteName(t.object_name)}.${quoteName(partitionSubdir)}" +
      s" WITH NO_INFOMSGS, ALL_ERRORMSGS" + maxDopSuffix(maxDop)
    (cmd, () => {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(s"${t.path}/$partitionSubdir")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 1L
      else {
        // data files only: a writer's `_SUCCESS` marker is zero bytes by
        // design (the hidden-name rule of Spark's own listing)
        val zero = fs.listStatus(p).filter(_.isFile)
          .filterNot(f => Seq("_", ".").exists(f.getPath.getName.startsWith))
          .count(_.getLen == 0L).toLong
        val df = spark.read.option("basePath", t.path).parquet(p.toString)
        zero + violationCount(df, dataPurity)
      }
    })
  }

  /** One-pass violation aggregate over a DataFrame of any schema. */
  private[checks] def violationCount(df: DataFrame, dataPurity: Boolean): Long = {
    val checks: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      val c = col(quoted(f.name))
      f.dataType match {
        case DoubleType | FloatType =>
          Seq(count(when(isnan(c) || c === Double.PositiveInfinity ||
            c === Double.NegativeInfinity, 1)))
        case TimestampType if dataPurity =>
          Seq(count(when(
            c < lit("1900-01-01 00:00:00").cast("timestamp") ||
              c > lit("2100-01-01 00:00:00").cast("timestamp"), 1)))
        case StringType if dataPurity =>
          // impossible lengths flag decode corruption
          Seq(count(when(length(c) < 0, 1)))
        case _ => Seq.empty
      }
    }
    if (checks.isEmpty) { df.count(); 0L }
    else {
      val row = df.agg(checks.head, checks.tail: _*).head()
      (0 until row.length).map(i => row.getLong(i)).sum
    }
  }

  /** The schema `spark.read.parquet(m.paths: _*)` would infer, read on
    * the driver with no Spark job: like Spark's non-merging inference, it
    * decodes the first pinned file's footer. Lake tables may carry
    * TIMESTAMP(NANOS), which Spark refuses without the legacy mapping
    * every graft session carries (`SessionDefaults`, `GraftExtensions`) — a
    * legal table must not surface as a violation. An empty manifest
    * throws; callers guard on `m.files.isEmpty` first where that is a
    * violation. */
  private[graft] def pinnedSchema(spark: SparkSession, m: TableManifest)
      : StructType = {
    require(m.files.nonEmpty, "empty manifest: no schema to read")
    GraftSqlBridge.parquetFooterSchema(spark, new Path(m.paths.head))
  }

  /** [[pinnedSchema]] for the coarse checks, which have no read of their
    * own to check the file set: every PINNED file must still exist, so a
    * pinned-then-deleted file throws here instead of silently dropping out
    * (one status call per file after the first, which the footer read
    * opens). */
  private def checkedSchema(spark: SparkSession, m: TableManifest)
      : StructType = {
    val schema = pinnedSchema(spark, m)
    val conf = spark.sparkContext.hadoopConfiguration
    m.paths.tail.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p)
    }
    schema
  }

  /** Read EXACTLY a pinned manifest's files (explicit file list — Spark
    * never re-lists the directory, so the run's snapshot governs), under
    * the footer schema, so inference starts no job. Spark's path check
    * throws if any pinned file is gone. */
  private def readPinned(spark: SparkSession, m: TableManifest) =
    spark.read.schema(pinnedSchema(spark, m)).parquet(m.paths: _*)

  /** The pinned manifest for `t`, or a capture-at-action fallback for
    * direct callers that did not pin one. */
  private def manifestFor(spark: SparkSession, t: InventoryRow,
      manifests: Map[(String, String, String), TableManifest])
      : TableManifest =
    manifests.getOrElse(
      (t.database_name, t.schema_name, t.object_name),
      TableManifest.capture(spark, t))

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  private def maxDopSuffix(maxDop: Int): String =
    if (maxDop > 0) s", MAXDOP = $maxDop" else ""
}
