package graft.checks

import scala.jdk.CollectionConverters._

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
  * CHECKCATALOG) run no Spark job. A pinned CHECKTABLE of at most
  * [[LakeChecks.LocalMaxBytes]] and [[LakeChecks.LocalMaxRows]] runs no
  * Spark job either: its files are decoded on the driver and the
  * violation conditions folded over a `LocalRelation`, which costs about
  * 50 ms plus a few microseconds per row, against about 200 ms for a
  * Spark action of any size. A larger (or unpinned) CHECKTABLE runs one
  * Spark action, its scan's aggregate. (Adaptive execution submits that
  * aggregate's shuffle map stage as a job of its own, and Spark lists more
  * files than `spark.sql.sources.parallelPartitionDiscovery.threshold` in
  * a job too.)
  *
  * Scale notes: CHECKALLOC/CHECKCATALOG touch only filesystem metadata and
  * parquet footers, read on the driver (no data scan). A CHECKTABLE over
  * the local ceilings is exactly one full scan with map-side partial
  * aggregation — the minimal plan for content validation — and its
  * PHYSICAL_ONLY tier reads footers only. Every pinned schema comes from
  * the first pinned footer ([[pinnedSchema]]), never from Spark's
  * inference, which would start a job of its own to read one footer.
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
    *  - default       → one-pass per-column profile (NaN/±Inf in float
    *                    and double columns)
    *  - DATA_PURITY   → adds domain checks: string columns valid UTF-8
    *                    lengths, timestamps in sane range (ref IC:685-686)
    *
    * Two routes count the same [[violationConditions]]. A pinned table
    * within [[LocalMaxBytes]] (the manifest's lengths) and
    * [[LocalMaxRows]] (its footers) takes [[localRoute]]: no Spark job.
    * Any other table takes the Spark route, one aggregate over the scan
    * (two jobs under adaptive execution).
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
    (cmd, () => manifest match {
      // pinned manifest (ref IC:519-571): the check covers exactly the
      // run's snapshot of the table — phase 2 profiles the same rows
      // phase 1 allocated, even if a writer appended files in between
      case Some(m) if m.files.map(_.length).sum <= LocalMaxBytes =>
        localRoute(spark, m, physicalOnly, dataPurity, LocalMaxRows)
          .getOrElse(sparkRoute(spark, m, physicalOnly, dataPurity))
      case Some(m) => sparkRoute(spark, m, physicalOnly, dataPurity)
      case None => // as it is now
        sparkCount(spark.read.parquet(t.path), physicalOnly, dataPurity)
    })
  }

  /* The driver-local route's ceilings, from the crossover against the
   * Spark route's two-job floor (`Dev routes`, 4-core host, local[4],
   * DATA_PURITY, one file of the first N rows of an sf0.1 table, median
   * of five warm runs per route):
   *
   *   table     rows     bytes   spark ms  local ms
   *   lineitem     25     4407      317        71
   *   lineitem   1000    32.0K      213        54
   *   lineitem   6000     142K      201        59
   *   lineitem  20000     426K      202       129
   *   lineitem  30000     613K      230       173
   *   lineitem  50000     978K      195       280
   *   lineitem 100000    1.86M      170       503
   *   events    20000     359K      221       106
   *   events    40000     678K      174       187
   *   events    80000    1.30M      213       358
   *   documents  5000     578K      233        82
   *
   * The Spark route costs about 200 ms whatever the size; the local
   * route costs about 50 ms plus 4-5 us per row of these shapes, so the
   * two cross between 30,000 and 40,000 rows. The ceilings sit below
   * that with room to spare: 20,000 rows, and 1 MiB, which text-heavy
   * rows (documents: 578K in 82 ms) reach well before the row bound. */

  /** CHECKTABLE's driver-local route covers a pinned table of at most
    * this many bytes on storage (the manifest's own lengths)... */
  private[graft] val LocalMaxBytes: Long = 1L << 20

  /** ... and, by its footers, at most this many rows: compressed bytes
    * alone do not bound the driver heap (a small file of a constant
    * column holds millions of rows), and the scheduler runs
    * `concurrency` checks at once. */
  private[graft] val LocalMaxRows: Long = 20000L

  /** CHECKTABLE through Spark: one action over the pinned files. */
  private[graft] def sparkRoute(spark: SparkSession, m: TableManifest,
      physicalOnly: Boolean, dataPurity: Boolean): Long =
    sparkCount(readPinned(spark, m), physicalOnly, dataPurity)

  private def sparkCount(df: DataFrame, physicalOnly: Boolean,
      dataPurity: Boolean): Long =
    if (physicalOnly) { df.count(); 0L } // footer-driven count, no decode
    else violationCount(df, dataPurity)

  /** CHECKTABLE on the driver, with no Spark job: every pinned footer is
    * opened (a missing or unreadable file throws, as the scan would; an
    * empty file after the first is skipped, as the scan skips it);
    * PHYSICAL_ONLY, or a schema with no checked column, stops there and
    * decodes no page, which is all Spark's `count()` reads. Otherwise,
    * unless the footers hold more than `maxRows` rows (None: take the
    * Spark route), each file is decoded by Spark's parquet row reader
    * under the first file's schema, as the scan reads it, and the
    * violation conditions are summed per row over a `LocalRelation` and
    * kept where positive: a filter Spark's optimizer folds on the
    * driver, where an aggregate would still run a job. One file's rows
    * are held at a time. */
  private[graft] def localRoute(spark: SparkSession, m: TableManifest,
      physicalOnly: Boolean, dataPurity: Boolean, maxRows: Long)
      : Option[Long] = {
    require(m.files.nonEmpty, "empty manifest: no schema to read")
    val conf = spark.sessionState.newHadoopConf()
    // the schema is the first file's, as in pinnedSchema; the scan reads
    // no split of a later empty file
    val files = (m.files.head +: m.files.tail.filter(_.length > 0))
      .map(f => new Path(f.path))
    val footers = files.map(GraftSqlBridge.parquetFooter(conf, _))
    val schema = GraftSqlBridge.footerSchema(spark, files.head, footers.head)
    val conds = if (physicalOnly) Seq.empty
      else violationConditions(schema, dataPurity)
    if (conds.isEmpty) Some(0L)
    else if (footers.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum >
        maxRows) None
    else {
      val parquet = new GraftSqlBridge.ParquetRows(spark, schema)
      val perRow = conds.map(when(_, 1).otherwise(0)).reduce(_ + _)
      Some(files.zip(footers).map { case (file, footer) =>
        val rows = parquet.read(file, footer)(_.map(_.copy()).toVector)
        if (rows.isEmpty) 0L
        else GraftSqlBridge.collectLocal(spark, schema, rows,
          perRow.as("v"), col("v") > 0).map(_.getInt(0).toLong).sum
      }.sum)
    }
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

  /** One-pass violation aggregate over a DataFrame of any schema:
    * `count(when(c, 1))` per [[violationConditions]] condition. */
  private[checks] def violationCount(df: DataFrame, dataPurity: Boolean): Long = {
    val conds = violationConditions(df.schema, dataPurity)
    if (conds.isEmpty) { df.count(); 0L }
    else {
      val checks = conds.map(c => count(when(c, 1)))
      val row = df.agg(checks.head, checks.tail: _*).head()
      (0 until row.length).map(i => row.getLong(i)).sum
    }
  }

  /** The per-column violation conditions of a CHECKTABLE tier, the one
    * spelling both routes count: a row violates a condition where it is
    * true (null is no violation). */
  private def violationConditions(schema: StructType, dataPurity: Boolean)
      : Seq[Column] = schema.fields.toSeq.flatMap { f =>
    val c = col(quoted(f.name))
    f.dataType match {
      case DoubleType | FloatType =>
        Seq(isnan(c) || c === Double.PositiveInfinity ||
          c === Double.NegativeInfinity)
      case TimestampType if dataPurity =>
        Seq(c < lit("1900-01-01 00:00:00").cast("timestamp") ||
          c > lit("2100-01-01 00:00:00").cast("timestamp"))
      case StringType if dataPurity =>
        // impossible lengths flag decode corruption
        Seq(length(c) < 0)
      case _ => Seq.empty
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
