package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{DirInventory, InventoryRow, TableManifest}
import graft.checks.LakeChecks
import graft.tables.Tables

/** The full CheckCommand vocabulary against clean + corrupt inputs. */
class LakeChecksSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private def inv = new DirInventory(spark, Map("testdb" -> sfDir))

  test("CHECKDB composes alloc + catalog + every table (ref DIC:1350)") {
    val tables = inv.objects("testdb")
    val (cmd, action) = LakeChecks.checkDb(spark, "testdb", tables,
      physicalOnly = false, dataPurity = true, maxDop = 2)
    assert(cmd ===
      "CHECKDB [testdb] WITH NO_INFOMSGS, ALL_ERRORMSGS, DATA_PURITY, MAXDOP = 2")
    assert(action() === 0L)
  }

  test("CHECKFILEGROUP validates one partition slice (ref DIC:1372-1511)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-fg").toString + "/events"
    Tables.events(spark, sfDir)
      .withColumn("dt", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("dt=")).head.getName
    val t = graft.catalog.InventoryRow("testdb", "main", "events", "U", 1L, out)
    val (cmd, action) =
      LakeChecks.checkFileGroup(spark, t, part, dataPurity = true, maxDop = 0)
    assert(cmd.startsWith("CHECKFILEGROUP [testdb].[events].["))
    assert(action() === 0L)
    // a missing partition is a violation, not an exception
    val (_, missing) =
      LakeChecks.checkFileGroup(spark, t, "dt=1899-01-01", true, 0)
    assert(missing() === 1L)
  }

  test("check_rowcounts counts a PARTITIONED table tree fully") {
    // footer counting must recurse: a partitioned table keeps its files
    // one directory level down per partition key — a non-recursive listing
    // would silently under-report exactly this layout.
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "documents").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    Tables.documents(spark, sfDir).write.partitionBy("lang")
      .parquet(s"$dir/documents.parquet")
    val got = graft.checks.Checks.checkRowcounts.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.all.map(t =>
      t -> spark.read.parquet(s"$sfDir/$t.parquet").count()).toMap
    assert(got === want)
  }

  test("FK and PK checks actually fire on violating data") {
    // the fixtures are clean, so the oracle gate only ever sees zeros —
    // prove the detectors detect: drop half the orders (orphaning their
    // lineitems) and duplicate the surviving half (breaking PK
    // uniqueness) in a mutated copy of the sf dir.
    val dir = java.nio.file.Files.createTempDirectory("graft-viol").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "orders").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    half.union(half).write.parquet(s"$dir/orders.parquet")
    val fk = graft.checks.Checks.checkFkContainment.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedOrphans = graft.tables.Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 2 =!= 0).count()
    assert(fk("lineitem.l_orderkey->orders") === expectedOrphans)
    assert(fk("orders.o_custkey->customer") === 0L) // customers intact
    val pk = graft.checks.Checks.checkPkUnique.run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pk("orders") === half.count()) // every surviving key ×2
    assert(pk("customer") === 0L)
  }

  test("DATA_PURITY domain checks fire on out-of-domain rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dom").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.filter(_ != "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    }
    // poison 3 rows: negative quantity, enum outside {A,N,R}, year 1889
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("l_orderkey", "l_linenumber")
    val poisoned = li.withColumn("rn", row_number().over(w))
      .withColumn("l_quantity",
        when(col("rn") === 1, -5.0).otherwise(col("l_quantity")))
      .withColumn("l_returnflag",
        when(col("rn") === 2, "X").otherwise(col("l_returnflag")))
      .withColumn("l_shipdate",
        when(col("rn") === 3, lit("1889-01-01 00:00:00").cast("timestamp"))
          .otherwise(col("l_shipdate")))
      .drop("rn")
    poisoned.write.parquet(s"$dir/lineitem.parquet")
    val got = graft.checks.Checks.checkDomains.run(spark, dir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("lineitem") === ((1L, 0L, 1L, 1L))) // range, ratio, enum, ts
    assert(got("orders") === ((0L, 0L, 0L, 0L)))   // untouched table clean
  }

  test("CHECKALLOC flags a zero-byte parquet file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alloc").toString
    val tdir = new java.io.File(s"$dir/broken.parquet")
    tdir.mkdirs()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"${tdir.getPath}/part-0.parquet"))
    val t = graft.catalog.InventoryRow("testdb", "main", "broken", "U", 0L,
      tdir.getPath)
    val (_, action) = LakeChecks.checkAlloc(spark, "testdb", Seq(t), 0)
    assert(action() >= 1L)
  }

  test("CHECKFILEGROUP reads a directly written clean slice as clean, " +
      "and still flags a zero-byte data file in it") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-fg-direct").toString + "/t"
    // a direct write leaves its zero-byte `_SUCCESS` marker in the slice
    spark.read.parquet(s"$sfDir/nation.parquet").write.parquet(s"$out/k=1")
    assert(new java.io.File(s"$out/k=1/_SUCCESS").length() === 0L)
    val t = InventoryRow("testdb", "main", "t", "U", 1L, out)
    val (_, clean) =
      LakeChecks.checkFileGroup(spark, t, "k=1", dataPurity = true, 0)
    assert(clean() === 0L)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$out/k=1/part-99999.parquet"))
    val (_, broken) =
      LakeChecks.checkFileGroup(spark, t, "k=1", dataPurity = true, 0)
    assert(broken() >= 1L)
  }

  test("CHECKALLOC, CHECKCATALOG and a small CHECKTABLE run no Spark job") {
    val tables = inv.objects("testdb")
    val manifests = tables.map(t =>
      (t.database_name, t.schema_name, t.object_name) ->
        TableManifest.capture(spark, t)).toMap
    val gauge = new Dev.Gauge(spark.sparkContext)
    try {
      val alloc = gauge.measure("CHECKALLOC")(LakeChecks.checkAlloc(
        spark, "testdb", tables, 0, manifests)._2())
      assert((alloc, gauge.jobs.get()) === ((0L, 0L)))
      val cat = gauge.measure("CHECKCATALOG")(LakeChecks.checkCatalog(
        spark, "testdb", tables, manifests)._2())
      assert((cat, gauge.jobs.get()) === ((0L, 0L)))
      tables.foreach { t =>
        val (_, check) = LakeChecks.checkTable(spark, t,
          physicalOnly = false, dataPurity = false, maxDop = 0,
          manifests.get((t.database_name, t.schema_name, t.object_name)))
        val v = gauge.measure(s"CHECKTABLE ${t.object_name}")(check())
        // every fixture table is within the local route's ceilings: its
        // files are decoded on the driver, no job
        assert((v, gauge.jobs.get()) === ((0L, 0L)), t.object_name)
      }
    } finally gauge.close()
  }

  /** Writes `df` as one parquet file and pins it. */
  private def pinnedTable(name: String, df: org.apache.spark.sql.DataFrame)
      : (InventoryRow, TableManifest) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-route")
      .toString + s"/$name.parquet"
    df.coalesce(1).write.parquet(dir)
    val t = InventoryRow("testdb", "main", name, "U", 1L, dir)
    (t, TableManifest.capture(spark, t))
  }

  /** The violations and Spark jobs of one default-tier CHECKTABLE. */
  private def checkJobs(t: InventoryRow, m: TableManifest): (Long, Long) = {
    val gauge = new Dev.Gauge(spark.sparkContext)
    try {
      val (_, check) = LakeChecks.checkTable(spark, t, physicalOnly = false,
        dataPurity = false, maxDop = 0, Some(m))
      (gauge.measure(s"CHECKTABLE ${t.object_name}")(check()),
        gauge.jobs.get())
    } finally gauge.close()
  }

  private def footerRows(m: TableManifest): Long = m.paths.map { p =>
    val r = org.apache.spark.sql.GraftSqlBridge.openParquet(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(p))
    try r.getRecordCount finally r.close()
  }.sum

  test("a CHECKTABLE over the byte ceiling runs its aggregate's two jobs") {
    // incompressible strings: over the byte ceiling, under the row one
    val (t, m) = pinnedTable("wide", spark.range(15000).select(col("id"),
      sha2(col("id").cast("string"), 512).as("s"),
      when(col("id") % 1000 === 0, lit(Double.NaN))
        .otherwise(col("id") * 0.5).as("x")))
    assert(m.files.map(_.length).sum > LakeChecks.LocalMaxBytes)
    assert(footerRows(m) <= LakeChecks.LocalMaxRows)
    // one action; adaptive execution submits the aggregate's shuffle map
    // stage as a job of its own, so the action reads two jobs
    assert(checkJobs(t, m) === ((15L, 2L)))
  }

  test("a compressible CHECKTABLE over the row ceiling takes the Spark " +
      "route") {
    // a near-constant column: a small file of many rows
    val (t, m) = pinnedTable("long", spark.range(LakeChecks.LocalMaxRows + 1)
      .select(when(col("id") % 5000 === 0, lit(Double.NaN))
        .otherwise(lit(1.0)).as("x")))
    assert(m.files.map(_.length).sum <= LakeChecks.LocalMaxBytes)
    assert(footerRows(m) > LakeChecks.LocalMaxRows)
    assert(checkJobs(t, m) === ((5L, 2L)))
  }

  test("the driver-side footer schema equals Spark's inferred schema " +
      "for every fixture table") {
    Tables.all.foreach { name =>
      val m = TableManifest.capture(spark,
        InventoryRow("testdb", "main", name, "U", 0L,
          s"$sfDir/$name.parquet"))
      assert(m.files.nonEmpty, name)
      assert(LakeChecks.pinnedSchema(spark, m) ===
        spark.read.parquet(m.paths: _*).schema, name)
    }
  }

  test("a vanished pinned file is a violation even when it is not the " +
      "first one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vanish")
      .toString + "/two.parquet"
    spark.read.parquet(s"$sfDir/nation.parquet").repartition(2)
      .write.parquet(dir)
    val t = InventoryRow("testdb", "main", "two", "U", 1L, dir)
    val m = TableManifest.capture(spark, t)
    assert(m.files.size === 2)
    new java.io.File(new java.net.URI(m.files(1).path)).delete()
    val pinned = Map(("testdb", "main", "two") -> m)
    val (_, alloc) = LakeChecks.checkAlloc(spark, "testdb", Seq(t), 0, pinned)
    assert(alloc() >= 1L)
    val (_, cat) = LakeChecks.checkCatalog(spark, "testdb", Seq(t), pinned)
    assert(cat() === 1L)
  }

  test("CHECKTABLE counts each failed check once per row, and a null " +
      "fails none, pinned or not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ct")
      .toString + "/t.parquet"
    Seq[(Option[Double], Option[String])](
      (Some(Double.NaN), Some("2020-01-01 00:00:00")),
      (Some(Double.PositiveInfinity), Some("1800-01-01 00:00:00")),
      (None, None),
      (Some(1.0), Some("2020-01-01 00:00:00")))
      .toDF("x", "ts").withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(dir)
    val t = InventoryRow("testdb", "main", "t", "U", 1L, dir)
    Seq(None, Some(TableManifest.capture(spark, t))).foreach { m =>
      def run(physicalOnly: Boolean, dataPurity: Boolean): Long =
        LakeChecks.checkTable(spark, t, physicalOnly, dataPurity, 0, m)._2()
      assert(run(physicalOnly = false, dataPurity = false) === 2L)
      assert(run(physicalOnly = false, dataPurity = true) === 3L)
      assert(run(physicalOnly = true, dataPurity = false) === 0L)
    }
  }

  test("an unpinned CHECKTABLE reads a partitioned table's partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ct-part")
      .toString + "/t"
    Seq((1, 1.0), (1, Double.NaN), (2, 2.0)).toDF("k", "x")
      .write.partitionBy("k").parquet(dir)
    val t = InventoryRow("testdb", "main", "t", "U", 1L, dir)
    val (_, check) = LakeChecks.checkTable(spark, t, physicalOnly = false,
      dataPurity = false, maxDop = 0)
    assert(check() === 1L)
  }

  test("column names that collide case-insensitively: CHECKCATALOG counts " +
      "each colliding group, CHECKALLOC none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dupcols")
      .toString + "/t.parquet"
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try Seq((1, 2, 3, 4, 5)).toDF("a", "A", "b", "B", "c").write.parquet(dir)
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val t = InventoryRow("testdb", "main", "t", "U", 1L, dir)
    val pinned = Map(("testdb", "main", "t") -> TableManifest.capture(spark, t))
    val (_, alloc) = LakeChecks.checkAlloc(spark, "testdb", Seq(t), 0, pinned)
    assert(alloc() === 0L)
    val (_, cat) = LakeChecks.checkCatalog(spark, "testdb", Seq(t), pinned)
    assert(cat() === 2L)
  }
}
