package graft

import java.io.{File, RandomAccessFile}
import java.sql.Timestamp
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{InventoryRow, TableManifest}
import graft.checks.LakeChecks
import graft.executor.{CommandExecutor, CommandLog, ExecResult}
import graft.model.ManualClock

/** CHECKTABLE's two routes — the driver-local fold over a LocalRelation
  * and the Spark aggregate — count the same violations on any small
  * table, decode the same rows, and fail the same way in the command
  * log. */
class CheckRoutesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Run a ScalaCheck property over `n` drawn cases and fail the suite on
    * the first counterexample. */
  private def check(n: Int)(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("s", StringType),
    StructField("ts", TimestampType)))

  private def opt[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))

  private val genDouble: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6), 1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity),
    1 -> Gen.const(-0.0), 1 -> Gen.const(0.0))

  private val genFloat: Gen[Float] = Gen.frequency(
    4 -> Gen.choose(-1e6f, 1e6f), 1 -> Gen.const(Float.NaN),
    1 -> Gen.const(Float.PositiveInfinity),
    1 -> Gen.const(Float.NegativeInfinity),
    1 -> Gen.const(-0.0f), 1 -> Gen.const(0.0f))

  private val genString: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    3 -> Gen.choose(1, 8).flatMap(Gen.stringOfN(_, Gen.alphaNumChar)))

  /** Instants around the DATA_PURITY bounds (1900 and 2100, read in the
    * session zone), far outside them (1800, 2200) and in between. */
  private val genTs: Gen[Timestamp] = Gen.oneOf(
    Gen.oneOf("1800-01-01T00:00:00Z", "1899-12-31T23:30:00Z",
      "1900-01-01T07:59:59.999999Z", "1900-01-01T08:00:00Z",
      "2099-12-31T23:59:59Z", "2100-01-01T00:00:00.000001Z",
      "2200-06-01T12:00:00Z").map(Instant.parse),
    Gen.choose(-2208988800L, 4102444800L).map(Instant.ofEpochSecond))
    .map(Timestamp.from)

  private val genRow: Gen[Row] = for {
    id <- Gen.choose(0L, 1000L)
    d <- opt(genDouble)
    f <- opt(genFloat)
    s <- opt(genString)
    ts <- opt(genTs)
  } yield Row(id, d.getOrElse(null), f.getOrElse(null), s.orNull, ts.orNull)

  /** One to three files, each of zero to 30 rows. */
  private val genFiles: Gen[Seq[Seq[Row]]] = for {
    n <- Gen.choose(1, 3)
    files <- Gen.listOfN(n, Gen.choose(0, 30).flatMap(Gen.listOfN(_, genRow)))
  } yield files

  /** Whether a zero-byte file lands after the data files (pinned last). */
  private val genEmptyFile: Gen[Boolean] = Gen.oneOf(false, true)

  private val genZone: Gen[String] =
    Gen.oneOf("UTC", "America/Los_Angeles", "Asia/Kolkata")

  private def inZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, before)
  }

  private def tmpTable(name: String): String =
    java.nio.file.Files.createTempDirectory("graft-routes").toString +
      s"/$name.parquet"

  /** Writes each drawn row set as its own file through Spark's writer, on
    * the driver, then a zero-byte file if `emptyFile`, and pins the
    * table. */
  private def writeTable(dir: String, files: Seq[Seq[Row]],
      emptyFile: Boolean = false): TableManifest = {
    files.foreach(rows =>
      GraftSqlBridge.writeParquetFile(spark, new Path(dir), rows)(
        Encoders.row(schema)))
    if (emptyFile) assert(new File(dir, "part-99999-empty.parquet")
      .createNewFile())
    TableManifest.capture(spark,
      InventoryRow("db", "main", new File(dir).getName, "U", 1L, dir))
  }

  private val tiers = Seq( // (physicalOnly, dataPurity)
    (true, false), (false, false), (false, true))

  /** Both routes agree on every tier; the local route never declines. */
  private def routesAgree(m: TableManifest): Boolean = tiers.forall {
    case (po, dp) =>
      LakeChecks.localRoute(spark, m, po, dp, Long.MaxValue) ==
        Some(LakeChecks.sparkRoute(spark, m, po, dp))
  }

  /** The driver decodes the rows a Spark scan reads, as a multiset. */
  private def sameRows(dir: String, s: StructType): Boolean = {
    val local = GraftSqlBridge.readParquetRows(spark, new Path(dir))(
      Encoders.row(s))
    val scan = spark.read.schema(s).parquet(dir).collect().toSeq
    local.map(_.toString).sorted == scan.map(_.toString).sorted
  }

  test("the local and the Spark route count the same violations on every " +
      "tier, and the driver decodes the rows the scan reads") {
    // readParquetRows serves the stores' own directories, which hold no
    // empty file: the row comparison skips tables that have one
    check(30)(Prop.forAll(genFiles, genEmptyFile, genZone) {
      (files, emptyFile, zone) => inZone(zone) {
        val dir = tmpTable("t")
        val m = writeTable(dir, files, emptyFile)
        routesAgree(m) && (emptyFile || sameRows(dir, schema))
      }
    })
  }

  test("a TIMESTAMP(NANOS) column reads as a long on both routes") {
    val nanos = MessageTypeParser.parseMessageType(
      "message t { optional int64 ns (TIMESTAMP(NANOS,true)); " +
        "optional double d; }")
    val genNs: Gen[Long] = Gen.oneOf(
      Gen.const(-5364662400000000000L), // 1800-01-01
      Gen.const(7258118400000000000L), // 2200-01-01
      Gen.choose(Long.MinValue, Long.MaxValue))
    val genRows = Gen.listOf(for {
      ns <- opt(genNs)
      d <- opt(genDouble)
    } yield (ns, d))
    check(15)(Prop.forAll(genRows, genZone) { (rows, zone) =>
      inZone(zone) {
        val dir = tmpTable("ns")
        val file = new Path(s"$dir/part-00000.parquet")
        val conf = spark.sessionState.newHadoopConf()
        val w = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(file, conf)).withType(nanos)
          .withConf(conf).build()
        val groups = new SimpleGroupFactory(nanos)
        try rows.foreach { case (ns, d) =>
          val g = groups.newGroup()
          ns.foreach(g.add("ns", _))
          d.foreach(g.add("d", _))
          w.write(g)
        } finally w.close()
        val m = TableManifest.capture(spark,
          InventoryRow("db", "main", "ns", "U", 1L, dir))
        val s = LakeChecks.pinnedSchema(spark, m)
        s.map(_.dataType) == Seq(LongType, DoubleType) &&
          routesAgree(m) && sameRows(dir, s)
      }
    })
  }

  /** One CHECKTABLE through the command choke point, logged. */
  private def execute(action: => Long): ExecResult =
    new CommandExecutor(new CommandLog(spark, None),
      new ManualClock(Instant.parse("2026-08-12T10:00:00Z"), tickMs = 10),
      execute = true, retryBackoffMs = 0L)
      .run("db", "main", "t", "U", "CHECKTABLE [db].[main].[t]",
        "DBCC_CHECKTABLE")(action)

  /** A pinned two-file table, then `damage` applied to its files. */
  private def damaged(damage: Seq[File] => Unit): TableManifest = {
    val dir = tmpTable("t")
    val m = writeTable(dir, Seq(
      Seq(Row(1L, Double.NaN, 1f, "a", null)),
      Seq(Row(2L, 2.0, Float.NaN, "b", null))))
    damage(m.paths.map(p => new File(new java.net.URI(p))))
    m
  }

  /** Cuts `f` to half its length, footer and all. Its checksum file goes
    * too, so the reader meets the torn parquet file itself. */
  private def truncate(f: File): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(f.length() / 2) finally raf.close()
    new File(f.getParent, s".${f.getName}.crc").delete()
  }

  test("a truncated or deleted pinned file is the same hard error on both " +
      "routes: an error row, no violation count, no transient retry") {
    val cases = Seq[(String, Seq[File] => Unit)](
      "first file truncated" -> (fs => truncate(fs.head)),
      "second file truncated" -> (fs => truncate(fs(1))),
      "second file deleted" -> (fs => assert(fs(1).delete())))
    cases.foreach { case (name, damage) =>
      val m = damaged(damage)
      tiers.foreach { case (po, dp) =>
        val outcomes = Seq(
          execute(LakeChecks.localRoute(spark, m, po, dp, Long.MaxValue)
            .getOrElse(fail("the local route declined a small table"))),
          execute(LakeChecks.sparkRoute(spark, m, po, dp)))
        outcomes.foreach { r =>
          val e = r.entry
          assert((r.outcome, e.error_number, e.extended_info) ===
            (("Failed", Some(50000), "{}")), s"$name $po $dp: $e")
          assert(r.violations < 0L, s"$name $po $dp")
        }
      }
    }
  }
}
