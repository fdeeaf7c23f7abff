package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The core count every session is built with comes from one resolver,
  * and no main hard-codes a host's core count. */
class SessionDefaultsSpec extends AnyFunSuite {
  test("cpus: SPARK_GRAFT_CPUS unset -> the JVM's available processors") {
    assert(SessionDefaults.cpus(Map.empty) ===
      Runtime.getRuntime.availableProcessors.toString)
    assert(SessionDefaults.cpus(Map("OTHER" -> "7")) ===
      Runtime.getRuntime.availableProcessors.toString)
  }

  test("cpus: SPARK_GRAFT_CPUS set -> that value") {
    assert(SessionDefaults.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) === "3")
  }

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally s.close()
  }

  test("no main-code session hard-codes 32 cores") {
    // neither a local[32] master nor a "32" core count handed to
    // SessionDefaults (or anywhere else)
    val literal32 = """local\[32\]|"32"""".r
    val hits = mainSources.filter { case (_, src) =>
      literal32.findFirstIn(src).isDefined }.map(_._1)
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place under src/main") {
    val hits = mainSources.flatMap { case (p, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains("\"SPARK_GRAFT_CPUS\"") => s"$p:${i + 1}"
      }
    }
    assert(hits.size === 1, hits.mkString(", "))
  }

  test("src/main has one arrival drain: Trigger.AvailableNow and the " +
      "\"sources/0\" offset-log path each sit on exactly one code line") {
    // a second drain or offset-log parser would drift from the first
    // (the mid-drain vanish check once ran in only two of three drains)
    def codeLines(needle: String): Seq[String] = mainSources.flatMap {
      case (p, src) => src.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains(needle) && {
            val t = l.trim
            !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*")
          } => s"$p:${i + 1}"
      }
    }
    val drains = codeLines("Trigger.AvailableNow")
    assert(drains.size === 1, drains.mkString(", "))
    val parsers = codeLines("\"sources/0\"")
    assert(parsers.size === 1, parsers.mkString(", "))
  }

  test("src/main opens parquet files only in GraftSqlBridge, and every " +
      "open there takes read options built from the caller's conf") {
    // parquet's default read options build a fresh Hadoop Configuration
    // per open, which re-parses the default resources: about 40 times
    // the cost of a footer read with a conf the caller already holds
    val parquetIo = ("""ParquetFileReader\s*\.\s*(open|readFooter)|""" +
      """new\s+ParquetFileReader|Parquet(Reader|Writer)\s*\.\s*builder|""" +
      """(Parquet|Hadoop)ReadOptions\s*\.\s*builder|""" +
      """ExampleParquetWriter|AvroParquet(Reader|Writer)""").r
    val bridge = "src/main/scala/org/apache/spark/sql/GraftSqlBridge.scala"
    val outside = mainSources.collect {
      case (p, src) if p.toString != bridge &&
          parquetIo.findFirstIn(src).isDefined => p.toString
    }
    assert(outside.isEmpty, outside.mkString(", "))
    val src = mainSources.collectFirst {
      case (p, s) if p.toString == bridge => s }.get
    // every open passes the file's conf into its read options as well
    val opens = """ParquetFileReader\.open\(""".r.findAllIn(src).size
    val confOpens = ("""ParquetFileReader\.open\(HadoopInputFile\.fromPath""" +
      """\((\w+), (\w+)\),\s*HadoopReadOptions\.builder\(\2, \1\)\.build\(\)\)""")
      .r.findAllIn(src).size
    assert(opens > 0 && confOpens === opens)
    assert(!src.contains("ParquetReadOptions.builder"))
  }

  test("src/main has one generation protocol: the generation path " +
      "suffixes are spelled only in tables/Generations, the lock suffix " +
      "only in tables/StoreLease") {
    // a second copy of the swap or the recovery would drift from the
    // first (two recover bodies once differed only in their comments)
    def filesWith(literals: Seq[String]): Seq[String] = mainSources.collect {
      case (p, src) if literals.exists(l => src.contains("\"" + l)) =>
        p.toString
    }.sorted
    assert(filesWith(Seq(".tmp\"", ".old\"", ".bakparts\"", ".trash.")) ===
      Seq("src/main/scala/graft/tables/Generations.scala"))
    assert(filesWith(Seq(".lock\"")) ===
      Seq("src/main/scala/graft/tables/StoreLease.scala"))
  }

  test("the nanosecond-timestamp mapping is set only where a session " +
      "gets graft: SessionDefaults and GraftExtensions") {
    // set mid-run, it wrote shared session conf, from pool threads in
    // concurrent mode
    val setter = """"spark\.sql\.legacy\.parquet\.nanosAsLong"\s*,""".r
    val hits = mainSources.collect {
      case (p, src) if setter.findFirstIn(src).isDefined => p.toString
    }.sorted
    assert(hits === Seq("src/main/scala/graft/GraftExtensions.scala",
      "src/main/scala/graft/SessionDefaults.scala"))
  }

  test("the only mains under src/main are Main, Bench, Verify, Dev and " +
      "pipeline.ScaleVerify") {
    // a new tool is a Dev subcommand on Dev's one session, not a main
    val mains = mainSources.collect {
      case (p, src) if src.contains("def main(") =>
        p.toString.stripPrefix("src/main/scala/").stripSuffix(".scala")
    }.sorted
    assert(mains === Seq("graft/Bench", "graft/Dev", "graft/Main",
      "graft/Verify", "graft/pipeline/ScaleVerify"))
  }
}
