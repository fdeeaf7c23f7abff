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
}
