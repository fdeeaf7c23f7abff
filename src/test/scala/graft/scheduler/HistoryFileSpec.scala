package graft.scheduler

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The duration-history file keeps one byte layout across writers, so
  * every existing checkpoint root's history stays readable:
  * `{"format":1,"stages":{"<unit>":{"n":N,"avg_ms":M}}}` plus a newline,
  * compact, units sorted, `n` before `avg_ms`. */
class HistoryFileSpec extends AnyFunSuite {
  import graft.SparkTestSession.spark

  private def tmpPath(): String =
    Files.createTempDirectory("graft-history").toString + "/stage_stats.json"

  test("a flush writes the compact layout, units sorted, n before avg_ms") {
    val path = tmpPath()
    val w = new DurationStats(spark, path)
    w.record("oov_qc", 2100L)
    w.record("dedup_ingest", 4000L)
    w.record("dedup_ingest", 4200L)
    w.flush()
    assert(new String(Files.readAllBytes(Paths.get(path)), UTF_8) ===
      """{"format":1,"stages":{"dedup_ingest":{"n":2,"avg_ms":4100},""" +
        """"oov_qc":{"n":1,"avg_ms":2100}}}""" + "\n")
  }

  test("a unit key outside Latin-1 round-trips as UTF-8") {
    val path = tmpPath()
    val w = new DurationStats(spark, path)
    w.record("db.main.t\u00e9\u20ac", 900L)
    w.flush()
    assert(new DurationStats(spark, path).predictMs("db.main.t\u00e9\u20ac")
      === Some(900L))
  }

  test("a file in the earlier writer's escaping reads back; an " +
      "unreadable or partial one reads as no history") {
    def read(body: String): DurationStats = {
      val path = tmpPath()
      Files.write(Paths.get(path), body.getBytes(UTF_8))
      new DurationStats(spark, path)
    }
    // the earlier writer escaped every control character as \\u00XX
    val old = read("{\"format\":1,\"stages\":{\"db.main.a\\u0009b\":" +
      "{\"n\":3,\"avg_ms\":700},\"plain\":{\"n\":1,\"avg_ms\":5}}}\n")
    assert(old.predictMs("db.main.a\tb") === Some(700L))
    assert(old.predictMs("plain") === Some(5L))
    assert(read("not json").predictMs("plain") === None)
    assert(read("{\"format\":1,\"stages\":{\"plain\":{\"n\":1,")
      .predictMs("plain") === None)
    // an entry without both integral fields is no history for its unit
    assert(read("{\"format\":1,\"stages\":{\"plain\":{\"n\":1}," +
      "\"x\":{\"n\":1,\"avg_ms\":\"5\"}}}").predictMs("plain") === None)
  }
}
