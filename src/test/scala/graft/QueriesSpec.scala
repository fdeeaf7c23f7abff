package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    // through the one config site: the tests run the session the
    // product creates, at a fixed 4 cores
    val s = SessionDefaults(SparkSession.builder()
        .master("local[4]").appName("graft-test"), "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Every registered query must execute at sf0.001 and (except known-empty
  * results) produce rows; names must be unique and oracles well-formed. */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("query names are unique") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose correct result can legitimately be empty at sf0.001.
  // mm07/mm09: the fixture has no byte-identical documents below sf0.1
  // (and the md5 fake pHash has no near-collisions by construction), so
  // there are no exact-hash groups / near-dup pairs to report
  // (crafted-corpus coverage in MultimodalSpec). dd16: the arriving 20%
  // of a 50-doc corpus may touch no LSH pair (5 rows at sf0.01, 112 at
  // sf0.1; non-empty coverage in IncrementalDedupSpec).
  private val mayBeEmpty =
    Set("q09_anti_join", "mm07_phash_dup", "mm09_phash_near_dup",
      "dd16_incremental_lsh")

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val n = q.run(spark, sfDir).count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }
}
