package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every workload end to end at sf 0.001, with its output checks. */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = graft.SessionDefaults(SparkSession.builder()
      .master("local[2]"), "2")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val work = new File("target/smoke-work").getAbsoluteFile

  private def ctx(name: String, seed: Long, trace: Boolean): Ctx = {
    val dir = new File(work, s"run-$name")
    Fs.deleteTree(dir)
    dir.mkdirs()
    Ctx(spark, dir, new File(work, "tables"), Some(0.001), seed, 0.0, trace, 2,
      new SpanLog(name), new SparkCounters)
  }

  private def run(w: Workload, seed: Long, trace: Boolean): Result = {
    val c = ctx(w.name, seed, trace)
    spark.sparkContext.addSparkListener(c.counters)
    try w.run(c) finally spark.sparkContext.removeSparkListener(c.counters)
  }

  Main.workloads.foreach { w =>
    test(s"${w.name} runs at sf 0.001 and its outputs check") {
      val r = run(w, 1L, trace = true)
      assert(r.failed === 0L, r.notes.mkString("\n"))
      assert(r.attempted > 0L)
      Seq("setup_s", "pass_s", "first_pass_s", "ops_per_s", "peak_heap_mb")
        .foreach(m => assert(r.e2e(m) > 0.0, m))
      assert(r.layers.nonEmpty)
      if (w == ManySmallTables) { // its traced run also runs the operator layer
        assert(r.layers.keys.count(_.startsWith("functions.")) === 11)
        assert(r.layers.keys.count(_.startsWith("operators.query_s.")) ===
          OperatorSuite.expected(0.001).size)
      }
    }
  }

  test("the same seed derives the same inputs and decisions; another seed does not") {
    val a = run(ManySmallTables, 7L, trace = false)
    val b = run(ManySmallTables, 7L, trace = false)
    val c = run(ManySmallTables, 8L, trace = false)
    assert(a.inputDigest === b.inputDigest)
    assert(a.outputDigest === b.outputDigest)
    assert(a.inputDigest !== c.inputDigest)
    assert(run(ArrivalWorkload, 7L, trace = false).inputDigest !==
      run(ArrivalWorkload, 8L, trace = false).inputDigest)
  }
}
