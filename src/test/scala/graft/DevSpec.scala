package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Dev.Gauge]] counts exactly the measured actions and is readable the
  * moment `measure` returns; a bad command line names every subcommand. */
class DevSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("gauge: a job run outside the measured group is not counted, and " +
      "a measured action reads its exact job and stage count") {
    val sc = spark.sparkContext
    val gauge = new Dev.Gauge(sc)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      // created before measure, so it does not inherit the job group:
      // its job runs inside the measured window but outside the group
      val outside = new Thread(() => {
        go.await(); sc.parallelize(1 to 1000, 3).map(_ + 1).count(); ()
      })
      outside.start()
      val rows = gauge.measure("one job, two stages") {
        go.countDown(); outside.join()
        sc.parallelize(1 to 100, 4).map(i => (i % 3, 1))
          .reduceByKey(_ + _).collect().length
      }
      assert(rows === 3)
      assert(gauge.jobs.get() === 1L)
      assert(gauge.stages.get() === 2L)
      val spans = gauge.spans
      assert(spans.size === 1, spans)
      val s = spans.head._2
      assert(s.stages === 2 && s.t1 >= s.t0, s)
      // the reduce stage reads the map side's combined records
      assert(gauge.maxShuffle.get() > 0L)
    } finally gauge.close()
  }

  test("gauge: peak and total input records are final right after the " +
      "measured action returns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dev-gauge")
      .toString + "/t"
    (1 to 1000).toDF("id").repartition(4).write.parquet(dir)
    val gauge = new Dev.Gauge(spark.sparkContext)
    try {
      // a warm-up read whose task events may still be queued when the
      // measured window opens
      spark.read.parquet(dir).filter($"id" > 0).count()
      gauge.measure("scan")(spark.read.parquet(dir)
        .filter($"id" % 2 === 0).count())
      assert(gauge.totalInput.get() === 1000L)
      assert(gauge.maxInput.get() > 0L &&
        gauge.maxInput.get() <= 1000L, gauge.maxInput.get())
    } finally gauge.close()
  }

  test("an unknown subcommand fails with a usage message naming all " +
      "five subcommands") {
    val e = intercept[IllegalArgumentException](Dev.main(Array("bogus")))
    Seq("genscale", "genskew", "plans", "jobs", "stress").foreach { sub =>
      assert(e.getMessage.contains(sub), e.getMessage)
    }
    // a known subcommand with the wrong arity is refused the same way
    intercept[IllegalArgumentException](Dev.main(Array("jobs")))
  }
}
