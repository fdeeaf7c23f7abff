package graft
/** Dev gauge: jobs + stages one registered query schedules — the
  * scheduling-floor metric behind the round-12/14 dd16 shaves
  * (jobs/ingest 28 → 26 → 23), generalized in round 14 to ANY
  * registered query (`runMain graft.JobCount [queryName]`; default
  * dd16_incremental_lsh keeps the historical metric comparable).
  * Warms the query once (classloading, codegen, memoized fixtures)
  * so the count prices the steady-state run, and keys the listener on
  * a job group so late-delivered warm-up events on the async listener
  * bus can never inflate the measured count (round-13 review).
  * SPARK_GRAFT_JOBCOUNT_VERBOSE=1 prints each job's stage names so a
  * shave targets the right job. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated list (round-18: one JVM censuses a whole batch —
    // a per-query sbt launch costs ~40 s of pure JVM start-up)
    val names = args.headOption.getOrElse("dd16_incremental_lsh")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SessionDefaults.local()
    names.foreach { name =>
      // dd16 measures INGEST ONLY against the memoized store — the same
      // form the bench times (the one-time bootstrap is amortized in
      // production); every other query runs its registered form
      val fn: () => Unit =
        if (name == "dd16_incremental_lsh") { () =>
          graft.pipeline.IncrementalDedup.warmDd16BenchStore(spark, sfDir)
          graft.pipeline.IncrementalDedup.dd16IngestOnly(spark, sfDir)
            .count(); ()
        } else if (name == "dd17_forget_store") { () =>
          // forget-only against the memoized store — the bench's form
          graft.pipeline.IncrementalDedup.warmDd17BenchStore(spark, sfDir)
          graft.pipeline.IncrementalDedup.dd17ForgetOnly(spark, sfDir)
            .count(); ()
        } else {
          val q = SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query: $name (names are SparkEntry" +
              ".queries keys)"))
          () => { q(spark, sfDir).count(); () }
        }
      fn() // untimed warm-up: the measured pass prices steady state
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val stages = new java.util.concurrent.atomic.AtomicLong
      val group = "graft-jobcount-" + java.util.UUID.randomUUID()
      // SPARK_GRAFT_JOBCOUNT_TIMELINE=1: per-job [start,end] wall
      // intervals (ms, relative to the measured pass) — the overlap
      // evidence for queries that submit concurrent job chains (dd08's
      // two candidate generators; round-18 verdict #5 asked for exactly
      // this trace). Group-filtered like the counters, so warm-up events
      // cannot pollute the timeline.
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val timeline = sys.env.contains("SPARK_GRAFT_JOBCOUNT_TIMELINE")
      val measT0 = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          if (j.properties != null &&
              group == j.properties.getProperty("spark.jobGroup.id")) {
            jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
            measT0.accumulateAndGet(j.time, math.min)
            starts.put(j.jobId, j.time)
            // per-job provenance so a shave targets the right job: the
            // stage names + stage count of each scheduled job
            if (sys.env.contains("SPARK_GRAFT_JOBCOUNT_VERBOSE"))
              println(s"JOB ${j.jobId} stages=${j.stageInfos.size} " +
                j.stageInfos.map(_.name).mkString(" | "))
          }
          ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          if (timeline && starts.containsKey(j.jobId)) {
            val s: Long = starts.get(j.jobId)
            println(s"TIMELINE job=${j.jobId} " +
              s"t0=${s - measT0.get()} t1=${j.time - measT0.get()}")
          }
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, s"measured $name")
      val t0 = System.nanoTime()
      try fn()
      finally spark.sparkContext.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the async bus drain the group's events
      spark.sparkContext.removeSparkListener(listener)
      println(f"JOBCOUNT query=$name jobs=${jobs.get()} " +
        f"stages=${stages.get()} warm_sec=$sec%.2f")
    }
    spark.stop()
  }
}
