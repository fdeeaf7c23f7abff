package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

/** Developer tools — fixture generators, plan dumps and Spark-cost
  * gauges — behind one entry point (`runMain graft.Dev <subcommand>`,
  * see [[Usage]]) and one [[SessionDefaults.local]] session. `jobs` and
  * `stress` read their Spark cost from one [[Gauge]]. */
object Dev {
  val Usage: String =
    "usage: graft.Dev genscale <srcDir> <dstDir> [factor] | " +
      "genskew <srcDir> <dstDir> | " +
      "plans <name,...> <sfDir> [<outDir>[:<suffix>]] | " +
      "jobs <name,...> <sfDir> | stress <skewDir> [<mode>,...] | " +
      "routes <table.parquet> <rows,...> | " +
      "routes dedup <documents.parquet> <storeRows,...>"

  def main(args: Array[String]): Unit = {
    // parse before the session starts: a bad command line fails fast
    val run = command(args.toList)
    val spark = SessionDefaults.local()
    try run(spark) finally spark.stop()
  }

  private def command(args: List[String]): SparkSession => Unit =
    args match {
      case List("genscale", src, dst) => genScale(_, src, dst, 10)
      case List("genscale", src, dst, f) => genScale(_, src, dst, f.toInt)
      case List("genskew", src, dst) => genSkew(_, src, dst)
      case List("plans", names, sf) => plans(_, list(names), sf, None)
      case List("plans", names, sf, out) =>
        plans(_, list(names), sf, Some(out))
      case List("jobs", names, sf) => jobs(_, list(names), sf)
      case List("stress", dir) => stress(_, dir, Seq("throw", "truncate"))
      case List("stress", dir, modes) => stress(_, dir, list(modes))
      case List("routes", "dedup", docs, rows) =>
        dedupRoutes(_, docs, list(rows).map(_.toLong))
      case List("routes", table, rows) =>
        routes(_, table, list(rows).map(_.toLong))
      case _ => throw new IllegalArgumentException(Usage)
    }

  private def list(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** One measured job: stage count, stage names, start/end (epoch ms;
    * `t1` is -1 until the job ends). */
  final case class Span(stages: Int, names: String, t0: Long, t1: Long)

  /** Spark cost of the actions run inside [[measure]], and of nothing
    * else: every event is keyed on a job group unique to this gauge, so
    * jobs from other threads, and warm-up events still queued on the
    * asynchronous listener bus, are never counted. [[measure]] drains
    * the bus before it returns, so the counters are final when it does.
    * Counts jobs and stages, each job's stage names and `[t0,t1]`, total
    * input records, and the peak per-task input and shuffle-read
    * records (the straggler/OOM proxy). */
  final class Gauge(sc: SparkContext) extends SparkListener
      with AutoCloseable {
    private val group = "graft-dev-" + UUID.randomUUID()
    // task events carry no job group: attribute them by stage id
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val byJob = new ConcurrentHashMap[Int, Span]()
    val jobs, stages, totalInput, maxInput, maxShuffle = new AtomicLong
    sc.addSparkListener(this)

    def measure[T](description: String)(body: => T): T = {
      Seq(jobs, stages, totalInput, maxInput, maxShuffle).foreach(_.set(0L))
      stageIds.clear(); byJob.clear()
      sc.setJobGroup(group, description)
      try body
      finally {
        sc.clearJobGroup()
        GraftSqlBridge.drainListenerBus(sc)
      }
    }

    def spans: Seq[(Int, Span)] = byJob.asScala.toSeq.sortBy(_._1)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (j.properties != null &&
          group == j.properties.getProperty("spark.jobGroup.id")) {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        j.stageInfos.foreach(s => stageIds.add(s.stageId))
        byJob.put(j.jobId, Span(j.stageInfos.size,
          j.stageInfos.map(_.name).mkString(" | "), j.time, -1L))
      }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      byJob.computeIfPresent(j.jobId, (_, s) => s.copy(t1 = j.time))
      ()
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null && stageIds.contains(t.stageId)) {
        maxInput.getAndAccumulate(m.inputMetrics.recordsRead, math.max)
        maxShuffle.getAndAccumulate(
          m.shuffleReadMetrics.recordsRead, math.max)
        totalInput.addAndGet(m.inputMetrics.recordsRead)
        ()
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Jobs and stages each named query schedules — the scheduling-floor
    * metric behind the dd16 shaves (jobs/ingest 28 → 26 → 23). Each
    * query runs once untimed (classloading, codegen, memoized fixtures)
    * so the count prices the steady-state run. Prints one `JOB` line
    * per measured job (stage count, `[t0,t1]` ms relative to the first
    * job's start, stage names: the overlap evidence for queries that
    * submit concurrent job chains, such as dd08's two candidate
    * generators) and one `JOBCOUNT` line per query. */
  private def jobs(spark: SparkSession, names: Seq[String],
      sfDir: String): Unit = {
    val gauge = new Gauge(spark.sparkContext)
    names.foreach { name =>
      // dd16 measures INGEST ONLY and dd17 FORGET ONLY against the
      // memoized store — the forms Bench times (the one-time store
      // bootstrap is amortized in production); every other query runs
      // its registered form
      val action: () => Long = name match {
        case "dd16_incremental_lsh" => () =>
          graft.pipeline.IncrementalDedup.dd16IngestOnly(spark, sfDir).count()
        case "dd17_forget_store" => () =>
          graft.pipeline.IncrementalDedup.dd17ForgetOnly(spark, sfDir).count()
        case _ =>
          val q = SparkEntry.queries.getOrElse(name,
            throw new IllegalArgumentException(s"unknown query: $name " +
              "(names are SparkEntry.queries keys)"))
          () => q(spark, sfDir).count()
      }
      action() // untimed warm-up: the measured pass prices steady state
      val t0 = System.nanoTime()
      gauge.measure(s"measured $name")(action())
      val sec = (System.nanoTime() - t0) / 1e9
      val spans = gauge.spans
      val base = spans.map(_._2.t0).minOption.getOrElse(0L)
      spans.foreach { case (id, s) =>
        println(s"JOB $id stages=${s.stages} t0=${s.t0 - base} " +
          s"t1=${s.t1 - base} ${s.names}")
      }
      println(f"JOBCOUNT query=$name jobs=${gauge.jobs.get()} " +
        f"stages=${gauge.stages.get()} warm_sec=$sec%.2f")
    }
    gauge.close()
  }

  /** The CHECKTABLE route crossover behind `LakeChecks.LocalMaxBytes`
    * and `LocalMaxRows`: for each row count, the first rows of `table`
    * written as one file, checked at the scheduler's default tier
    * (DATA_PURITY) through the Spark route and through the driver-local
    * route past its row bound. Each route runs twice untimed, then five
    * times; prints one `ROUTE` line per size with the file's bytes, each
    * route's median ms and the jobs of its last run. */
  private def routes(spark: SparkSession, table: String,
      sizes: Seq[Long]): Unit = {
    import graft.catalog.{InventoryRow, TableManifest}
    import graft.checks.LakeChecks
    val gauge = new Gauge(spark.sparkContext)
    val root = java.nio.file.Files.createTempDirectory("graft-routes")
    try sizes.foreach { n =>
      val dir = s"$root/t$n.parquet"
      spark.read.parquet(table).limit(n.toInt).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val m = TableManifest.capture(spark,
        InventoryRow("db", "main", s"t$n", "U", 0L, dir))
      def time(route: () => Long): (Double, Long, Long) = {
        Seq.fill(2)(route())
        val ms = Seq.fill(5) {
          val t0 = System.nanoTime()
          gauge.measure(s"route $n")(route())
          (System.nanoTime() - t0) / 1e6
        }.sorted
        (ms(2), gauge.jobs.get(), route())
      }
      val (sparkMs, sparkJobs, v1) = time(() => LakeChecks.sparkRoute(
        spark, m, physicalOnly = false, dataPurity = true))
      val (localMs, localJobs, v2) = time(() => LakeChecks.localRoute(
        spark, m, physicalOnly = false, dataPurity = true, Long.MaxValue).get)
      require(v1 == v2, s"routes disagree at $n rows: $v1 vs $v2")
      println(f"ROUTE rows=$n bytes=${m.files.map(_.length).sum} " +
        f"spark_ms=$sparkMs%.1f spark_jobs=$sparkJobs " +
        f"local_ms=$localMs%.1f local_jobs=$localJobs violations=$v1")
    } finally {
      gauge.close()
      val tmp = new org.apache.hadoop.fs.Path(root.toUri)
      tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(tmp, true)
    }
  }

  /** The arrival dedup route crossover behind
    * `IncrementalDedup.LocalMaxRows`: for each N, a fan-out-1 signature
    * store of N documents (the table's rows, repeated past its size with
    * every word suffixed by the copy number, so each copy signs anew)
    * and one batch of the table's first 250 documents under new ids.
    * Each route ingests the batch into its own copy of the store (copied
    * outside the timing), twice untimed, then five times; prints one `ROUTE` line per size with each
    * route's median ms and the jobs of its last run. The routes must
    * write the same pairs and the same store. */
  private def dedupRoutes(spark: SparkSession, docs: String,
      sizes: Seq[Long]): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import graft.pipeline.{Dedup, IncrementalDedup}
    val gauge = new Gauge(spark.sparkContext)
    val root = java.nio.file.Files.createTempDirectory("graft-routes")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root.toUri).getFileSystem(conf)
    val table = spark.read.parquet(docs).select("doc_id", "text")
    val tableRows = table.count()
    table.limit(250).withColumn("doc_id", col("doc_id") + (1L << 40))
      .coalesce(1).write.parquet(s"$root/batch")
    val batchFile = fs.listStatus(new Path(s"$root/batch")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val schema = spark.read.parquet(batchFile.toString).schema
    def rows(dir: String) = spark.read.parquet(dir).collect()
      .map(_.mkString(",")).sorted.toSeq
    try sizes.foreach { n =>
      val store = s"$root/store$n"
      val corpus = spark.range((n + tableRows - 1) / tableRows)
        .crossJoin(table)
        .select((col("doc_id") + col("id") * (1L << 32)).as("doc_id"),
          when(col("id") === 0, col("text")).otherwise(regexp_replace(
            col("text"), lit("(\\S+)"), concat(lit("$1_"), col("id")))).as("text"))
        .orderBy("doc_id").limit(n.toInt)
      val st = new IncrementalDedup.SigStore(spark, store)
      st.withLease(st.save(IncrementalDedup.initialStore(
        Dedup.minhashSig(corpus)), fanOut = 1))
      val storeRows = st.load().get.count()
      // a route's median ms, the jobs of its last timed run, and the
      // directory of its last (untimed) run: `<dir>/store`, `<dir>/pairs`
      def time(name: String)(
          route: (IncrementalDedup.SigStore, String) => Unit)
          : (Double, Long, String) = {
        var run = 0
        // (the run's directory, the untimed copy of the store in it)
        def fresh(): (String, IncrementalDedup.SigStore) = {
          run += 1
          val dir = s"$root/$name$n-$run"
          FileUtil.copy(fs, new Path(store), fs, new Path(s"$dir/store"),
            false, conf)
          (dir, new IncrementalDedup.SigStore(spark, s"$dir/store"))
        }
        def once(dir: String, copy: IncrementalDedup.SigStore): Unit =
          copy.withLease(route(copy, s"$dir/pairs"))
        Seq.fill(2)((once _).tupled(fresh()))
        val ms = Seq.fill(5) {
          val (dir, copy) = fresh()
          val t0 = System.nanoTime()
          gauge.measure(s"$name route $n")(once(dir, copy))
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val jobs = gauge.jobs.get()
        val (dir, copy) = fresh()
        once(dir, copy)
        (ms(2), jobs, dir)
      }
      val (sparkMs, sparkJobs, sparkDir) = time("spark") { (s, out) =>
        IncrementalDedup.sparkRoute(s,
          spark.read.schema(schema).parquet(batchFile.toString), out)(())
      }
      val (localMs, localJobs, localDir) = time("local") { (s, out) =>
        require(IncrementalDedup.localRoute(spark, s, Seq(batchFile), schema,
          out, maxRows = Long.MaxValue)(()), "the local route declined")
      }
      val pairs = rows(s"$sparkDir/pairs")
      require(pairs == rows(s"$localDir/pairs") &&
        rows(s"$sparkDir/store") == rows(s"$localDir/store"),
        s"routes disagree at $n store rows")
      println(f"ROUTE dedup store_rows=$storeRows batch_docs=250 " +
        f"spark_ms=$sparkMs%.1f spark_jobs=$sparkJobs " +
        f"local_ms=$localMs%.1f local_jobs=$localJobs pairs=${pairs.size}")
    } finally {
      gauge.close()
      fs.delete(new Path(root.toUri), true)
    }
  }

  private val StressTier = Seq(
    "dd01_exact_dedup", "dd02_ngram_jaccard", "dd03_minhash_lsh",
    "dd04_simhash", "dd05_embedding_dup", "dd06_dup_clusters",
    "dd07_winnow_pairs", "dd08_candidate_jaccard", "dd09_semantic_dedup",
    "dd10_semdedup_recall", "dd11_dup_profile", "dd12_dup_spans",
    "dd13_source_overlap", "dd14_cluster_reps", "dd15_minhash_calibration",
    "dd16_incremental_lsh",
    "pipe01_clean_corpus", "pipe15_filter_funnel", "pipe17_dedup_mixture",
    "mm07_phash_dup")

  /** Runs the dedup tier against a [[genSkew]] fixture in each
    * bucket-cap mode and prints, per query, one JSON line with wall
    * seconds, result rows, the PEAK per-task input/shuffle record counts
    * (a skew-safe shape keeps these bounded by cap²/2-ish constants
    * instead of corpus size), and the truncation-flag row count where
    * the query exposes one. Queries that THROW are recorded with their
    * outcome — in throw mode the mega bucket and the over-budget
    * broadcast tier are SUPPOSED to refuse loudly, and the error text
    * naming the scale path is part of the contract. */
  private def stress(spark: SparkSession, dir: String,
      modes: Seq[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val gauge = new Gauge(spark.sparkContext)
    val queries = SparkEntry.queries
    for (mode <- modes; name <- StressTier) {
      spark.conf.set("spark.graft.bucketCap.mode", mode)
      val t0 = System.nanoTime()
      val (outcome, rows, truncated) = gauge.measure(s"stress $name") {
        try {
          val df = queries(name)(spark, dir)
          val hasFlag = df.columns.contains("bucket_truncated")
          val collected = df.count()
          val tr = if (hasFlag)
            queries(name)(spark, dir).filter(col("bucket_truncated")).count()
          else -1L
          ("ok", collected, tr)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\n\r]", " ").take(160)
            (s"threw: $msg", -1L, -1L)
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"query":"$name","mode":"$mode","outcome":"$outcome",""" +
          s""""sec":${math.round(sec * 100) / 100.0},"rows":$rows,""" +
          s""""truncated_rows":$truncated,""" +
          s""""max_task_input":${gauge.maxInput.get()},""" +
          s""""max_task_shuffle":${gauge.maxShuffle.get()}}""")
    }
    gauge.close()
  }

  /** Prints the executed plan of each named query so pushdown, pruning
    * and join strategy can be audited. With `out` = `<dir>[:<suffix>]`
    * it instead writes each query's full `explain("formatted")` to
    * `<dir>/<name>_<suffix>.txt` (suffix defaults to `plan`) — the
    * form of the plans/r18 before/after evidence files. */
  private def plans(spark: SparkSession, names: Seq[String],
      sfDir: String, out: Option[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val dest = out.map { v =>
      val parts = v.split(":")
      (parts(0), if (parts.length > 1) parts(1) else "plan")
    }
    dest.foreach { case (dir, _) => new java.io.File(dir).mkdirs() }
    SparkEntry.allQueries.filter(q => names.contains(q.name)).foreach { q =>
      println(s"\n===== ${q.name} =====")
      try {
        val df = q.run(spark, sfDir)
        dest match {
          case Some((dir, suffix)) =>
            val formatted = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.PrintWriter(s"$dir/${q.name}_$suffix.txt")
            try w.println(formatted) finally w.close()
            println(s"wrote $dir/${q.name}_$suffix.txt")
          case None =>
            println(df.queryExecution.executedPlan.toString.take(4000))
        }
      } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
  }

  private def write(df: DataFrame, dst: String, name: String,
      files: Int): Unit = {
    df.repartition(files)
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
    println(s"[dev] wrote $dst/$name.parquet ($files files)")
  }

  /** Deterministic ×`factor` scale-up of a fixture dir (sf0.1 → "sf1",
    * ~6M-row lineitem, multi-file) so scaling claims can be MEASURED
    * above the largest shipped fixture instead of argued from plans.
    * Everything is derived from the source rows with pure column
    * expressions — no RNG, no timestamps — so repeated runs are
    * byte-stable and the DuckDB oracle can run the same queries on the
    * same files.
    *
    * Shape decisions, chosen to keep the WORK distribution scale-similar
    * rather than to stress dedup (the skew stress fixture is
    * [[genSkew]]):
    *  - fact/dim tables replicate with key offsets that preserve FK
    *    integrity copy-by-copy (copy k's orders point at copy k's
    *    customers, etc.); values/dates are untouched, so per-key group
    *    sizes and date selectivities match the source and only the ROW
    *    COUNT scales;
    *  - documents get a per-copy marker token spliced every 8 words:
    *    within-copy near-dup structure is preserved exactly, while
    *    cross-copy 5-gram Jaccard collapses (most windows straddle a
    *    marker), so the dup-pile sizes stay source-like instead of
    *    inflating ×F — "10× more of the same corpus", not "every doc
    *    now has 10 twins";
    *  - embeddings get a deterministic per-copy, per-dimension additive
    *    perturbation (±0.02·k scale) — cross-copy cosine drops below
    *    near-dup thresholds while the cell/cluster geometry stays
    *    source-like (a pure scalar scale would leave cosine IDENTICAL and
    *    create F-fold ANN piles);
    *  - big tables are written MULTI-FILE (the cluster layout: a 100-TB
    *    table is thousands of files; single-file fixtures hide
    *    per-file-parallelism effects). */
  private def genScale(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    def copies: DataFrame =
      spark.range(factor).select(col("id").cast("int").as("cp"))
    def table(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // dims: unchanged (the reference star schema keys nations/regions
    // from a fixed vocabulary; scaling those would break semantics)
    write(table("region"), dst, "region", 1)
    write(table("nation"), dst, "nation", 1)

    // key offset units: strictly above each source table's max key so
    // copy ranges never collide
    val custOff = 100000L
    val suppOff = 10000L
    val partOff = 100000L
    val orderOff = 1000000L
    def scaled(df: DataFrame, keys: (String, Long)*): DataFrame =
      keys.foldLeft(df.crossJoin(copies)) { case (d, (k, unit)) =>
        d.withColumn(k, col(k) + col("cp") * unit)
      }.drop("cp")

    write(scaled(table("customer"), "c_custkey" -> custOff),
      dst, "customer", 4)
    write(scaled(table("supplier"), "s_suppkey" -> suppOff),
      dst, "supplier", 2)
    write(scaled(table("part"), "p_partkey" -> partOff), dst, "part", 4)
    write(scaled(table("orders"), "o_orderkey" -> orderOff,
      "o_custkey" -> custOff), dst, "orders", 8)
    write(scaled(table("lineitem"), "l_orderkey" -> orderOff,
      "l_partkey" -> partOff, "l_suppkey" -> suppOff), dst, "lineitem", 16)
    write(scaled(graft.tables.Tables.events(spark, src), "event_id" -> 1000000L,
      "user_id" -> 10000000L), dst, "events", 8)

    // copy 0 is the source verbatim
    val docs = table("documents").crossJoin(copies)
      .withColumn("text",
        when(col("cp") === 0, col("text")).otherwise(expr(
          """array_join(zip_with(split(text, ' '),
            |  sequence(0, size(split(text, ' ')) - 1),
            |  (t, i) -> IF(i % 8 = 7,
            |    concat(t, ' xcp', CAST(cp AS STRING), 'q'), t)), ' ')
            |""".stripMargin)))
      .withColumn("doc_id", col("doc_id") + col("cp") * 100000L)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("cp")
    write(docs, dst, "documents", 4)

    // sin of a pure integer expression is deterministic
    val emb = table("embeddings").crossJoin(copies)
      .withColumn("embedding",
        when(col("cp") === 0, col("embedding")).otherwise(expr(
          """zip_with(embedding,
            |  sequence(0, size(embedding) - 1),
            |  (x, i) -> CAST(x + 0.02 * cp *
            |    sin(CAST(i AS DOUBLE) * 1.7 +
            |        CAST(vec_id AS DOUBLE) * 0.13) AS FLOAT))
            |""".stripMargin)))
      .withColumn("vec_id", col("vec_id") + col("cp") * 100000L)
      .drop("cp")
    write(emb, dst, "embeddings", 4)
  }

  /** Deterministic SKEWED-corpus stress fixture: the pathologies every
    * web-scale dedup run eventually meets, at bench scale, so the
    * skew-safe shapes and the bucket-cap degrade paths are exercised by
    * real data instead of only property tests:
    *
    *  - a 10⁵-copy EXACT-dup pile (one boilerplate page repeated 100k
    *    times under distinct doc_ids) — the map-side-combine killer: any
    *    content-keyed window or unguarded groupBy ships 100k rows to one
    *    reducer;
    *  - one MEGA LSH BUCKET: 20k docs sharing a long common prefix with a
    *    unique tail token — nearly every signature minimum comes from the
    *    shared prefix, so the banding funnels all 20k into one bucket and
    *    the C(n,2) pair expansion would be 2×10⁸ pairs without the cap;
    *  - a GIANT NEAR-DUP CHAIN: 30k docs sliding a 100-token window by 10
    *    over one token stream — adjacent docs are 90% identical, chaining
    *    into huge connected components (the pile itself is a 100k-node
    *    star component);
    *  - an EMBEDDING pile: 5k bit-identical vectors (plus the source
    *    embeddings) for the cosine-dup tier.
    *
    * Background = the source fixture's documents verbatim; all other
    * tables copy through so every registered query still runs. Everything
    * is a pure column expression — byte-stable across runs. */
  private def genSkew(spark: SparkSession, src: String,
      dst: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), dst, t,
        if (t == "lineitem") 8 else 2)
    }

    val background = spark.read.parquet(s"$src/documents.parquet")

    // 1. the exact-dup pile: 100k copies of one boilerplate page
    val pileText = (1 to 120).map(i => s"boiler${i % 40}").mkString(" ")
    val pile = spark.range(100000)
      .select((col("id") + 1000000L).as("doc_id"),
        lit(pileText).as("text"), lit("en").as("lang"),
        lit("web").as("source"),
        lit(pileText.length.toLong).as("n_chars"))

    // 2. the mega LSH bucket: long shared prefix + one unique tail token
    val bucketBase = (1 to 150).map(i => s"shared${i % 60}x").mkString(" ")
    val bucket = spark.range(20000)
      .select((col("id") + 2000000L).as("doc_id"),
        concat(lit(bucketBase + " uniq"), col("id").cast("string"))
          .as("text"),
        lit("en").as("lang"), lit("books").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // 3. the near-dup chain: 100-token windows, stride 10, one stream
    val chain = spark.range(30000)
      .select((col("id") + 3000000L).as("doc_id"),
        expr("""array_join(transform(sequence(id * 10, id * 10 + 99),
          |  p -> concat('tk', CAST(p AS STRING))), ' ')""".stripMargin)
          .as("text"),
        lit("en").as("lang"), lit("code").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    write(background.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(pile).unionByName(bucket).unionByName(chain),
      dst, "documents", 8)

    // embedding pile: 5k identical unit-ish vectors beside the source set
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val dims = srcEmb.selectExpr("size(embedding)").head().getInt(0)
    val pileVec = spark.range(5000)
      .select((col("id") + 1000000L).as("vec_id"),
        expr(s"""transform(sequence(0, ${dims - 1}),
          |  i -> CAST(sin(CAST(i AS DOUBLE) * 0.37) AS FLOAT))"""
          .stripMargin).as("embedding"),
        lit(7).as("label"))
    write(srcEmb.unionByName(pileVec), dst, "embeddings", 4)
  }
}
