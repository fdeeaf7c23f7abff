package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, IncrementalDedup}
import graft.tables.Tables

/** Multi-batch ARRIVAL benchmark for the incremental dedup tier: the
  * production claim under test is per-batch ingest cost that stays flat
  * as the corpus grows (work ∝ batch, I/O ∝ touched buckets), and this
  * runner measures it instead of asserting it — N sequential
  * equal-sized batches ingested through the PERSISTED store path, per
  * batch wall seconds, emitted pairs, store size, and the peak per-task
  * input/shuffle record counts (the straggler proxy), in BOTH layouts:
  *
  *  - `bucketed` — the product path: [[IncrementalDedup.SigStore]]'s
  *    (pb0, pb1)-partitioned store, partition-pruned ingest reads,
  *    dynamic-partition-overwrite incremental saves;
  *  - `flat` — the pre-round-10 shape: an unpartitioned parquet store,
  *    every probe a full scan, every save a full rewrite.
  *
  * Two arrival REGIMES, because the bucketed layout's economics flip
  * with batch size (bucket pruning admits ~(2k/b)·store for a batch
  * with k distinct band keys at fan-out b — it pays only when k ≪ b):
  *
  *  - `prop` (default): md5(doc_id) % 50 — buckets ≥ N form the
  *    bootstrap corpus (~80% at N=10), bucket i < N is arriving batch
  *    i (~2% each). Proportional batches carry more band keys than any
  *    fan-out has buckets, so NOTHING prunes — this regime measures
  *    the layout's pure overhead, which [[graft.pipeline
  *    .IncrementalDedup.chooseBuckets]] bounds by degrading a small
  *    store to one cell (the flat layout plus metadata).
  *  - `trickle`: the production steady state the store exists for —
  *    a continuously-fed landing zone where each micro-batch is a
  *    handful of documents against a large corpus. Bootstrap = all but
  *    32 docs; 8 batches of 4 docs; the bucketed store is PINNED at
  *    fan-out 16 to reproduce the cell geometry autoK picks for a
  *    lake-scale corpus (the fixture corpus alone would get one cell).
  *    Here the rectangle prunes ~(2·4)/16 ≈ half the store per probe
  *    and the incremental save rewrites ≤16 of 256 cells, vs the flat
  *    arm's 3 full scans + full rewrite per 4-doc batch.
  *
  * A third regime, `ann`, A/Bs the INCREMENTAL ANN tier (sim14): arm
  * `ingest` = the product path (frozen centroids, AnnIndexStore
  * per-batch dynamic-overwrite commits — work ∝ batch), arm `retrain`
  * = the naive path it replaces (re-run Lloyd over all-data-so-far and
  * rewrite the whole index every batch — work ∝ corpus, growing as
  * batches land). Same per-batch JSON (seconds, store rows, records
  * read, peak task I/O).
  *
  * Usage: runMain graft.ArrivalBench <sfDir> [nBatches] [arm,arm] [mode]
  * One JSON line per batch per arm (now incl. total records read — the
  * pruning signal) + a summary line per arm. */
object ArrivalBench {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val mode = if (args.length > 3) args(3) else "prop"
    val arms = if (args.length > 2) args(2).split(",").toSeq
      else if (mode == "ann") Seq("ingest", "retrain")
      else Seq("bucketed", "flat")
    val spark = SessionDefaults.local()
    val listener = new StressDedup.PeakListener
    spark.sparkContext.addSparkListener(listener)

    if (mode == "ann") {
      runAnn(spark, listener, dir, nBatches, arms)
      spark.stop()
      return
    }

    val all = Tables.spread(spark, Tables.documents(spark, dir), "doc_id")
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(50))
    def sigsOf(df: DataFrame): DataFrame = Dedup.minhashSig(df)

    // (bootstrap corpus, arriving batch i, batch count, pinned fan-out)
    // per regime — fan-out 0 = let save() autoK-size it
    val (bootstrapDf, batchDf, batches, pinnedFanOut) = mode match {
      case "prop" =>
        (all.filter(bucket >= nBatches),
          (i: Int) => all.filter(bucket === i), nBatches, 0)
      case "trickle" =>
        val nb = math.min(nBatches, 8)
        val arrivals = all.select("doc_id")
          .withColumn("h", md5(col("doc_id").cast("string")))
          .orderBy("h").limit(nb * 4).select("doc_id")
          .collect().map(_.getLong(0))
        (all.filter(!col("doc_id").isInCollection(arrivals.toSeq)),
          (i: Int) => all.filter(
            col("doc_id").isInCollection(arrivals.slice(i * 4, i * 4 + 4))),
          nb, 16)
      case other => sys.error(s"unknown mode: $other")
    }

    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival").toString

    // Untimed warm-up through BOTH store shapes (scratch data): without
    // it, whichever arm runs first absorbs classloading, codegen and
    // parquet writer init (~2 s) and the A/B compares warmup, not
    // layout. Mirrors graft.Bench's warmup discipline. Scratch split
    // derived from doc_id RANGES, not limit(): limit without an
    // ordering is job-nondeterministic, so a limit/except pair could
    // recompute DIFFERENT subsets across jobs and make the warm-up
    // batches irreproducible — the same fix the ann mode's warm-up got
    // (round-12 review; round-13 advice flagged this copy).
    {
      val scratch = all.filter(col("doc_id") < 64)
      val st = new IncrementalDedup.SigStore(spark, s"$base/warm")
      st.save(IncrementalDedup.initialStore(sigsOf(scratch)), fanOut = 2)
      val winc = IncrementalDedup.ingest(st.load().get,
        sigsOf(all.filter(col("doc_id") >= 64 && col("doc_id") < 70)),
        buckets = st.buckets)
      winc.pairs.count()
      st.saveIncremental(winc.touched, winc.touchedParts)
      IncrementalDedup.initialStore(sigsOf(scratch))
        .write.mode("overwrite").parquet(s"$base/warmflat")
      spark.read.parquet(s"$base/warmflat").count()
      ()
    }

    arms.foreach { arm =>
      val t0 = System.nanoTime()
      var total = 0.0
      arm match {
        case "bucketed" =>
          val st = new IncrementalDedup.SigStore(spark, s"$base/bk-$mode")
          st.save(IncrementalDedup.initialStore(sigsOf(bootstrapDf)),
            fanOut = pinnedFanOut)
          val bootSec = (System.nanoTime() - t0) / 1e9
          println(s"""{"arm":"$arm","mode":"$mode","phase":"bootstrap","sec":${f"$bootSec%.2f"},"fan_out":${st.buckets}}""")
          (0 until batches).foreach { i =>
            listener.reset()
            val b0 = System.nanoTime()
            val loaded = st.load().get
            val t1 = System.nanoTime()
            // keepRect + rect pass-through: the PRODUCTION streaming
            // shape since round 15 — the store update's retained-rows
            // scan reads the ingest's cached rectangle instead of the
            // same partitions from disk a second time
            val inc = IncrementalDedup.ingest(loaded,
              sigsOf(batchDf(i)), buckets = st.buckets, keepRect = true)
            val t2 = System.nanoTime()
            val nPairs = inc.pairs.count()
            val t3 = System.nanoTime()
            try st.saveIncremental(inc.touched, inc.touchedParts,
              rect = inc.rectCache)
            finally inc.rectCache.foreach(_.unpersist(false))
            val t4 = System.nanoTime()
            val sec = (t4 - b0) / 1e9
            total += sec
            val rows = st.load().get.count()
            println(s"""{"arm":"$arm","mode":"$mode","batch":$i,"sec":${f"$sec%.2f"},"load_sec":${f"${(t1 - b0) / 1e9}%.2f"},"ingest_sec":${f"${(t2 - t1) / 1e9}%.2f"},"pairs_sec":${f"${(t3 - t2) / 1e9}%.2f"},"save_sec":${f"${(t4 - t3) / 1e9}%.2f"},"pairs":$nPairs,"store_rows":$rows,"records_read":${listener.totalInput.get()},"max_task_input":${listener.maxInput.get()},"max_task_shuffle":${listener.maxShuffle.get()}}""")
          }
        case "flat" =>
          // the pre-round-10 shape: flat store, full-scan probes, full
          // rewrite per batch (A/B dirs stand in for the tmp-swap)
          var cur = s"$base/flatA-$mode"; var nxt = s"$base/flatB-$mode"
          IncrementalDedup.initialStore(sigsOf(bootstrapDf))
            .write.mode("overwrite").parquet(cur)
          val bootSec = (System.nanoTime() - t0) / 1e9
          println(s"""{"arm":"$arm","mode":"$mode","phase":"bootstrap","sec":${f"$bootSec%.2f"}}""")
          (0 until batches).foreach { i =>
            listener.reset()
            val b0 = System.nanoTime()
            val loaded = spark.read.parquet(cur).drop("pb0", "pb1")
            val t1 = System.nanoTime()
            val inc = IncrementalDedup.ingest(loaded, sigsOf(batchDf(i)))
            val t2 = System.nanoTime()
            val nPairs = inc.pairs.count()
            val t3 = System.nanoTime()
            inc.updatedStore.write.mode("overwrite").parquet(nxt)
            val t4 = System.nanoTime()
            val sec = (t4 - b0) / 1e9
            total += sec
            val t = cur; cur = nxt; nxt = t
            val rows = spark.read.parquet(cur).count()
            println(s"""{"arm":"$arm","mode":"$mode","batch":$i,"sec":${f"$sec%.2f"},"load_sec":${f"${(t1 - b0) / 1e9}%.2f"},"ingest_sec":${f"${(t2 - t1) / 1e9}%.2f"},"pairs_sec":${f"${(t3 - t2) / 1e9}%.2f"},"save_sec":${f"${(t4 - t3) / 1e9}%.2f"},"pairs":$nPairs,"store_rows":$rows,"records_read":${listener.totalInput.get()},"max_task_input":${listener.maxInput.get()},"max_task_shuffle":${listener.maxShuffle.get()}}""")
          }
        case other => sys.error(s"unknown arm: $other")
      }
      println(s"""{"arm":"$arm","mode":"$mode","phase":"total_ingest","sec":${f"$total%.2f"},"batches":$batches,"sf":"$dir"}""")
    }
    spark.stop()
  }

  /** The ANN-tier A/B: frozen-centroid per-batch ingest (the sim14
    * product path) vs retrain-over-everything per batch (the naive
    * path whose cost grows with the corpus). */
  private def runAnn(spark: SparkSession, listener: StressDedup.PeakListener,
      dir: String, nBatches: Int, arms: Seq[String]): Unit = {
    import graft.pipeline.IncrementalAnn
    val vecs = IncrementalAnn.codeVectors(spark, dir)
    val bucket = pmod(
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(50))
    val bootstrapDf = vecs.filter(bucket >= nBatches)
    def batchDf(i: Int): DataFrame = vecs.filter(bucket === i)

    val base = java.nio.file.Files
      .createTempDirectory("graft-arrival-ann").toString

    // untimed warm-up through the store path (scratch data). Split
    // derived from vec_id ranges, not limit(): limit without an
    // ordering is job-nondeterministic, so a limit/except pair could
    // recompute DIFFERENT subsets across jobs and make the warm-up
    // batches irreproducible (round-12 review) — harmless to the timed
    // arms, but the bench's determinism discipline should hold
    // everywhere.
    {
      val scratch = vecs.filter(col("vec_id") < 64)
      val st = new IncrementalAnn.AnnIndexStore(spark, s"$base/warm")
      val c = IncrementalAnn.trainCentroids(scratch, k = 2)
      st.save(c, IncrementalAnn.assign(scratch, c))
      st.ingest(vecs.filter(col("vec_id") >= 64 && col("vec_id") < 70),
        batchId = 1L)
      st.load().get.count()
      ()
    }

    arms.foreach { arm =>
      var total = 0.0
      arm match {
        case "ingest" =>
          val st = new IncrementalAnn.AnnIndexStore(spark, s"$base/ing")
          val t0 = System.nanoTime()
          val cents = IncrementalAnn.trainCentroids(bootstrapDf)
          st.save(cents, IncrementalAnn.assign(bootstrapDf, cents))
          val bootSec = (System.nanoTime() - t0) / 1e9
          println(s"""{"arm":"$arm","mode":"ann","phase":"bootstrap","sec":${f"$bootSec%.2f"},"k":${cents.size}}""")
          (0 until nBatches).foreach { i =>
            listener.reset()
            val b0 = System.nanoTime()
            st.ingest(batchDf(i), batchId = i + 1L)
            val sec = (System.nanoTime() - b0) / 1e9
            total += sec
            val rows = st.load().get.count()
            println(s"""{"arm":"$arm","mode":"ann","batch":$i,"sec":${f"$sec%.2f"},"store_rows":$rows,"records_read":${listener.totalInput.get()},"max_task_input":${listener.maxInput.get()},"max_task_shuffle":${listener.maxShuffle.get()}}""")
          }
        case "retrain" =>
          // the naive path: every batch re-trains Lloyd over ALL data
          // so far and rewrites the whole index generation
          val st = new IncrementalAnn.AnnIndexStore(spark, s"$base/ret")
          val t0 = System.nanoTime()
          val cents0 = IncrementalAnn.trainCentroids(bootstrapDf)
          st.save(cents0, IncrementalAnn.assign(bootstrapDf, cents0))
          val bootSec = (System.nanoTime() - t0) / 1e9
          println(s"""{"arm":"$arm","mode":"ann","phase":"bootstrap","sec":${f"$bootSec%.2f"},"k":${cents0.size}}""")
          (0 until nBatches).foreach { i =>
            listener.reset()
            val b0 = System.nanoTime()
            val soFar = vecs.filter(bucket >= nBatches || bucket <= i)
            val c = IncrementalAnn.trainCentroids(soFar)
            st.save(c, IncrementalAnn.assign(soFar, c))
            val sec = (System.nanoTime() - b0) / 1e9
            total += sec
            val rows = st.load().get.count()
            println(s"""{"arm":"$arm","mode":"ann","batch":$i,"sec":${f"$sec%.2f"},"store_rows":$rows,"records_read":${listener.totalInput.get()},"max_task_input":${listener.maxInput.get()},"max_task_shuffle":${listener.maxShuffle.get()}}""")
          }
        case other => sys.error(s"unknown ann arm: $other")
      }
      println(s"""{"arm":"$arm","mode":"ann","phase":"total_ingest","sec":${f"$total%.2f"},"batches":$nBatches,"sf":"$dir"}""")
    }
  }
}
