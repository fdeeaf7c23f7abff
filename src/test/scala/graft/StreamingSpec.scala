package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventQueries, Streams}
import graft.tables.Tables

/** Stream == batch parity for the event operators (Structured Streaming's
  * core guarantee, exercised over the bounded parquet source). */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("incrementalCheck checks only newly arrived files across restarts") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-inc").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val out = s"$base/out"
    val fixture = Paths.get(s"$sfDir/region.parquet")
    val schema = spark.read.parquet(fixture.toString).schema
    val checkFn = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(count(lit(1)).as("n_rows"),
        count(when(col("r_regionkey") < 0, 1)).as("bad_keys"))
    val expected = spark.read.parquet(fixture.toString).count()

    // batch 0: one file present
    Files.copy(fixture, Paths.get(s"$src/part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Streams.incrementalCheck(spark, src, schema, checkFn, cp, out)
    val r1 = spark.read.parquet(out).collect()
    assert(r1.map(_.getAs[Long]("n_rows")).sum === expected)
    assert(r1.forall(_.getAs[Long]("bad_keys") === 0L))

    // restart with the same checkpoint after a second file arrives:
    // ONLY the new file is checked (exactly-once accounting)
    Files.copy(fixture, Paths.get(s"$src/part-1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Streams.incrementalCheck(spark, src, schema, checkFn, cp, out)
    val r2 = spark.read.parquet(out).collect()
    assert(r2.map(_.getAs[Long]("n_rows")).sum === 2 * expected,
      "second run must process exactly the one new file")
    assert(r2.length > r1.length)

    // idle restart: nothing new, nothing re-checked
    Streams.incrementalCheck(spark, src, schema, checkFn, cp, out)
    assert(spark.read.parquet(out).collect()
      .map(_.getAs[Long]("n_rows")).sum === 2 * expected)

    // a corrupt file arriving FAILS the run loudly (no silent skip) and,
    // because its batch never commits to the checkpoint, stays pending:
    // the operator sees the error, fixes the file, and the next run
    // re-checks it — the CommandExecute error-capture contract, streamed
    Files.write(Paths.get(s"$src/part-2.parquet"),
      "not parquet".getBytes)
    intercept[Exception] {
      Streams.incrementalCheck(spark, src, schema, checkFn, cp, out)
    }
    assert(spark.read.parquet(out).collect()
      .map(_.getAs[Long]("n_rows")).sum === 2 * expected,
      "the failed batch must not have produced a summary")
  }

  test("quiet probe survives source-log COMPACTION: after 12 one-file " +
      "passes (the log folds into a .compact at batch 9) the probe " +
      "still reads the landing as quiet, and one new file wakes it") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-quietc").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val out = s"$base/out"
    val fixture = Paths.get(s"$sfDir/region.parquet")
    val schema = spark.read.parquet(fixture.toString).schema
    val checkFn = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(count(lit(1)).as("n_rows"))
    // 12 sequential one-file passes: the file-source metadata log
    // compacts every 10 batches, so entries for batches ≤ 9 live only
    // inside `9.compact` — the seen-set parser must read compacts (by
    // their folded id) or the probe would mark old files unseen
    // forever and the quiet fast path would never fire again
    (0 until 12).foreach { i =>
      Files.copy(fixture, Paths.get(s"$src/part-$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Streams.incrementalCheck(spark, src, schema, checkFn, cp, out)
    }
    val fs = new org.apache.hadoop.fs.Path(cp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$cp/sources/0"))
      .exists(_.getPath.getName.endsWith(".compact")),
      "fixture must actually exercise a compacted source log")
    assert(Streams.nothingNewLanded(spark, src, cp),
      "12 committed files, none new — the landing must read quiet")
    // a 13th file wakes it
    Files.copy(fixture, Paths.get(s"$src/part-12.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(!Streams.nothingNewLanded(spark, src, cp))
    assert(Streams.unseenFiles(spark, src, cp) === 1L)
  }

  test("incrementalDedupStream: per-batch pairs equal the monolithic " +
      "chain restricted to the batch; store survives restarts") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.pipeline.{Dedup, IncrementalDedup}
    val base = Files.createTempDirectory("graft-incdd").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val out = s"$base/out"
    val storePath = s"$base/sigs"
    def docsDf(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
    val b1 = Seq((10L, "alpha beta alpha beta"),
      (11L, "alpha beta alpha beta"), (12L, "gamma delta gamma"))
    val b2 = Seq((3L, "alpha beta alpha beta"), // rep takeover: 3 < 10
      (13L, "gamma delta gamma"))
    val schema = docsDf(b1).schema
    def pairsOf(dir: String): Set[(Long, Long)] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    def fullRestricted(all: Seq[(Long, String)],
        batch: Set[Long]): Set[(Long, Long)] =
      Dedup.lshPairsOf(Dedup.minhashSig(docsDf(all)))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => batch(p._1) || batch(p._2)).toSet

    // land arrivals as PLAIN FILES in src (the file-stream source does
    // not recurse into subdirectories): stage the write, copy the part
    var staged = 0
    def land(rows: Seq[(Long, String)]): Unit = {
      staged += 1
      val stage = s"$base/stage-$staged"
      docsDf(rows).coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(s"$src/arrival-$staged.parquet"))
      ()
    }

    // batch 0 arrives, stream drains, store bootstraps
    land(b1)
    Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    assert(pairsOf(s"$out/batch_id=0") ===
      fullRestricted(b1, b1.map(_._1).toSet))
    // RESTART with the same checkpoint after batch 1 arrives: only the
    // new files ingest, against the PERSISTED store, with a rep takeover
    land(b2)
    Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    assert(pairsOf(s"$out/batch_id=1") ===
      fullRestricted(b1 ++ b2, b2.map(_._1).toSet))
    // the persisted store equals the monolithic signature state
    val st = new IncrementalDedup.SigStore(spark, storePath).load().get
      .select("sig_key", "doc_id", "rep").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.sigWithRep(Dedup.minhashSig(docsDf(b1 ++ b2)))
      .select("sig_key", "doc_id", "rep").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st === want)
    // idle restart: no new files, no new batch dirs, store untouched
    Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    assert(!Files.exists(Paths.get(s"$out/batch_id=2")))
  }

  test("incrementalDedupStream sweeps scrub-crash residue at drain " +
      "start (round-16 advice): a batch dir hidden by an interrupted " +
      "forget swap is restored BEFORE the drain, so the pair sink " +
      "never serves with a silently missing batch") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val base = Files.createTempDirectory("graft-incdd-sweep").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val out = s"$base/out"
    def land(n: Int, rows: Seq[(Long, String)]): Unit = {
      val stage = s"$base/stage-$n"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(s"$src/arrival-$n.parquet"))
      ()
    }
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    land(1, Seq((10L, "alpha beta alpha"), (11L, "alpha beta alpha")))
    Streams.incrementalDedupStream(spark, src, schema, s"$base/sigs",
      cp, out)
    assert(spark.read.parquet(out).count() === 1L) // (10, 11)
    // an interrupted scrub hid batch 0 (crash between the two renames)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$out/batch_id=0"),
      new org.apache.hadoop.fs.Path(s"$out/.forget-old-0")))
    // next drain (new arrival) restores it before ingesting
    land(2, Seq((12L, "gamma delta gamma")))
    Streams.incrementalDedupStream(spark, src, schema, s"$base/sigs",
      cp, out)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$out/batch_id=0")),
      "hidden batch dir not restored by the drain-start sweep")
    assert(spark.read.parquet(out)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((10L, 11L)))
  }

  test("incrementalDedupStream: a crash BETWEEN the pair write and the " +
      "store update replays to byte-identical pairs and a converged " +
      "store") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.pipeline.{Dedup, IncrementalDedup}
    val base = Files.createTempDirectory("graft-incdd-crash").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val out = s"$base/out"
    val storePath = s"$base/sigs"
    def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val b1 = Seq((10L, "alpha beta alpha beta"),
      (11L, "alpha beta alpha beta"), (12L, "gamma delta gamma"))
    val b2 = Seq((3L, "alpha beta alpha beta"), // rep takeover: 3 < 10
      (13L, "gamma delta gamma"))
    val schema = docsDf(b1).schema
    def pairsOf(dir: String): Set[(Long, Long)] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    def fullRestricted(all: Seq[(Long, String)],
        batch: Set[Long]): Set[(Long, Long)] =
      Dedup.lshPairsOf(Dedup.minhashSig(docsDf(all)))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => batch(p._1) || batch(p._2)).toSet
    def storeState(): Set[(String, Long, Long)] =
      new IncrementalDedup.SigStore(spark, storePath).load().get
        .select("sig_key", "doc_id", "rep").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def monolithic(all: Seq[(Long, String)]): Set[(String, Long, Long)] =
      Dedup.sigWithRep(Dedup.minhashSig(docsDf(all)))
        .select("sig_key", "doc_id", "rep").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    var staged = 0
    def land(rows: Seq[(Long, String)]): Unit = {
      staged += 1
      val stage = s"$base/stage-$staged"
      docsDf(rows).coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(s"$src/arrival-$staged.parquet"))
      ()
    }
    // batch 0 bootstraps normally
    land(b1)
    Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    // batch 1: KILL the run in the crash window — pairs written, store
    // NOT yet updated (the window the replay contract exists for)
    land(b2)
    Streams.onDedupPairsWritten = id =>
      if (id == 1L) {
        Streams.onDedupPairsWritten = _ => () // one-shot
        throw new RuntimeException("injected kill after pair write")
      }
    try intercept[Exception] {
      Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    } finally Streams.onDedupPairsWritten = _ => ()
    val pairsAtCrash = pairsOf(s"$out/batch_id=1")
    assert(storeState() === monolithic(b1),
      "the killed run must not have advanced the store")
    // the crash released the lease (withLease's finally), so the
    // restart can claim the store and REPLAY batch 1
    Streams.incrementalDedupStream(spark, src, schema, storePath, cp, out)
    val want = fullRestricted(b1 ++ b2, b2.map(_._1).toSet)
    assert(pairsOf(s"$out/batch_id=1") === want)
    assert(pairsAtCrash === want,
      "replay must overwrite the batch partition with identical pairs")
    assert(storeState() === monolithic(b1 ++ b2),
      "the replayed batch must converge the store")
  }

  test("streaming sequence packing equals batch pipe05") {
    // packChunks is a stateless per-row generator, so the SAME transform
    // runs under readStream with no watermark/state — arriving docs chunk
    // incrementally (the streaming form of the packing pass).
    val docsStream = {
      val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    }
    val streamed = Streams.runToMemory(spark,
      graft.pipeline.TrainingData.packChunks(docsStream), "chunk_sink",
      OutputMode.Append())
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    val batch = graft.pipeline.TrainingData.pipe05PackChunks
      .run(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streaming near-dup flags exactly the docs dd03 pairs as doc_b") {
    // dd03's pairs are (doc_a < doc_b) per shared bucket; the streaming
    // detector flags a doc when its bucket already holds a smaller id —
    // so the flagged set must equal dd03's distinct doc_b values.
    val docsStream = {
      val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    }
    val flagged = Streams.runToMemory(spark,
      Streams.streamingNearDup(spark, docsStream).toDF(), "neardup",
      OutputMode.Append())
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val batchDocB = graft.SparkEntry.queries("dd03_minhash_lsh")(spark, sfDir)
      .select("doc_b").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged === batchDocB)
  }

  test("stream-static enrichment join equals the batch join") {
    val enriched = Streams.runToMemory(spark,
      Streams.enrichWithUserDim(Streams.eventsStream(spark, sfDir),
        spark.read.parquet(s"$sfDir/customer.parquet")),
      "enrich_sink", OutputMode.Append())
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = Streams.enrichWithUserDim(Tables.events(spark, sfDir),
        spark.read.parquet(s"$sfDir/customer.parquet"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(enriched === batch)
    assert(batch.nonEmpty && batch.forall(r => r(2) != null)) // all users resolve
  }

  test("streaming vocabulary term counts equal batch tx06 term_freq") {
    val docsStream = {
      val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    }
    val streamed = Streams.runToMemory(spark,
      Streams.vocabTermFreq(docsStream), "vocab_sink",
      OutputMode.Complete())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.SparkEntry.queries("tx06_vocab_topk")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("term_freq")).toMap
    // tx06 is top-50; every reported token's count must match exactly
    batch.foreach { case (tok, n) => assert(streamed(tok) === n) }
    assert(batch.nonEmpty)
  }

  test("streaming tumbling window equals batch date_trunc aggregation") {
    val streamed = Streams.runToMemory(spark,
      Streams.tumblingCounts(Streams.eventsStream(spark, sfDir)),
      "tumbling_sink", OutputMode.Complete())
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = EventQueries.ev01TumblingWindow.run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streaming rolling actives equal batch ev13's 7-day distinct counts") {
    // stacked-dedup decomposition of count(DISTINCT): every (user, day)
    // exactly once, fan out, every (user, cover_day) exactly once, count
    val streamed = Streams.runToMemory(spark,
      Streams.rollingActives(Streams.eventsStream(spark, sfDir)),
      "rolling_sink", OutputMode.Complete())
      .selectExpr("date_format(cover_day, 'yyyy-MM-dd') AS day",
        "active_7d")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = EventQueries.ev13RollingActives.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // batch drops zero-DAU tail days; every batch day must agree exactly
    assert(batch.nonEmpty)
    batch.foreach { case (day, n) =>
      assert(streamed.get(day).contains(n), s"day $day: $n vs ${streamed.get(day)}")
    }
  }

  test("streaming funnel state machine equals batch ev07") {
    // Update-mode state machine: the memory sink holds one row per
    // (user, batch). Funnel state is MONOTONE (each stage timestamp is
    // set at most once, stage only grows), so per-user max over the
    // emitted rows IS the final state, batch count notwithstanding.
    val sink = Streams.runToMemory(spark,
      Streams.streamingFunnel(spark, Streams.eventsStream(spark, sfDir)).toDF(),
      "funnel_sink", OutputMode.Update())
    val streamed = sink.groupBy("user_id")
      .agg(max("first_view").as("first_view"),
        max("first_click").as("first_click"),
        max("first_purchase").as("first_purchase"),
        max("stage").as("stage"), max("converted").as("converted"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val batch = EventQueries.ev07Funnel.run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming conversion-latency percentiles equal batch ev14") {
    // Append-mode closed-funnel stream → Complete-mode percentile agg:
    // the sink's final table IS the rollup (Complete mode rewrites it
    // wholesale each trigger), so compare it row-for-row against ev14.
    val streamed = Streams.runToMemory(spark,
      Streams.streamingConversionLatency(spark,
        Streams.eventsStream(spark, sfDir)),
      "latency_sink", OutputMode.Complete())
      .orderBy("cohort_week").collect().map(_.toSeq).toSeq
    val batch = EventQueries.ev14ConversionLatency.run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming first-seen-per-key equals batch groupBy min") {
    val streamed = Streams.runToMemory(spark,
      Streams.firstSeenPerKey(Streams.eventsStream(spark, sfDir)),
      "firstseen_sink", OutputMode.Complete())
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(min("ts").as("first_ts"), count(lit(1)).as("n"))
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("mapGroupsWithState running totals equal batch per-user aggregates") {
    val streamed = Streams.runToMemory(spark,
      Streams.runningUserState(spark,
        Streams.eventsStream(spark, sfDir)).toDF(),
      "running_sink", OutputMode.Update())
    // final state per user (last update wins)
    val finalState = streamed
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max("last_ts").as("last_ts"))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("ts").as("last_ts"))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    assert(finalState === batch)
  }

  test("streaming sessionizer equals batch ev03 minus each user's open tail") {
    // Append-mode flatMapGroupsWithState emits CLOSED sessions only; on a
    // bounded replay the last session per user stays open in state — so
    // parity is: streamed == ev03 with each user's final session removed.
    val streamed = Streams.runToMemory(spark,
      Streams.streamingSessionize(spark,
        Streams.eventsStream(spark, sfDir)).toDF(),
      "sess_sink", OutputMode.Append())
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"),
        // batch ev03 rounds the value sum (stable 2dp); its hash-agg adds
        // doubles in partition order while the stream folds in time order,
        // so compare at the same rounding the oracle gate uses
        (floor(col("session_value") * 100 + 0.5) / 100).as("session_value"))
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    val batchAll = EventQueries.ev03Sessionize.run(spark, sfDir)
    val lastPerUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
    val batchClosed = batchAll
      .withColumn("max_no", max("session_no").over(lastPerUser))
      .filter(col("session_no") =!= col("max_no"))
      .select("user_id", "session_start", "session_end", "n_events",
        "session_value")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batchClosed)
    assert(streamed.nonEmpty)
  }

  test("Welford running stats equal batch avg/stddev_samp after replay") {
    val sink = Streams.runToMemory(spark,
      Streams.runningTypeStats(spark,
        Streams.eventsStream(spark, sfDir)).toDF(),
      "stats_sink", OutputMode.Update())
    // last update per type (Update mode emits one row per type per batch;
    // max(n) identifies the final state)
    val finalRows = sink.orderBy(col("n").desc)
      .collect().groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.head }
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("mean"),
        stddev_samp(col("value")).as("sd"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(finalRows.keySet === batch.keySet)
    finalRows.foreach { case (t, r) =>
      val (bn, bmean, bsd) = batch(t)
      assert(r.getAs[Long]("n") === bn)
      assert(math.abs(r.getAs[Double]("mean") - bmean) < 1e-9)
      val sd = math.sqrt(
        r.getAs[Double]("m2") / (r.getAs[Long]("n") - 1))
      assert(math.abs(sd - bsd) < 1e-9)
    }
  }

  test("watermark drops late events and finalizes windows exactly once") {
    // The load-bearing watermark semantics, proven against the REAL
    // tumblingCounts operator (2h watermark, 1h windows) in Append mode:
    //  b1: two 10:xx events + a 14:30 event → watermark 12:30 → the
    //      [10:00,11:00) window finalizes and emits n=2;
    //  b2: a LATE 10:45 event (< watermark, window already emitted) is
    //      DROPPED — no duplicate or updated [10:00) row may ever appear;
    //  b3: an 18:00 event → watermark 16:00 → [14:00) finalizes with n=1,
    //      untouched by the late event.
    // A batch run of the same four events would count 10:45 (n=3 at
    // 10:00) — the difference IS the bounded-state contract.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def t(hm: String) = java.sql.Timestamp.valueOf(s"2026-03-01 $hm:00")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streams.tumblingCounts(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_sink").start()
    try {
      mem.addData(Seq((t("10:00"), "a", 1.0), (t("10:30"), "a", 2.0),
        (t("14:30"), "a", 4.0)))
      q.processAllAvailable()
      mem.addData(Seq((t("10:45"), "a", 8.0))) // late: beyond watermark
      q.processAllAvailable()
      mem.addData(Seq((t("18:00"), "a", 16.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wm_sink")
      .select(col("window_start"), col("n"), col("total_value"))
      .orderBy("window_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got === Seq((t("10:00"), 2L, 3.0), (t("14:00"), 1L, 4.0)))
  }

  test("streaming sessionizer carries open sessions across batches") {
    // The bounded-file replay above runs in ONE batch, which never
    // exercises the state hand-off. MemoryStream gives deterministic
    // multi-batch replay: feed the event log in four event-time slices
    // (arrival respects event time, the sessionizer's documented
    // contract) and the cross-batch result must STILL equal batch ev03
    // minus open tails — sessions spanning a slice boundary only close
    // correctly if state really carries.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("event_id").as[Long], col("value").as[Double])
      .collect().sortBy(r =>
        (Math.floorDiv(r._2.getTime, 1000L), r._2.getNanos, r._3)).toSeq
    val slices = {
      val k = math.max(1, rows.size / 4)
      rows.grouped(k).toSeq
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val sessions = Streams.streamingSessionize(spark,
      mem.toDF().toDF("user_id", "ts", "event_id", "value"))
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_mb_sink").start()
    try {
      slices.foreach { s => mem.addData(s); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("sess_mb_sink")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"),
        (floor(col("session_value") * 100 + 0.5) / 100).as("session_value"))
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    val lastPerUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
    val batchClosed = EventQueries.ev03Sessionize.run(spark, sfDir)
      .withColumn("max_no", max("session_no").over(lastPerUser))
      .filter(col("session_no") =!= col("max_no"))
      .select("user_id", "session_start", "session_end", "n_events",
        "session_value")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batchClosed)
    assert(slices.size >= 4 && streamed.nonEmpty)
  }

  test("vanishedUnexplained parser edges: plain listings past the last " +
      "commit flag missing files; a .compact past the commit is " +
      "IGNORED (it folds committed history the log cleaner may have " +
      "pruned — flagging from it could mis-report an archived " +
      "committed file as lost); compaction records explain vanishes") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-vanparse").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = s"$base/table"
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    def put(p: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.writeBytes(body); out.close()
    }
    // one real data file on disk; two referenced-but-missing ones
    put(s"$src/present.parquet", "x")
    val ckpt = s"$base/ckpt"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/sources/0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
    // batch 0: committed (its listing never flags, even though its
    // file is absent — committed = validated, archival is legal)
    put(s"$ckpt/sources/0/0",
      s"""v1\n{"path":"file://$src/archived.parquet","timestamp":1,"batchId":0}""")
    put(s"$ckpt/commits/0", "v1\n{}")
    // batch 1: PLANNED only — two missing files, one explained by a
    // compaction record below, one not
    put(s"$ckpt/sources/0/1",
      s"""v1\n{"path":"file://$src/lost.parquet","timestamp":2,"batchId":1}\n""" +
        s"""{"path":"file://$src/compacted.parquet","timestamp":2,"batchId":1}\n""" +
        s"""{"path":"file://$src/present.parquet","timestamp":2,"batchId":1}""")
    // batch 2: a .compact PAST the last commit — its entries must be
    // ignored wholesale even though the file is missing
    put(s"$ckpt/sources/0/2.compact",
      s"""v1\n{"path":"file://$src/foldedaway.parquet","timestamp":3,"batchId":2}""")
    put(s"$src/${graft.maintenance.Compaction.RecordDirName}/merge-a.json",
      s"""{"merged": "$src/merged-1.parquet", "supersedes": """ +
        s"""["file://$src/compacted.parquet"]}""")
    val flagged = graft.streaming.Streams.vanishedUnexplained(
      spark, src, ckpt)
    assert(flagged === Seq(s"$src/lost.parquet"), flagged.toString)
    // the same offset-log reader's other views: the committed set is
    // batch 0's file only (the 2.compact past the commit adds nothing),
    // and the mid-drain window (-1, 0] flags batch 0's missing file
    // unless the pre-drain snapshot observed it
    assert(graft.streaming.Streams.seenFiles(spark, ckpt) ===
      Set(s"$src/archived.parquet"))
    assert(graft.streaming.Streams.vanishedMidDrain(spark, src, ckpt,
      preDisk = Set.empty, preCommitted = -1L) ===
      Seq(s"$src/archived.parquet"))
    assert(graft.streaming.Streams.vanishedMidDrain(spark, src, ckpt,
      preDisk = Set(s"$src/archived.parquet"), preCommitted = -1L)
      .isEmpty)
    // supersededPaths round-trips escaped exotic paths (quotes,
    // backslashes, \uXXXX control chars — the jstr escape the writer
    // applies); built by concatenation so the Scala lexer cannot
    // pre-process the escapes we are testing
    val weirdJson = "{\"merged\": \"m\", \"supersedes\": " +
      "[\"/t/we\\\"ird\\\\name\\" + "u0009.parquet\"]}"
    put(s"$src/${graft.maintenance.Compaction.RecordDirName}/merge-b.json",
      weirdJson)
    val sup = graft.maintenance.Compaction.supersededPaths(spark, src)
    assert(sup.contains("/t/we\"ird\\name\t.parquet"), sup.toString)
    assert(sup.contains(s"$src/compacted.parquet"), sup.toString)
  }

  test("archiveDrained sweeps a committed zero-length drained file " +
      "into _archived/ (or every pass would list it again)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-archempty").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = s"$base/forget"
    def put(p: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.writeBytes(body); out.close()
    }
    put(s"$src/empty.parquet", "")
    put(s"$src/full.parquet", "x")
    val ckpt = s"$base/ckpt"
    put(s"$ckpt/sources/0/0",
      s"""v1\n{"path":"file://$src/empty.parquet","timestamp":1,"batchId":0}\n""" +
        s"""{"path":"file://$src/full.parquet","timestamp":1,"batchId":0}""")
    put(s"$ckpt/commits/0", "v1\n{}")
    assert(Streams.archiveDrained(spark, src, ckpt) === 2L)
    val archived = new java.io.File(s"$src/_archived").list().toSet
      .filterNot(_.startsWith(".")) // the local fs's .crc sidecars
    assert(archived === Set("empty.parquet", "full.parquet"))
    assert(!new java.io.File(s"$src/empty.parquet").exists())
    // nothing left to sweep on the next pass
    assert(Streams.archiveDrained(spark, src, ckpt) === 0L)
  }

  test("session_window built-in agrees with the lag-based sessionization") {
    // two independent implementations of 30-min-gap sessions must agree on
    // (user, session_start, session_end, n_events)
    val viaBuiltin = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
        max("ts").as("session_end"))
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    val viaLag = EventQueries.ev03Sessionize.run(spark, sfDir)
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq).toSeq
    assert(viaBuiltin === viaLag)
  }

  test("streaming dropDuplicates equals batch exact dedup") {
    val streamed = Streams.runToMemory(spark,
      Streams.dedupByEventId(Streams.eventsStream(spark, sfDir)),
      "dedup_sink", OutputMode.Append())
    val batch = Tables.events(spark, sfDir).dropDuplicates("event_id")
    assert(streamed.count() === batch.count())
    assert(streamed.select("event_id").distinct().count() === batch.count())
  }

  test("stream-stream time-bounded join equals the batch join") {
    val streamed = Streams.runToMemory(spark,
      Streams.purchasesWithRecentClicks(Streams.eventsStream(spark, sfDir)),
      "ssj_sink", OutputMode.Append())
      .orderBy("purchase_id", "click_id")
      .collect().map(_.toSeq).toSeq
    // the batch side is the oracle-checked ev06 query (minus the ts
    // columns the streaming sink carries for watermarking)
    val batch = EventQueries.ev06RecentClicks.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val streamedKeys = streamed.map(s =>
      (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long],
        s(2).asInstanceOf[Long]))
    assert(streamedKeys.size === batch.size)
    assert(streamedKeys === batch)
  }

  test("incrementalAnnStream: epoch 0 bootstraps the index, later " +
      "drains ingest against the frozen centroids, and the store " +
      "equals the monolithic assignment over all-data-so-far") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.pipeline.IncrementalAnn
    val base = Files.createTempDirectory("graft-annstream").toString
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val cp = s"$base/cp"; val storePath = s"$base/ann"
    def vecsDf(ids: Seq[Long]) = ids.map { i =>
      val blob = (i % 3).toInt
      (i, (0 until 8).map(d =>
        (blob * 40 - 60 + ((i * 31 + d * 17) % 13) - 6).toFloat / 64f))
    }.toDF("vec_id", "embedding")
    val schema = vecsDf(Seq(1L)).schema
    var staged = 0
    def land(ids: Seq[Long]): Unit = {
      staged += 1
      val stage = s"$base/stage-$staged"
      vecsDf(ids).coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(s"$src/arrival-$staged.parquet"))
      ()
    }
    // drain 1 (epoch 0): bootstrap on the resident corpus
    land(1L to 200L)
    Streams.incrementalAnnStream(spark, src, schema, storePath, cp)
    val store = new IncrementalAnn.AnnIndexStore(spark, storePath)
    assert(store.origin.isDefined,
      "the stream's bootstrap must record its checkpoint identity")
    val cents = store.centroids
    def asgSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.select(col("vec_id"), col("cluster").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def codesOf(ids: Seq[Long]) = vecsDf(ids).select(col("vec_id"),
      graft.functions.Quantize.toLongsCol(col("embedding")).as("qv"))
    assert(asgSet(store.load().get) ===
      asgSet(IncrementalAnn.assign(codesOf(1L to 200L), cents)))
    // drains 2 and 3: arrivals ingest against the FROZEN centroids;
    // the centroids must not move, and the store must equal one
    // monolithic pass over everything that has arrived so far
    land(201L to 230L)
    Streams.incrementalAnnStream(spark, src, schema, storePath, cp)
    land(231L to 270L)
    Streams.incrementalAnnStream(spark, src, schema, storePath, cp)
    assert(store.centroids.map { case (c, a) => (c, a.toSeq) } ===
      cents.map { case (c, a) => (c, a.toSeq) })
    val after = store.load().get
    assert(after.count() === 270L)
    assert(asgSet(after) ===
      asgSet(IncrementalAnn.assign(codesOf(1L to 270L), cents)))
    // arrivals kept their epoch lineage (batch 0 = bootstrap)
    assert(after.groupBy("batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 200L, 1L -> 30L, 2L -> 40L))
    // a FRESH checkpoint pointed at the evolved store is refused: its
    // epoch 0 would retrain on whatever files still sit in the landing
    // zone and swap away the accumulated index
    val e = intercept[Exception] {
      Streams.incrementalAnnStream(spark, src, schema, storePath,
        s"$base/cp-fresh")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ALREADY-EVOLVED")),
      messages(e).mkString(" | "))
    // and the store survived the refusal untouched
    assert(asgSet(store.load().get) ===
      asgSet(IncrementalAnn.assign(codesOf(1L to 270L), cents)))
  }
}
