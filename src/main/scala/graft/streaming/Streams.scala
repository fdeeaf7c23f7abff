package graft.streaming

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming forms of the event operators (SURVEY.md §2.10:
  * the reference has no streaming, so this is the extension surface —
  * `readStream` → the same declarative transforms → `writeStream`).
  *
  * Streaming semantics notes:
  *  - the parquet file source replays the fixture as a bounded stream, so
  *    specs can prove stream == batch with `processAllAvailable`;
  *  - watermarks are declared on ts so state stays bounded on a real
  *    unbounded source;
  *  - the custom-state path (`mapGroupsWithState`) carries a typed state
  *    object per user — the Spark-native form of "resumable per-key
  *    bookkeeping" (the closest streaming analog of the reference's
  *    persistent per-object stats, ref IntegrityChecks_VLDB.sql:700-722).
  */
object Streams {

  /** Bounded stream over events.parquet, with the same schema-conditional
    * ns-as-long shim as graft.tables.Tables.events (fixture generations
    * have shipped `ts` both as TIMESTAMP(NANOS) and as timestamp[us]). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the file source wants a directory: glob-filter the sf dir down to
    // the events table
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour windowed aggregation with a watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.StableRound.r2(sum("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-key earliest-event aggregation (the deterministic core of
    * streaming dedup-by-key). */
  def firstSeenPerKey(events: DataFrame): DataFrame =
    events
      .groupBy("user_id", "event_type")
      .agg(min("ts").as("first_ts"), count(lit(1)).as("n"))

  /** Streaming exact dedup by event id with BOUNDED state:
    * dropDuplicatesWithinWatermark evicts an id once the watermark passes
    * its event time (plain dropDuplicates(id) would keep every id seen
    * forever, since the event-time column is not part of the key). The
    * streaming form of dd01's hash-dedup — same declarative core. */
  def dedupByEventId(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-STATIC join — the enrichment shape: each streaming event
    * picks up its user's dimension row. The static side is a plain
    * DataFrame; Spark re-plans it per micro-batch (so a slowly-changing
    * dim table is re-read without restarting the query) and broadcasts it
    * while it fits — no streaming state at all, unlike the stream-stream
    * join. The missing member of the join matrix next to
    * [[purchasesWithRecentClicks]]. */
  def enrichWithUserDim(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(
      broadcast(userDim.select(col("c_custkey").as("user_id"),
        col("c_name").as("user_name"), col("c_nationkey").as("nationkey"))),
      Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("user_name"),
        col("nationkey"), col("event_type"))

  /** Streaming vocabulary: per-token term frequency over an unbounded doc
    * stream (tx06's streaming form, term_freq leg). High-cardinality
    * streaming state — one row per DISTINCT token, which Zipf keeps far
    * below the token count; the incremental update is the same map-side
    * combine as the batch plan. doc_freq is deliberately absent: exact
    * count(DISTINCT doc_id) per token is not expressible as single-pass
    * streaming state (it would need a second stacked aggregation or
    * per-token id sets); a production stream reports
    * approx_count_distinct there. */
  def vocabTermFreq(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "") // same token definition as batch tx06
      .groupBy("token")
      .agg(count(lit(1)).as("term_freq"))

  /** Stream-stream inner join: each purchase joined to the same user's
    * clicks in the preceding hour. Both sides carry watermarks and the
    * join predicate bounds event time on both ends, so state for either
    * side is droppable once the watermark passes — the only shape a
    * stream-stream join can run with bounded memory. */
  def purchasesWithRecentClicks(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(purchases("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Typed running state per user via mapGroupsWithState. */
  final case class UserRunning(user_id: Long, n_events: Long,
      total_value: Double, last_ts: java.sql.Timestamp)

  def runningUserState(spark: SparkSession, events: DataFrame)
      : Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(
            UserRunning(uid, 0L, 0.0, new java.sql.Timestamp(0L)))
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          val next = sorted.foldLeft(prev) { (acc, r) =>
            UserRunning(uid, acc.n_events + 1, acc.total_value + r._3,
              if (r._2.after(acc.last_ts)) r._2 else acc.last_ts)
          }
          state.update(next)
          next
      }
  }

  /** Running per-type value statistics (streaming twin of the batch ev11
    * rate-anomaly inputs): Welford's online algorithm as typed state —
    * (n, mean, M2) per event_type, three numbers forever, numerically
    * stable where a naive sum-of-squares cancels catastrophically.
    * After any prefix of the stream the state holds exactly the batch
    * mean/stddev of the values seen (StreamingSpec proves it to 1e-9
    * against groupBy(avg, stddev_samp)); an online anomaly gate (|z|>k
    * against the pre-update state) follows directly. */
  final case class TypeStats(event_type: String, n: Long, mean: Double,
      m2: Double) {
    def variance: Double = if (n < 2) 0.0 else m2 / (n - 1)
    def stddev: Double = math.sqrt(variance)
  }

  def runningTypeStats(spark: SparkSession, events: DataFrame)
      : Dataset[TypeStats] = {
    import spark.implicits._
    events.select(col("event_type").as[String], col("value").as[Double],
        col("ts").as[java.sql.Timestamp], col("event_id").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[TypeStats, TypeStats](
        GroupStateTimeout.NoTimeout()) {
        case (tpe, rows, state: GroupState[TypeStats]) =>
          var s = state.getOption.getOrElse(TypeStats(tpe, 0L, 0.0, 0.0))
          // deterministic fold order (the same tie-break every operator
          // here uses, at full sub-millisecond precision) so re-runs
          // produce bit-identical state
          rows.toSeq.sortBy(r =>
            (Math.floorDiv(r._3.getTime, 1000L), r._3.getNanos, r._4))
            .foreach { r =>
            val n1 = s.n + 1
            val d = r._2 - s.mean
            val mean1 = s.mean + d / n1
            s = TypeStats(tpe, n1, mean1, s.m2 + d * (r._2 - mean1))
          }
          state.update(s)
          s
      }
  }

  /** One CLOSED 30-min-gap session (streaming twin of batch ev03). */
  final case class ClosedSession(user_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long, session_value: Double)

  /** The still-open tail session carried between batches. */
  final case class OpenSession(start: java.sql.Timestamp,
      end: java.sql.Timestamp, n: Long, value: Double)

  /** Streaming gap sessionization via flatMapGroupsWithState: state is ONE
    * open session per user (two timestamps, a count, a sum — the bound
    * that lets this run forever); each batch folds its events in
    * (ts, event_id) order — the same tie-break as batch ev03 — and EMITS
    * every session it closes (a >30-min gap), keeping the new open tail in
    * state. Append mode is safe because a closed session can never change.
    *
    * Gap semantics match batch ev03 exactly: the batch form compares
    * `cast(ts as long)` values, i.e. FLOOR-SECONDS, so the stream compares
    * floor-seconds too (a raw millisecond difference would close sessions
    * the batch keeps open when sub-second parts straddle the gap). In
    * ascending event-time order the lag predecessor IS the max-so-far, so
    * tracking end = max(ts) reproduces the lag comparison.
    *
    * The final open session per user never emits on a bounded replay (no
    * event after it closes it) — the parity spec accounts for exactly
    * that: streamed == batch ev03 minus each user's LAST session. On a
    * true unbounded source an event-time timeout would flush idle tails;
    * the state shape is already what that needs. */
  def streamingSessionize(spark: SparkSession, events: DataFrame)
      : Dataset[ClosedSession] = {
    import spark.implicits._
    val gapSec = 30L * 60
    def floorSec(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L)
    events.select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("event_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          // full-precision sort key: getTime alone truncates to ms, which
          // can visit two same-millisecond events in a different order
          // than batch ev03's microsecond ORDER BY ts
          val sorted = rows.toSeq.sortBy(r =>
            (Math.floorDiv(r._2.getTime, 1000L), r._2.getNanos, r._3))
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var open = state.getOption.orNull
          sorted.foreach { case (_, ts, _, v) =>
            if (open == null) open = OpenSession(ts, ts, 1L, v)
            else if (floorSec(ts) - floorSec(open.end) > gapSec) {
              closed += ClosedSession(uid, open.start, open.end,
                open.n, open.value)
              open = OpenSession(ts, ts, 1L, v)
            } else open = OpenSession(open.start,
              if (ts.compareTo(open.end) > 0) ts else open.end,
              open.n + 1, open.value + v)
          }
          if (open != null) state.update(open)
          closed.iterator
      }
  }

  /** Per-user funnel progress (streaming form of the batch ev07 funnel):
    * the three stage timestamps plus the derived stage/converted columns,
    * emitted after every batch. */
  final case class FunnelRow(user_id: Long,
      first_view: Option[java.sql.Timestamp],
      first_click: Option[java.sql.Timestamp],
      first_purchase: Option[java.sql.Timestamp],
      stage: Int, converted: Boolean)

  /** Streaming view→click→purchase funnel via a typed per-key state
    * machine: state is exactly three timestamps per user (the bound that
    * lets this run forever), each batch folds its events in event-time
    * order, and a stage timestamp is only ever set once — monotone state,
    * so emitting per batch is safe in Update mode.
    *
    * Equals the batch ev07 result when per-key arrival respects event-time
    * order across batches (always true for a replayed log; with true
    * out-of-order sources, pair with a watermark reorder stage first —
    * the same caveat every streaming sequence detector carries). */
  def streamingFunnel(spark: SparkSession, events: DataFrame)
      : Dataset[FunnelRow] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("event_type").as[String],
        col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelRow, FunnelRow](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelRow]) =>
          val next = advanceFunnel(uid, rows, state)
          state.update(next)
          next
      }
  }

  /** ONE definition of the per-user three-timestamp funnel state
    * machine, shared by the Update-mode ([[streamingFunnel]]) and
    * Append-mode ([[streamingClosedFunnels]]) forms — a fix to the
    * ordering/strictness rules (the strict `>` comparisons, the
    * sort-by-ts fold) cannot silently fork the two (round-14 review).
    * Pure: reads the state, returns the advanced row; callers decide
    * what to update/emit. */
  private def advanceFunnel(uid: Long,
      rows: Iterator[(Long, String, java.sql.Timestamp)],
      state: GroupState[FunnelRow]): FunnelRow = {
    val prev = state.getOption.getOrElse(
      FunnelRow(uid, None, None, None, 0, converted = false))
    val sorted = rows.toSeq.sortWith((a, b) => a._3.compareTo(b._3) < 0)
    var fv = prev.first_view
    var fc = prev.first_click
    var fp = prev.first_purchase
    sorted.foreach { case (_, tpe, ts) =>
      if (tpe == "view" && fv.isEmpty) fv = Some(ts)
      else if (tpe == "click" && fc.isEmpty &&
        fv.exists(v => ts.compareTo(v) > 0)) fc = Some(ts)
      else if (tpe == "purchase" && fp.isEmpty &&
        fc.exists(c => ts.compareTo(c) > 0)) fp = Some(ts)
    }
    val stage =
      if (fp.isDefined) 3 else if (fc.isDefined) 2
      else if (fv.isDefined) 1 else 0
    FunnelRow(uid, fv, fc, fp, stage, fp.isDefined)
  }

  /** One funnel CLOSING: emitted exactly once per user, the trigger in
    * which `first_purchase` was first set. Raw stage timestamps only —
    * cohort-week/latency derivation stays in Spark SQL downstream so the
    * streaming and batch forms share one set of cast/trunc semantics. */
  final case class ClosedFunnel(user_id: Long,
      first_view: java.sql.Timestamp, first_purchase: java.sql.Timestamp)

  /** Append-mode funnel closer: the same per-user three-timestamp state
    * machine as [[streamingFunnel]], but emitting a row ONLY on the
    * not-converted → converted transition. Funnel state is monotone
    * (each stage timestamp is set at most once), so the transition fires
    * at most once per user and Append mode is sound — which is what lets
    * a streaming AGGREGATION run downstream (Spark forbids aggregates
    * after Update-mode mapGroupsWithState, but allows them after
    * Append-mode flatMapGroupsWithState). */
  def streamingClosedFunnels(spark: SparkSession, events: DataFrame)
      : Dataset[ClosedFunnel] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("event_type").as[String],
        col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelRow, ClosedFunnel](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelRow]) =>
          val wasConverted = state.getOption.exists(_.converted)
          val next = advanceFunnel(uid, rows, state)
          state.update(next)
          if (next.converted && !wasConverted)
            Iterator.single(ClosedFunnel(uid,
              next.first_view.get, next.first_purchase.get))
          else Iterator.empty
      }
  }

  /** Streaming twin of batch ev14: conversion-latency percentiles per
    * view-cohort week, over the closed-funnel stream. The projection
    * (Monday-truncated week string, floor-second latency) and the
    * aggregate (exact interpolated percentile, 4-dp stable rounding) are
    * the LITERAL batch ev14 expressions, so parity is by construction
    * once the closed-funnel sets agree. `percentile` is a
    * TypedImperativeAggregate — the streaming state store serializes its
    * buffer per cohort-week group, so state is one buffer per week
    * holding one entry per converted user in that week (the same
    * one-row-per-converted-user bound the batch rollup exchanges); at
    * 100 TB swap in approx_percentile for a constant-size buffer, same
    * plan shape. Complete mode: week groups are tiny (one row per
    * calendar week) and late conversions must be able to revise their
    * week's percentiles. */
  def streamingConversionLatency(spark: SparkSession, events: DataFrame)
      : DataFrame =
    streamingClosedFunnels(spark, events)
      .select(
        date_format(date_trunc("week", col("first_view")), "yyyy-MM-dd")
          .as("cohort_week"),
        (col("first_purchase").cast("long") -
          col("first_view").cast("long")).as("latency_sec"))
      .groupBy("cohort_week")
      .agg(count(lit(1)).as("n_converted"),
        graft.functions.StableRound.r4(expr("percentile(latency_sec, 0.5)"))
          .as("p50_sec"),
        graft.functions.StableRound.r4(expr("percentile(latency_sec, 0.9)"))
          .as("p90_sec"))

  /** Streaming DAU + 7-day rolling actives (ev13's streaming twin).
    * count(DISTINCT) is not a streaming aggregate, so the distinct is
    * SPELLED as state: dropDuplicates collapses to (user, active-day)
    * rows exactly once across the whole stream, the in-row cover-day
    * fan-out is stateless, a second dropDuplicates makes (user,
    * cover-day) exactly-once, and the final count is a plain streaming
    * agg — the standard stacked-dedup decomposition of a distinct
    * count. DAU rides the same pipeline keyed by (user, day) directly.
    * State is one row per user-day (DAU) / 7 per user-day (rolling) —
    * on an unbounded source both dedups take a watermark and become
    * dropDuplicatesWithinWatermark, the dedupByEventId pattern. */
  def rollingActives(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .dropDuplicates("user_id", "d")
      .select(col("user_id"),
        explode(expr("sequence(d, d + INTERVAL 6 DAYS)")).as("cover_day"))
      .dropDuplicates("user_id", "cover_day")
      .groupBy("cover_day").agg(count(lit(1)).as("active_7d"))

  /** Run a bounded streaming query into a memory sink; returns the sink
    * contents after all input is processed. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** One emitted near-dup match: `doc_id` collided with the bucket
    * representative `matched_doc` in LSH band `band`. */
  case class NearDupMatch(band: Int, doc_id: Long, matched_doc: Long)

  /** Streaming near-duplicate detection — the streaming form of the batch
    * MinHash+LSH dedup (dd03): documents arrive as a stream, each gets
    * its k=8 minhash signature, and per-(band, bucket) STATE holds the
    * bucket's representative (smallest doc_id seen). A new doc landing in
    * a non-empty bucket is flagged against the representative — dedup
    * against the full corpus HISTORY at O(new docs) per batch.
    *
    * State is one long per ACTIVE bucket: bounded by the corpus's bucket
    * count, and in production capped with a state TTL/timeout (history
    * older than the dedup horizon can be dropped the same way the
    * watermarked operators bound their state). */
  def streamingNearDup(spark: SparkSession, docsStream: DataFrame)
      : Dataset[NearDupMatch] = {
    import spark.implicits._
    graft.pipeline.Dedup.minhashBands(docsStream)
      .select(col("band").as[Int], col("band_key").as[String],
        col("doc_id").as[Long])
      .groupByKey { case (band, key, _) => (band, key) }
      .flatMapGroupsWithState[Long, NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state: GroupState[Long]) =>
          // distinct: replayed/duplicated ROWS of the same doc are the
          // same doc, not a near-dup of itself; sorted: deterministic
          // within a batch regardless of arrival order
          val ids = rows.map(_._3).toSeq.distinct.sorted
          val prev = state.getOption
          val rep = prev.fold(ids.head)(r => math.min(r, ids.head))
          state.update(rep)
          // every arriving doc with an existing bucket-mate is flagged —
          // except a re-arrival of the stored representative itself; a
          // doc that BECOMES the representative matches the old one
          val toFlag = prev match {
            case None => ids.tail
            case Some(r) => ids.filterNot(_ == r)
          }
          toFlag.iterator.map(id =>
            NearDupMatch(band, id, if (id == rep) prev.get else rep))
      }
  }

  /** Incremental integrity check — the lake-native evolution of the
    * reference's nightly batch (IntegrityChecks_VLDB.sql:505-744): instead
    * of re-scanning every table on a schedule, a file-source stream checks
    * ONLY newly arrived files. `checkFn` maps a micro-batch to its
    * validation summary (the CHECKTABLE/DATA_PURITY aggregate); each
    * summary lands under `outPath/batch_id=<id>` — the streaming form of
    * the CommandLog. foreachBatch replays a batch whose checkpoint commit
    * didn't land (at-least-once), so the sink must be IDEMPOTENT: writing
    * each batch to its own batch_id directory with overwrite makes the
    * replay rewrite the same partition instead of double-counting it.
    *
    * Trigger.AvailableNow drains what exists and stops, so the same call
    * is a scheduled catch-up job (the reference's @TimeLimit world) OR a
    * continuously running monitor with a different trigger. At 100 TB the
    * win is structural: arrived-data checking is O(new files), never
    * O(lake). */
  def incrementalCheck(spark: SparkSession, srcDir: String,
      schema: StructType,
      checkFn: DataFrame => DataFrame,
      checkpoint: String, outPath: String): Unit =
    incrementalCheckById(spark, srcDir, schema, (b, _) => checkFn(b),
      checkpoint, outPath)

  /** What one drain did: committed micro-batches, whether it stopped at
    * the pass deadline (vs exhausting the source), and — when it
    * stopped early — an estimate of the landed files still pending in
    * the checkpoint (the next pass's backlog). */
  final case class DrainReport(drained: Long, stoppedAtDeadline: Boolean,
      remainingFiles: Long,
      // the pre-drain class ([[vanishedUnexplained]]); empty = healthy
      vanishedUnexplained: Seq[String] = Nil,
      // the mid-drain class ([[vanishedMidDrain]]): committed with
      // their batch, so this report is their ONE surfacing
      vanishedMidDrain: Seq[String] = Nil) {

    /** A stage's detail line: `normal` after the drained count, a
      * deadline stop's backlog (to size tomorrow's) and any vanish. */
    def detail(normal: String): String = {
      val cut = if (!stoppedAtDeadline) ""
        else s" remaining≈$remainingFiles files (budget; checkpoint " +
          "resumes next pass)"
      val van = if (vanishedUnexplained.isEmpty) ""
        else s" vanished_unexplained=${vanishedUnexplained.size} " +
          "file(s) (planned files missing with no compaction record)"
      val mid = if (vanishedMidDrain.isEmpty) ""
        else s" vanished_mid_drain=${vanishedMidDrain.size} file(s) " +
          "(planned and committed this drain, never observed on disk, " +
          "no compaction record — skipped unprocessed)"
      s"drained=$drained$cut$van$mid $normal"
    }
  }

  /** Control-flow signal for the graceful deadline stop: thrown at a
    * micro-batch HEAD (before any processing), so every batch admitted
    * before the deadline commits and the refused batch replays next
    * pass from the checkpoint. Never escapes [[awaitDrain]]. */
  private[graft] final class DeadlineReached(msg: String)
      extends RuntimeException(msg)

  /** The IC:644 inner-loop discipline for every drain: before each
    * micro-batch, is there budget left? Past the deadline the batch is
    * REFUSED (never killed mid-flight — the committed prefix stands and
    * the checkpoint holds the remainder). `observe()` not `now()`: a
    * stream-thread read must not perturb a deterministic test clock's
    * driver tick sequence (the Clock contract). */
  private def admitBatch(deadline: Option[Instant],
      clock: graft.model.Clock, what: String): Unit =
    deadline.foreach { d =>
      val t = clock.observe()
      if (graft.scheduler.Policy.reached(t, d)) throw new DeadlineReached(
        s"$what: pass deadline $d reached (clock $t) before this " +
          "micro-batch; stopping after the committed prefix — the " +
          "checkpoint holds the remainder for the next pass (IC:644)")
    }

  /** Await an AvailableNow drain, translating a [[DeadlineReached]]
    * thrown from foreachBatch (it surfaces wrapped in the stream's
    * failure exception) into `true` = stopped at the deadline. Any
    * other failure propagates unchanged. */
  private def awaitDrain(
      q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
    try { q.awaitTermination(); false }
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
      var c: Throwable = e
      var hit = false
      while (c != null && !hit) {
        hit = c.isInstanceOf[DeadlineReached]; c = c.getCause
      }
      if (hit) true else throw e
    }

  /** Non-hidden data files currently under `src`, by bare URI path —
    * the one landing lister: arrivals may land under partition subdirs
    * (date=.../part.parquet) that a top-level listing misses, so the
    * walk is RECURSIVE, and anything under a hidden (_/.) path
    * component (stream metadata, staging dirs, `_archived/`) is
    * skipped. Zero-length files carry no rows and are skipped unless
    * `includeEmpty` ([[archiveDrained]] must still sweep them). */
  private[graft] def listDataFiles(spark: SparkSession,
      src: String, includeEmpty: Boolean = false): Seq[String] = {
    val raw = new Path(src)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // QUALIFY the base before computing relative components: a relative
    // or scheme-less src would otherwise fail the string stripPrefix
    // and the hidden-check would scan ancestor directories OUTSIDE the
    // landing zone — a workspace under a dot-dir would silently
    // classify every arrival hidden (round-12 review finding)
    val srcP = fs.makeQualified(raw)
    if (!fs.exists(srcP)) Nil
    else if (fs.getFileStatus(srcP).isFile) {
      // a single-file table (DuckDB COPY / pandas layout): the file was
      // explicitly named, so no hidden-component filtering applies
      if (includeEmpty || fs.getFileStatus(srcP).getLen > 0)
        Seq(srcP.toUri.getPath)
      else Nil
    } else {
      val basePath = srcP.toUri.getPath.stripSuffix("/") + "/"
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(srcP, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(basePath)
        val hidden = rel.split("/").exists(c =>
          c.startsWith("_") || c.startsWith("."))
        if (st.isFile && (includeEmpty || st.getLen > 0) && !hidden)
          buf += st.getPath.toUri.getPath
      }
      buf.toSeq
    }
  }

  /** One read of a checkpoint's file-source offset log: the commit
    * frontier (newest entry in `<checkpoint>/commits`, -1 when none)
    * and the per-batch listings (JSON-lines of `{"path":...}` keyed by
    * batch id, written at PLANNING time; `.compact` files fold the
    * history), listed once. [[paths]] picks listings by file name
    * BEFORE opening any, so every view stays O(the listings it names). */
  private final class OffsetLog(spark: SparkSession, checkpoint: String) {
    private val fs = new Path(checkpoint)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val lastCommitted: Long = {
      val commits = new Path(checkpoint, "commits")
      if (!fs.exists(commits)) -1L
      else fs.listStatus(commits)
        .flatMap(s => s.getPath.getName.toLongOption)
        .foldLeft(-1L)(math.max)
    }

    // (batch id, is a .compact, file) per listing
    private lazy val listings: Seq[(Long, Boolean, Path)] = {
      val dir = new Path(checkpoint, "sources/0")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isFile).flatMap { st =>
        val name = st.getPath.getName
        name.stripSuffix(".compact").toLongOption
          .map(id => (id, name.endsWith(".compact"), st.getPath))
      }
    }

    /** Paths named by the listings `keep(batchId, isCompact)` accepts. */
    def paths(keep: (Long, Boolean) => Boolean): Set[String] =
      listings.filter { case (id, compact, _) => keep(id, compact) }
        .flatMap { case (_, _, f) =>
          val in = fs.open(f)
          // Spark's `v1` header, then one JSON entry per line
          val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().drop(1).filter(_.nonEmpty).toList finally in.close()
          lines.flatMap(l =>
            Option(graft.tables.Json.mapper.readTree(l).get("path")))
            .map { node =>
              // entries are file URIs; normalize to the bare path so they
              // compare against listDataFiles regardless of scheme spelling
              val p = node.asText
              try new Path(new java.net.URI(p)).toUri.getPath
              catch { case _: Exception => p }
            }
        }.toSet

    /** Files of COMMITTED batches (id ≤ the commit frontier, `.compact`
      * included). A `.compact` past the last commit folds committed
      * history together with the uncommitted tail and is skipped
      * wholesale — the estimate errs toward counting those files
      * unseen, the safe direction for every consumer (a larger
      * `remaining≈` report; a quiet-table probe that runs the stream
      * rather than skipping it). */
    def seen: Set[String] = paths((id, _) => id <= lastCommitted)

    /** Files of the PLAIN listings with batch id in (lo, hi]. `.compact`
      * listings are never consulted: they fold committed history whose
      * originals the metadata-log cleaner may have removed, and flagging
      * from them could mis-report an archived COMMITTED file as lost. */
    def planned(lo: Long, hi: Long): Set[String] =
      paths((id, compact) => !compact && id > lo && id <= hi)
  }

  /** [[OffsetLog.seen]]: empty when there is no source log yet. */
  private[graft] def seenFiles(spark: SparkSession,
      checkpoint: String): Set[String] =
    new OffsetLog(spark, checkpoint).seen

  /** `candidates` off disk under `src` that no compaction record
    * supersedes, sorted. */
  private def unexplained(spark: SparkSession, src: String,
      candidates: Set[String], onDisk: => Set[String]): Seq[String] = {
    if (candidates.isEmpty) return Nil
    val missing = candidates -- onDisk
    if (missing.isEmpty) return Nil
    // compaction records live in the TABLE dir (a single-file table
    // never compacts; its parent lookup is harmless)
    val srcP = new Path(src)
    val recDir =
      try {
        val sfs = srcP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (sfs.exists(srcP) && sfs.getFileStatus(srcP).isFile)
          srcP.getParent.toString
        else src
      } catch { case _: java.io.IOException => src }
    (missing -- graft.maintenance.Compaction.supersededPaths(spark, recDir))
      .toSeq.sorted
  }

  /** Planned-but-uncommitted files the checkpoint's offset log
    * references that are (a) no longer on disk and (b) not explained
    * by a table compaction record — UNEXPLAINED VANISHES: data that
    * disappeared before it was ever validated/ingested, for a reason
    * other than compaction. The streams run with
    * `ignoreMissingFiles=true` so a deadline-stopped pass's replay
    * cannot wedge on legally-compacted members — but that tolerance
    * previously swallowed EVERY vanish with only a Spark log line
    * (round-14 advice: real data loss passed the integrity tier
    * without a violation). This reconciliation scopes it: [[drain]]
    * runs it BEFORE the stream and its report surfaces the unexplained
    * set loudly (the integrity tier counts them as violations).
    *
    * Precision notes, both erring AWAY from false alarms:
    *  - COMMITTED files absent from disk are never flagged — they were
    *    validated before archival/compaction removed them (the legal
    *    removal class for an operator).
    *  - only PLAIN per-batch offset listings past the last commit are
    *    consulted ([[OffsetLog.planned]]).
    * A file that vanishes mid-drain commits with its batch, out of
    * this pass's scope; [[vanishedMidDrain]] owns that class. */
  private[graft] def vanishedUnexplained(spark: SparkSession, src: String,
      checkpoint: String): Seq[String] = {
    val log = new OffsetLog(spark, checkpoint)
    unexplained(spark, src, log.planned(log.lastCommitted, Long.MaxValue),
      listDataFiles(spark, src).toSet)
  }

  /** The MID-drain vanish reconciliation (round-15 verdict #2 — the one
    * vanish class the pre-drain pass cannot see): a file whose batch
    * COMMITTED during this drain, but which neither the pre-drain disk
    * snapshot nor the post-drain listing ever observed, and which no
    * compaction record explains. Such a file was planned (offset
    * listing written), vanished before its batch processed, and the
    * `ignoreMissingFiles` tolerance skipped it silently — its batch
    * commits, so the NEXT pass's pre-drain reconciliation (scoped to
    * uncommitted listings) can never flag it. [[drain]] runs it once,
    * right after the stream, against the commit window
    * (preCommitted, now].
    *
    * Precision posture, erring away from false alarms exactly like the
    * pre-drain pass:
    *  - a file IN the pre-drain snapshot is counted OBSERVED and never
    *    flagged, even if absent afterward — post-commit archival of
    *    just-drained files is the operator's legal cleanup, and
    *    "present at the snapshot, processed or legally removed" cannot
    *    be told apart from here;
    *  - a file currently ON disk is never flagged (a snapshot race, or
    *    it genuinely arrived mid-drain and still exists);
    *  - `.compact` offset listings in the window contribute nothing.
    * The one OVER-report case (round-16 advice — the mirror of the
    * under-report above): a file that ARRIVED mid-drain, was planned,
    * fully processed and committed, then legally archived before the
    * post-drain listing is absent from both snapshots with no
    * compaction record, so it counts as a mid-drain vanish despite
    * being processed. Accepted: the checkpoint's offset metadata does
    * not say whether a planned file contributed rows (foreachBatch
    * sees the union), and archiving mid-drain-arrived files before the
    * drain ends is an operator pattern this engine documents against
    * (archive AFTER the pass — the drain report is the signal). The
    * count errs toward a spurious once-only alert, never a silent
    * loss.
    * Driver-side metadata reads only; zero Spark jobs. */
  private[graft] def vanishedMidDrain(spark: SparkSession, src: String,
      checkpoint: String, preDisk: Set[String],
      preCommitted: Long): Seq[String] = {
    val log = new OffsetLog(spark, checkpoint)
    if (log.lastCommitted <= preCommitted) Nil
    else unexplained(spark, src,
      log.planned(preCommitted, log.lastCommitted) -- preDisk,
      listDataFiles(spark, src).toSet)
  }

  /** Test seam: called right after a drain takes its pre-drain disk
    * snapshot, BEFORE the stream starts — a spec lands a file here to
    * deterministically exercise the snapshot→planning window the
    * mid-drain reconciliation covers (and, in the forget-queue drain,
    * the in-batch absent-store guard). No-op in production. */
  private[graft] var onPreDrainSnapshot: () => Unit = () => ()

  /** How many landed files `checkpoint` has NOT yet committed — the
    * deadline-stop report's `remaining≈` estimate. Approximate by
    * design: a file the source would age out (maxFileAge) still
    * counts, erring toward running the stream. */
  private[graft] def unseenFiles(spark: SparkSession, src: String,
      checkpoint: String): Long =
    unseenFileList(spark, src, checkpoint).size.toLong

  /** The landed files `checkpoint` has NOT yet committed, as paths —
    * the forget-queue drain bounds its mergeSchema probe to this set
    * (round-18: footer reads of every file EVER landed made each
    * drain's schema probe O(queue history), not O(new)). */
  private[graft] def unseenFileList(spark: SparkSession, src: String,
      checkpoint: String): Seq[String] = {
    val seen = seenFiles(spark, checkpoint)
    listDataFiles(spark, src).filterNot(seen.contains)
  }

  /** Archive every COMMITTED data file still sitting under `src` into
    * the hidden `_archived/` component beneath it — the round-18
    * verdict's last O(history) surface on the maintenance path: drained
    * takedown files accumulated under `<landing>/forget` forever, so
    * every pass's listing probes (the landing probe, unseenFileList,
    * vanishedUnexplained's disk reconciliation) paid for every request
    * EVER landed. Moving a file whose batch has committed is the legal
    * removal class those reconciliations already document ("COMMITTED
    * files absent from disk are never flagged"), and `_archived/` is a
    * hidden path component, so every lister in the engine (the
    * streaming source, listDataFiles, schema reads of the dir) skips it
    * by the shared hidden-component discipline — a
    * relocated file can never re-plan. Same-directory rename: no
    * cross-filesystem copy, atomic per file on any sane fs. A file
    * that fails its rename (concurrent reader holding it, permissions)
    * is left in place and retried next pass — archival is best-effort
    * hygiene, never a drain-blocking step. Committed zero-length files
    * are swept too, or each would be listed again on every pass.
    * Driver-side metadata only; zero Spark jobs. Returns how many files
    * moved. */
  private[graft] def archiveDrained(spark: SparkSession, src: String,
      checkpoint: String): Long = {
    val onDisk = listDataFiles(spark, src, includeEmpty = true)
    if (onDisk.isEmpty) return 0L
    val seen = seenFiles(spark, checkpoint)
    val drained = onDisk.filter(seen.contains)
    if (drained.isEmpty) return 0L
    val root = new Path(src)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(root, "_archived")
    if (!fs.exists(dst)) fs.mkdirs(dst)
    var moved = 0L
    drained.foreach { p =>
      val srcP = new Path(p)
      // basename collisions (same-named files from different landing
      // subdirs, or a re-landed name already archived): deterministic
      // numeric suffix — archival must never overwrite an audit trail
      var target = new Path(dst, srcP.getName)
      var n = 1
      while (fs.exists(target)) {
        target = new Path(dst, s"${srcP.getName}.$n")
        n += 1
      }
      try { if (fs.rename(srcP, target)) moved += 1 }
      catch { case _: java.io.IOException => () }
    }
    moved
  }

  /** Quiet-table probe: the checkpoint has committed at least one
    * batch AND no currently-landed file is outside its committed
    * seen-set — so a stream spin-up would plan and drain NOTHING. A
    * nightly pass over a 20k-table inventory pays ~1-2 s of stream
    * machinery per table without this; with it a quiet table costs a
    * driver-side listing + one small metadata read. Conservative by
    * construction (see [[OffsetLog.seen]]): any doubt reads as "not
    * quiet" and the stream runs exactly as before. */
  private[graft] def nothingNewLanded(spark: SparkSession, src: String,
      checkpoint: String): Boolean =
    try {
      val log = new OffsetLog(spark, checkpoint)
      log.lastCommitted >= 0L && {
        val seen = log.seen
        listDataFiles(spark, src).forall(seen.contains)
      }
    } catch { case _: java.io.IOException => false }

  /** The one checkpointed drain behind every arrival stream: new files
    * under `srcDir` stream through `body` in `Trigger.AvailableNow`
    * micro-batches, bracketed by the two vanish reconciliations. Each
    * batch HEAD checks the deadline (ref IC:644 — the reference checks
    * the clock before each inner unit of work, not only between
    * phases), then calls `heartbeat` (the composed pass renews ITS
    * lease here, so a long unbudgeted drain cannot outlive the lease's
    * TTL mid-stage). `maxFilesPerBatch` is the deadline's granularity:
    * without it AvailableNow plans ONE batch over the whole backlog,
    * which has no check points. `leased` wraps the stream (an ingest
    * drain holds its store's writer lease exactly while it runs). */
  private def drain(spark: SparkSession, srcDir: String, schema: StructType,
      checkpoint: String, what: String, deadline: Option[Instant],
      clock: graft.model.Clock, maxFilesPerBatch: Option[Int],
      heartbeat: () => Unit, leased: (=> Boolean) => Boolean = run => run)(
      body: (DataFrame, Long) => Unit): DrainReport = {
    // the disk snapshot + commit frontier bracket the drain for the
    // POST-drain mid-drain reconciliation (round-15 verdict #2)
    val preDisk = listDataFiles(spark, srcDir).toSet
    val preLog = new OffsetLog(spark, checkpoint)
    val vanishedPre = unexplained(spark, srcDir,
      preLog.planned(preLog.lastCommitted, Long.MaxValue), preDisk)
    onPreDrainSnapshot()
    val drained = new AtomicLong(0L)
    val stopped = leased {
      // Tolerate files that vanish between a batch's planning and its
      // execution (the reference's TOCTOU re-probe, DIC:1615-1635): a
      // deadline-stopped pass leaves planned-but-uncommitted batches in
      // the offset log, and both table compaction (whose merge deletes
      // member files after their rows land in a merged file, run
      // CONCURRENTLY with the integrity tier) and an operator archiving
      // a drained landing zone can legally remove those files. Without
      // this the checkpoint re-executes the batch and throws
      // FileNotFoundException on EVERY later pass, wedging the stream
      // until someone deletes the checkpoint. A compacted member's rows
      // arrive as a NEW merged file the next pass checks (double
      // coverage, never silently dropped); an unexplained vanish is
      // reported by the two reconciliations around this stream.
      val reader = spark.readStream.schema(schema)
        .option("ignoreMissingFiles", "true")
      maxFilesPerBatch.foreach(n =>
        reader.option("maxFilesPerTrigger", n.toString))
      val p = new Path(srcDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // A table may be a single parquet FILE, not a directory (DuckDB's
      // COPY, pandas to_parquet, a manual upload all produce one): the
      // file-stream source requires a directory basePath, so stream the
      // PARENT glob-filtered to exactly this file (the round-13
      // arrival-pass smoke found the incremental tier erroring on every
      // file-table with "Option 'basePath' must be a directory"). The
      // filename is data, not a pattern: a name containing glob
      // metacharacters (data[2024].parquet) would otherwise be read AS
      // a glob, silently match zero files, and report a corrupt table
      // clean forever (round-13 review) — escape every metacharacter.
      val src =
        if (fs.exists(p) && fs.getFileStatus(p).isFile)
          reader.option("pathGlobFilter",
            p.getName.replaceAll("([\\\\*?\\[\\]{}])", "\\\\$1"))
            .parquet(p.getParent.toString)
        else reader.parquet(srcDir)
      val q = src.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          admitBatch(deadline, clock, what)
          heartbeat()
          body(batch, id)
          drained.incrementAndGet()
          ()
        }
        .start()
      awaitDrain(q)
    }
    // a file the PRE-drain pass already flagged (planned last pass,
    // vanished, now committed by the replay) was reported there, once
    val mid = vanishedMidDrain(spark, srcDir, checkpoint, preDisk,
      preLog.lastCommitted).filterNot(vanishedPre.toSet)
    DrainReport(drained.get(), stopped,
      if (stopped) unseenFiles(spark, srcDir, checkpoint) else 0L,
      vanishedPre, mid)
  }

  /** Arrived-docs DEDUP stream — the arrival pipeline composed end to
    * end: a file-source stream of documents, each micro-batch run
    * through [[graft.pipeline.IncrementalDedup.ingest]] against the
    * persisted signature store, pairs landing under
    * `outPath/batch_id=<id>` and the store atomically swapped after
    * every batch. Unlike [[streamingNearDup]] (which flags arrivals
    * against bucket representatives from flatMapGroupsWithState state),
    * this emits the EXACT dd03 pair contract per batch — the monolithic
    * chain over all-data-so-far restricted to the batch — with the
    * signature state in a queryable parquet store instead of the
    * stream's private state files.
    *
    * At-least-once replay is IDEMPOTENT end to end: the pair sink
    * overwrites its own batch_id partition, and a re-ingested batch
    * produces byte-identical pairs and an unchanged store (ingest
    * collapses the re-arriving rows — see its membership dedup), so a
    * crash between the pair write and the store swap just replays into
    * the same state (StreamingSpec's crash-injection case executes
    * exactly that window). The run holds the store's WRITER LEASE for
    * its duration (renewed per batch), so a second concurrent ingest
    * run fails loudly instead of interleaving store swaps.
    *
    * Each micro-batch takes one of two routes with the same output: a
    * batch against an absent or fan-out-1 store within
    * [[graft.pipeline.IncrementalDedup.LocalMaxRows]] store plus batch
    * rows (footer counts) is ingested on the driver with no Spark job
    * ([[graft.pipeline.IncrementalDedup.localRoute]], which reads the
    * batch's planned files, [[GraftSqlBridge.batchFiles]]); any other
    * batch runs `ingest` through Spark
    * ([[graft.pipeline.IncrementalDedup.sparkRoute]]).
    *
    * `deadline`/`clock`/`maxFilesPerBatch`/`heartbeat`: the per-batch
    * budget discipline of [[drain]]; the returned [[DrainReport]] says
    * how much was drained and roughly how many landed files remain. */
  def incrementalDedupStream(spark: SparkSession, srcDir: String,
      schema: StructType, storePath: String,
      checkpoint: String, outPath: String,
      deadline: Option[Instant] = None,
      clock: graft.model.Clock = graft.model.SystemClock,
      maxFilesPerBatch: Option[Int] = None,
      heartbeat: () => Unit = () => ()): DrainReport = {
    import graft.pipeline.IncrementalDedup
    val store = new IncrementalDedup.SigStore(spark, storePath)
    drain(spark, srcDir, schema, checkpoint, "incrementalDedupStream",
        deadline, clock, maxFilesPerBatch, heartbeat,
        leased = run => store.withLease {
          // pair-sink crash sweep (round-16 advice): a scrub interrupted
          // between its two swap renames leaves a batch directory hidden
          // (dot-prefixed) — sweep it here too, not only at the next
          // scrub, so readers don't silently miss that batch's pairs
          // until another forget happens to run. The sig-store lease
          // held by this drain IS the pair sink's writer lock.
          graft.pipeline.Forget.recoverPairSink(spark, outPath)
          run
        }) { (batch, id) =>
      store.renewLease()
      val pairsDir = s"$outPath/batch_id=$id"
      val local = GraftSqlBridge.batchFiles(batch).exists(files =>
        IncrementalDedup.localRoute(spark, store, files, batch.schema,
          pairsDir)(onDedupPairsWritten(id)))
      if (!local)
        IncrementalDedup.sparkRoute(store, batch, pairsDir)(
          onDedupPairsWritten(id))
    }
  }

  /** Test seam for the crash window between the pair write and the
    * store update — StreamingSpec installs a one-shot throw here to
    * prove the at-least-once replay converges. No-op in production. */
  private[graft] var onDedupPairsWritten: Long => Unit = _ => ()

  /** Streaming arrival pipeline for the incremental ANN index (sim14's
    * production form, dd16's stream shape): micro-batches of vectors
    * land from `srcDir`, epoch 0 bootstraps the index (Lloyd training +
    * full-generation save — an idempotent swap, so an epoch-0 replay
    * just re-bootstraps), every later epoch ingests by zero-shuffle
    * assignment against the frozen centroids, committed as a dynamic
    * overwrite of THAT epoch's batch partition — so an at-least-once
    * foreachBatch replay rewrites its own partition instead of
    * duplicating rows. One checkpoint per store lifetime: the epoch
    * counter IS the batch-id key, and pointing a FRESH checkpoint at
    * an already-EVOLVED store is REFUSED loudly (epoch 0 against a
    * store holding ingested batches would otherwise retrain on one
    * batch and swap away the accumulated index).
    *
    * `deadline`/`clock`/`maxFilesPerBatch`/`heartbeat`: the per-batch
    * budget discipline of [[drain]], like [[incrementalDedupStream]]. */
  def incrementalAnnStream(spark: SparkSession, srcDir: String,
      schema: StructType, storePath: String,
      checkpoint: String,
      deadline: Option[Instant] = None,
      clock: graft.model.Clock = graft.model.SystemClock,
      maxFilesPerBatch: Option[Int] = None,
      heartbeat: () => Unit = () => ()): DrainReport = {
    import graft.pipeline.IncrementalAnn
    val store = new IncrementalAnn.AnnIndexStore(spark, storePath)
    drain(spark, srcDir, schema, checkpoint, "incrementalAnnStream",
        deadline, clock, maxFilesPerBatch, heartbeat,
        leased = run => store.withLease(run)) { (batch, id) =>
      store.renewLease()
      val codes = batch.select(col("vec_id"),
        graft.functions.Quantize.toLongsCol(col("embedding")).as("qv"))
      if (id == 0L) {
        // epoch 0 bootstraps — but ONLY a store this checkpoint
        // itself bootstrapped (origin token match, un-evolved):
        // anything else is a FRESH checkpoint pointed at an
        // existing store (checkpoints deleted/rotated, store
        // kept), and silently re-bootstrapping would train
        // centroids on one micro-batch and swap away every
        // previously ingested vector (round-12 review finding;
        // the origin token also refuses a compact()ed store,
        // whose rebase folds ingested batches into batch 0 and
        // deliberately CLEARS the origin). A store carrying THIS
        // checkpoint's token and only its batch-0 generation is a
        // legitimate epoch-0 REPLAY (save crashed before the
        // checkpoint commit): re-bootstrapping it is idempotent —
        // same batch, deterministic training.
        // token = MD5 of the QUALIFIED checkpoint URI (round-12
        // review): equivalent spellings of the same checkpoint
        // (trailing slash, relative vs absolute, scheme-qualified
        // vs bare) must yield ONE token, or a legitimate epoch-0
        // replay relaunched with a normalized path is refused as
        // foreign. Stores written before this normalization carry
        // the verbatim-string token — accept that spelling too.
        def md5hex(s: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        val ckptP = new Path(checkpoint)
        val token = md5hex(ckptP
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(ckptP).toUri.toString)
        val legacyToken = md5hex(checkpoint)
        // ONE load() serves both probes — the second load() paid a
        // full second recover() pass (listings + sweeps) on every
        // epoch-0 bootstrap/replay (round-14 review)
        val prev = store.load()
        if (prev.isDefined) {
          val evolved = prev.exists(
            _.filter(col("batch_id") > 0L).limit(1).count() > 0)
          val originOk = store.origin.contains(token) ||
            store.origin.contains(legacyToken)
          if (evolved || !originOk) throw new IllegalStateException(
            s"incrementalAnnStream: micro-batch 0 arrived against " +
              s"an ALREADY-EVOLVED or foreign index at $storePath " +
              s"(evolved=$evolved, originMatch=$originOk) — a " +
              "fresh checkpoint was pointed at an existing store. " +
              "Use the store's original checkpoint, or delete the " +
              "store to rebuild intentionally.")
        }
        val cents = IncrementalAnn.trainCentroids(codes)
        store.save(cents, IncrementalAnn.assign(codes, cents),
          origin = Some(token))
      } else store.ingest(codes, batchId = id)
      onAnnBatchIngested(id)
    }
  }

  /** Test seam mirroring [[onDedupPairsWritten]] for the ANN tier:
    * called after each committed ingest batch, so a spec can advance a
    * ManualClock per batch and exercise the mid-drain deadline stop.
    * No-op in production. */
  private[graft] var onAnnBatchIngested: Long => Unit = _ => ()

  /** [[incrementalCheck]] with the micro-batch id passed to `checkFn` —
    * callers that accumulate per-batch results OUTSIDE the stream (e.g.
    * a violations tally that must survive a mid-stream retry) key them
    * by this id, so an at-least-once foreachBatch replay OVERWRITES its
    * batch's entry instead of double-counting it. The per-batch budget
    * discipline is [[drain]]'s, like the ingest streams'. */
  def incrementalCheckById(spark: SparkSession, srcDir: String,
      schema: StructType,
      checkFn: (DataFrame, Long) => DataFrame,
      checkpoint: String, outPath: String,
      deadline: Option[Instant] = None,
      clock: graft.model.Clock = graft.model.SystemClock,
      maxFilesPerBatch: Option[Int] = None,
      heartbeat: () => Unit = () => ()): DrainReport =
    drain(spark, srcDir, schema, checkpoint, "incrementalCheckById",
        deadline, clock, maxFilesPerBatch, heartbeat) { (batch, id) =>
      checkFn(batch, id).coalesce(1).write.mode("overwrite")
        .parquet(s"$outPath/batch_id=$id")
    }
}
