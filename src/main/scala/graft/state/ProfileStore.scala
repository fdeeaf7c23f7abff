package graft.state

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Generations

/** Persisted per-table PROFILE history for drift detection
  * (ref IntegrityChecks_VLDB.sql:56-61, 700-722: the reference keeps the
  * previous run's stats beside the current ones, shuffles
  * current → Previous* on every pass, and folds each run into a running
  * average with the `avg += (new - avg) / n` recurrence at IC:706; this
  * store keeps the same discipline for the data-shape profile
  * [[graft.checks.Drift]] computes, widened from two generations to a
  * bounded N-deep history so the comparison can see TREND — acceleration
  * — not just the last step).
  *
  * Layout: one parquet dataset of (run_id, table_name, metric, value);
  * `record()` appends the new profile under the next run_id and prunes
  * generations older than `keep` — atomically, as a whole generation of
  * [[graft.tables.Generations]] written under its writer lease (a killed
  * run never leaves a half-written history, and two drift runs cannot
  * clobber each other's). The PREVIOUS two-generation layout (a
  * `generation` column, 'current' | 'previous') loads transparently as
  * runs 2 / 1. Profiles are one row per (table, metric): driver-small
  * at any corpus scale, so coalesce(1) is correct here; the history is
  * ≤ keep × that. */
final class ProfileStore(spark: SparkSession, path: String,
    keep: Int = 8) {
  require(keep >= 2, s"history depth must keep >= 2 generations, got $keep")

  private val gens = new Generations(spark, path, "ProfileStore",
    Seq("_SUCCESS"))

  private val histSchema = StructType(Seq(
    StructField("run_id", LongType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("metric", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** Full (run_id, table_name, metric, value) history, oldest to newest
    * run ids; empty with the right schema before the first run. */
  def history(): DataFrame = gens.newest() match {
    case Some(s) =>
      val df = spark.read.parquet(s.toString)
      if (df.columns.contains("generation"))
        // legacy two-generation layout: current = run 2, previous = run 1
        df.select(
          when(col("generation") === "current", 2L).otherwise(1L)
            .as("run_id"),
          col("table_name"), col("metric"), col("value"))
      else df.select("run_id", "table_name", "metric", "value")
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], histSchema)
  }

  private def latestRun(h: DataFrame): Long =
    h.agg(max("run_id")).collect().head match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }

  private def gen(h: DataFrame, run: Long): DataFrame =
    h.filter(col("run_id") === run)
      .select("table_name", "metric", "value")

  /** The profile the LAST `record()` stored (what the next run compares
    * against); empty before the first run. */
  def current(): DataFrame = { val h = history(); gen(h, latestRun(h)) }

  /** The generation before that (what the last run compared against). */
  def previous(): DataFrame = { val h = history(); gen(h, latestRun(h) - 1) }

  /** Persist `profile` (table_name, metric, value) as the next
    * generation and prune history beyond `keep` — the reference's
    * end-of-run stat shuffle (ref IC:700-722) with depth. Returns the
    * now-previous generation so callers can run the drift comparison
    * without a re-read. */
  def record(profile: DataFrame): DataFrame = gens.lease.withLease {
    // materialize the history BEFORE the swap overwrites its files
    val histRows = history().collect()
    val maxRun = histRows.foldLeft(0L)((m, r) => math.max(m, r.getLong(0)))
    val next = maxRun + 1
    val keptOld = histRows.filter(_.getLong(0) > next - keep)
    val hist = spark.createDataFrame(
      spark.sparkContext.parallelize(keptOld.toSeq, 1), histSchema)
    gens.writeGeneration(tmp =>
      profile.select("table_name", "metric", "value")
        .withColumn("run_id", lit(next))
        .select("run_id", "table_name", "metric", "value")
        .unionByName(hist)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(tmp))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        keptOld.filter(_.getLong(0) == maxRun).toSeq, 1), histSchema)
      .select("table_name", "metric", "value")
  }

  /** The TREND over the stored history: per (table, metric, run_id ≥ 2)
    * the step delta, the IC:706 incremental average of the PRIOR deltas
    * (the recurrence `a += (d - a) / n` telescopes to the arithmetic
    * mean in exact arithmetic; it is applied here to profile deltas and
    * rounded once, so both the store and an oracle can restate it), and
    * two flags:
    *  - `is_drifted`: this step moved beyond the band (the old check);
    *  - `is_accelerating`: this step moved beyond the band AND beyond
    *    2× the historical average step — the metric is not just off, it
    *    is getting WORSE faster than its own history (needs ≥ 2 prior
    *    deltas, i.e. ≥ 4 generations, to call a trend).
    *
    * Window safety at scale: partitions are (table, metric) keyed and
    * each holds ≤ `keep` rows by construction — bounded frames, never a
    * data-sized window. */
  def trend(band: Double = graft.checks.Drift.DefaultBand): DataFrame =
    ProfileStore.trendOf(history(), band)
}

object ProfileStore {

  /** [[ProfileStore.trend]]'s computation over any
    * (run_id, table_name, metric, value) history frame — static so specs
    * can property-test the recurrence on in-memory histories. */
  def trendOf(history: DataFrame,
      band: Double = graft.checks.Drift.DefaultBand): DataFrame = {
    import graft.functions.StableRound.r4
    val w = Window.partitionBy("table_name", "metric").orderBy("run_id")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    history
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("delta",
        r4(abs(col("value") - col("prev_value")) /
          nullif(abs(col("prev_value")), lit(0.0))))
      .withColumn("n_prior_deltas", count("delta").over(prior))
      .withColumn("avg_prior_delta", r4(avg("delta").over(prior)))
      .filter(col("delta").isNotNull)
      .withColumn("is_drifted",
        when(col("delta") > band, 1L).otherwise(0L))
      .withColumn("is_accelerating",
        when(col("delta") > band && col("n_prior_deltas") >= 2 &&
          col("delta") > lit(2.0) * col("avg_prior_delta"), 1L)
          .otherwise(0L))
      .select("table_name", "metric", "run_id", "prev_value", "value",
        "delta", "n_prior_deltas", "avg_prior_delta", "is_drifted",
        "is_accelerating")
      .orderBy("table_name", "metric", "run_id")
  }
}
