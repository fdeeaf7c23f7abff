package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`; the same names are registered
  * as DuckDB views by the driver's oracle, so every query addresses tables
  * by these names on both sides.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema memo. `spark.read.parquet(path)` runs a DISTRIBUTED
    * footer-read job per CALL to infer the schema — a query touching the
    * same catalog of tables pays that job once per table reference
    * (check_fk_containment scheduled 10 of its 16 jobs on exactly this;
    * the job-count gauge, now `graft.Dev jobs`, round-14). A real deployment reads CATALOG tables
    * whose schema is known at plan time; this memo gives path reads the
    * same property: infer once, then plan every later read with
    * `.schema(...)` (no inference job, no footer touch). The key carries
    * the path's (mtime, length) from ONE driver-side stat, so a fixture
    * rewritten in place (spec scratch dirs) re-infers instead of serving
    * a stale schema, and the session's timezone/nanos conf rides the key
    * because both change what inference returns for the same file. File
    * LISTING is untouched — every read still sees files landed since the
    * memo was taken; only the schema is pinned. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memoizedParquet(spark, s"$sfDir/$name.parquet")

  /** Drop every memoized schema for `path`. The persisted stores call
    * this after IN-PLACE partition rewrites (dynamic overwrites two
    * levels deep — `batch_id=N/cluster=M/part…` replayed under the
    * same names), which the direct-child fingerprint below cannot
    * always see (a deeper rewrite moves the leaf dir's mtime, not the
    * root's children's; round-14 advice). Re-inference costs one
    * footer job on the next read; staleness would cost a silently
    * dropped column. Same-JVM only, like the memo itself — a foreign
    * process's rewrite is out of scope (the stores' single-writer
    * lease makes that a non-event for their protocol-fixed schemas). */
  def invalidateSchemaMemo(path: String): Unit = {
    schemaMemo.keySet.removeIf(_._1 == path)
    ()
  }

  /** A parquet read whose SCHEMA comes from the memo above. Also used by
    * the persisted stores' `load()` (IncrementalDedup/IncrementalAnn):
    * their layouts are protocol-fixed, every generation swap or new
    * batch partition is a direct child of the root (so the root's mtime
    * moves with every legal mutation), and only the schema is pinned —
    * the per-read file listing still sees everything landed since. */
  def memoizedParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.conf.getOption(
      "spark.sql.legacy.parquet.nanosAsLong").getOrElse("") + "/" +
      spark.conf.getOption("spark.sql.session.timeZone").getOrElse("")
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.getFileStatus(p)
      // Directory tables additionally fingerprint their DIRECT
      // children (one driver-side listing — the same RPC Spark's scan
      // pays at plan time anyway): a part file overwritten IN PLACE
      // (same name) changes no root mtime, and serving the old schema
      // for it would silently drop a new column. Deeper rewrites
      // (inside partition subdirs) are still invisible — acceptable
      // for the two consumers (fixture tables are flat; the persisted
      // stores' protocol only ever mutates direct children or
      // replays identical content).
      val childFp =
        if (!st.isDirectory) 0L
        else fs.listStatus(p).foldLeft(0L)((h, c) =>
          31L * (31L * (31L * h + c.getPath.getName.hashCode) +
            c.getModificationTime) + c.getLen)
      (path, st.getModificationTime ^ childFp, st.getLen, conf)
    } catch {
      // missing/unstatable path: fall through to the plain read so the
      // caller sees Spark's own error, and memoize nothing
      case _: java.io.IOException =>
        return spark.read.parquet(path)
    }
    val cached = schemaMemo.get(key)
    val schema =
      if (cached != null) cached
      else {
        val inferred = spark.read.parquet(path).schema
        // long-lived ingest loops mint a fresh key per store mutation;
        // bound the memo so dead keys cannot accumulate forever (a
        // clear() just re-infers — correctness is unaffected)
        if (schemaMemo.size > 512) schemaMemo.clear()
        schemaMemo.putIfAbsent(key, inferred)
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.parquet has shipped `ts` two ways across fixture generations:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — readable
    * only via `spark.sql.legacy.parquet.nanosAsLong=true`, which every
    * entry point sets at SESSION BUILD, not here: a reader mutating
    * session conf mid-query is a spooky-action hazard) and plain
    * timestamp[us]. Probe the scan's schema and shim ONLY the
    * nanos-as-long case; a µs timestamp passes through untouched. Both
    * land on µs precision, the same truncation DuckDB applies, so oracle
    * comparison stays exact. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) file
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // tz-less timestamp[us]: normalize to TimestampType so every
        // downstream consumer (long casts, getTimestamp, window arith)
        // sees ONE type across fixture generations. Under the UTC session
        // every operator here runs with, the µs value is unchanged —
        // exactly what the nanos shim produced.
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a scan across the cluster BEFORE heavy map-side work.
    *
    * The fixtures are single-row-group parquet files, so a scan is one
    * partition and everything before the first shuffle (explode, md5,
    * scoring) runs on ONE core. A production lake has many files and
    * doesn't need this — but a skewed/under-split input always can, and
    * the cost model is the same at any scale: pay one small shuffle of the
    * narrow input to parallelize per-row work that is 10-100× heavier than
    * the row itself. Key by the downstream grouping column so the
    * repartition ALSO satisfies the next groupBy's distribution (one
    * shuffle where a naive plan runs two).
    *
    * SELF-RETIRING on real lakes: when the frame already materializes in
    * enough partitions to keep every core busy (≥ half the default
    * parallelism — probed from the planned RDD, no job runs), the
    * repartition is skipped. For a bare scan that is the file-split
    * count (a 24-file table parallelizes itself); for a derived frame it
    * is the real post-shuffle layout — NOT the leaf-file count, which
    * says nothing about how a filtered/windowed frame is actually laid
    * out. The fixture workaround therefore costs nothing where it isn't
    * needed, which `BASELINE.md` §multi-file quantifies.
    * `SPARK_GRAFT_FORCE_SPREAD=always|never` overrides for A/B
    * benchmarking.
    *
    * Only worth it when per-row compute dominates: a plain sum/min scan is
    * cheaper serial than shuffled. Callers whose repartition is a
    * DISTRIBUTION requirement (aligning a downstream agg so an exploded
    * stream shuffles once, e.g. dd04) repartition explicitly instead of
    * going through this. */
  def spread(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    sys.env.get("SPARK_GRAFT_FORCE_SPREAD") match {
      case Some("never")  => df
      case Some("always") => df.repartition(n, col(key))
      case _ =>
        if (df.rdd.getNumPartitions >= n / 2) df
        else df.repartition(n, col(key))
    }
  }
}
