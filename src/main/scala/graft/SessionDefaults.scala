package graft
import org.apache.spark.sql.SparkSession

/** The ONE definition site for the engine's sessions: the shared
  * configuration ([[apply]]), the core count ([[cpus]]) and the local
  * session every dev and measurement main runs on ([[local]]). A config
  * that changes engine behavior is added HERE or nowhere, so Bench and
  * Verify price and check the session the product creates. `cpus`
  * parameterizes the scale-dependent settings from the session's core
  * count — never a local-mode constant (on a cluster, pass the intended
  * post-shuffle partition count). The test session routes through
  * [[apply]] too. */
object SessionDefaults {
  /** The session's core count: `SPARK_GRAFT_CPUS` if set, else the
    * processors this JVM sees. A pure function of `env` so it can be
    * checked without starting a second SparkSession. */
  def cpus(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** The `local[cpus]` session the mains use: shared configuration, UI
    * off, WARN log level. `Main` builds its own (it honours
    * `SPARK_MASTER`) from the same [[cpus]]. */
  def local(): SparkSession = {
    val n = cpus()
    val spark = apply(SparkSession.builder().master(s"local[$n]"), n)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The library's bounded cap-probe collects (componentsLocal, the
      // dd13/pipe17 driver tails) sit on top of an already-computed
      // shuffle, so CollectLimit's incremental 1-partition-then-rescan
      // staging is pure scheduling floor: scan all reduce partitions in
      // one pass. Scale-honest — the probes' caps bound what ships to
      // the driver regardless of how many partitions one job touches.
      .config("spark.sql.limit.initialNumPartitions", cpus)
}
