package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables with the fixture schemas the program's
  * queries read (`graft.tables.Tables.all`): a TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`. Every cell is a hash of
  * (table, row id, column), so the same scale factor always writes the same
  * rows; no input is read from outside the benchmark's own directory.
  *
  * Row counts follow the fixtures' scale: at sf 0.1, lineitem has 600k rows,
  * documents 5k and embeddings 2k. Large tables are written as several part
  * files, so workloads can derive per-seed inputs by copying files. */
object Gen {
  /** Bump when the generated content changes, so cached tables rebuild. */
  val Version = 2

  private val Vocab: Seq[String] = Seq("a", "the", "batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash",
    "slow", "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "join", "customer", "vector")
  private val Nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3,
    "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)

  /** Uniform pick in [0, n) from the hash of (table, id, column). */
  private def h(table: String, c: String, n: Long): Column =
    pmod(xxhash64(lit(table), col("id"), lit(c)), lit(n))
  private def u(table: String, c: String): Column =
    h(table, c, 1000000L).cast("double") / 1000000.0
  private def pick(table: String, c: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), h(table, c, values.size).cast("int") + 1)
  private def day(base: String, table: String, c: String, days: Long): Column =
    (unix_timestamp(lit(base).cast("timestamp")) + h(table, c, days) * 86400L)
      .cast("timestamp")

  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.max(10L, (150000 * sf).toLong),
    "supplier" -> math.max(10L, (10000 * sf).toLong),
    "part" -> math.max(10L, (200000 * sf).toLong),
    "orders" -> math.max(10L, (1500000 * sf).toLong),
    "lineitem" -> math.max(10L, (6000000 * sf).toLong),
    "events" -> math.max(10L, (1000000 * sf).toLong),
    "documents" -> math.max(10L, (50000 * sf).toLong),
    "embeddings" -> math.max(10L, (20000 * sf).toLong))

  def table(spark: SparkSession, name: String, sf: Double): DataFrame = {
    val n = rows(sf)
    val ids = spark.range(n(name))
    name match {
      case "region" =>
        ids.select(col("id").cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
            "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1)
            .as("r_name"))
      case "nation" =>
        ids.select(col("id").cast("int").as("n_nationkey"),
          element_at(array(Nations.map(x => lit(x._1)): _*),
            col("id").cast("int") + 1).as("n_name"),
          element_at(array(Nations.map(x => lit(x._2)): _*),
            col("id").cast("int") + 1).as("n_regionkey"))
      case "customer" =>
        ids.select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          h(name, "nation", 25).cast("int").as("c_nationkey"),
          round(u(name, "bal") * 10999.99 - 999.99, 2).as("c_acctbal"),
          pick(name, "seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        ids.select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          h(name, "nation", 25).cast("int").as("s_nationkey"),
          round(u(name, "bal") * 10999.99 - 999.99, 2).as("s_acctbal"))
      case "part" =>
        ids.select(col("id").as("p_partkey"),
          concat_ws(" ", pick(name, "adj", Seq("large", "hot", "small",
            "blue", "steel", "burnished", "polished", "green")),
            pick(name, "noun", Seq("ring", "bolt", "nut", "gear", "valve",
              "panel", "spring"))).as("p_name"),
          format_string("Brand#%d", h(name, "brand", 25) + 1).as("p_brand"),
          pick(name, "type", Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM",
            "STANDARD", "PROMO")).as("p_type"),
          (h(name, "size", 50) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 2)
            .as("p_retailprice"))
      case "orders" =>
        ids.select(col("id").as("o_orderkey"),
          h(name, "cust", n("customer")).as("o_custkey"),
          pick(name, "status", Seq("O", "F", "P")).as("o_orderstatus"),
          round(u(name, "price") * 450000.0 + 900.0, 2).as("o_totalprice"),
          day("1992-01-01 00:00:00", name, "date", 2400).as("o_orderdate"),
          pick(name, "prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        ids.select(h(name, "order", n("orders")).as("l_orderkey"),
          h(name, "part", n("part")).as("l_partkey"),
          h(name, "supp", n("supplier")).as("l_suppkey"),
          (h(name, "line", 7) + 1).cast("int").as("l_linenumber"),
          (h(name, "qty", 50) + 1).cast("double").as("l_quantity"),
          round(u(name, "ext") * 100000.0 + 900.0, 2).as("l_extendedprice"),
          (h(name, "disc", 11) / 100.0).as("l_discount"),
          (h(name, "tax", 9) / 100.0).as("l_tax"),
          pick(name, "rf", Seq("N", "A", "R")).as("l_returnflag"),
          pick(name, "ls", Seq("O", "F")).as("l_linestatus"),
          day("1992-01-02 00:00:00", name, "ship", 3600).as("l_shipdate"))
      case "events" =>
        ids.select(col("id").as("event_id"),
          (unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp")) +
            col("id") * 30L + h(name, "jit", 30)).cast("timestamp").as("ts"),
          h(name, "user", math.max(10L, n("events") / 80)).as("user_id"),
          pick(name, "type", Seq("signup", "click", "error", "view",
            "purchase")).as("event_type"),
          round(u(name, "val") * 200.0, 2).as("value"),
          format_string("{\"k\": %d}", h(name, "k", 100)).as("props"))
      case "documents" =>
        // one document in ten repeats its predecessor's words with one
        // word changed, so the dedup operators find near-duplicate pairs
        val src = when(pmod(col("id"), lit(10)) === 9L && col("id") > 0L,
          col("id") - 1L).otherwise(col("id"))
        val words = transform(
          sequence(lit(1L), lit(8L) + pmod(xxhash64(lit(name), src), lit(60L))),
          i => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit("w"), src, i,
              when(i === 3L, col("id")).otherwise(lit(-1L))),
              lit(Vocab.size.toLong)) + 1).cast("int")))
        ids.select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
          pick(name, "lang", Seq("en", "en", "en", "zh", "de", "es", "fr"))
            .as("lang"),
          format_string("src%d", pmod(col("id"), lit(20))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // ten clusters: a per-label centre plus per-vector noise
        val label = h(name, "label", 10)
        val vec = transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(lit("c"), label, j), lit(2000L)) - 1000L) / 4000.0 +
            (pmod(xxhash64(lit("n"), col("id"), j), lit(2000L)) - 1000L) /
              20000.0).cast("float"))
        ids.select(col("id").as("vec_id"), vec.as("embedding"),
          label.cast("int").as("label"))
    }
  }

  /** Part files per table: big tables are split so workloads can derive
    * inputs by choosing files. */
  def files(name: String, sf: Double): Int = {
    val r = rows(sf)(name)
    if (name == "documents" || name == "embeddings") 20 // arrival batches
    else if (r >= 400000) 16 else if (r >= 40000) 8 else 1
  }

  /** Takedown requests for the arrival workload: for each pair of
    * same-numbered part files of `documents` and `embeddings`, five doc_ids
    * and three vec_ids from those files, under `takedowns.parquet/part=<n>/`.
    * Derived from the two tables, so it is generated after them. */
  def takedowns(spark: SparkSession, dir: File): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def pick(t: String, id: String, n: Int): DataFrame =
      spark.read.parquet(new File(dir, s"$t.parquet").getPath)
        .withColumn("part", regexp_extract(input_file_name(), "part-(\\d+)", 1).cast("int"))
        .withColumn("r", row_number().over(
          Window.partitionBy("part").orderBy(xxhash64(col(id)))))
        .filter(col("r") <= n).select(col("part"), col(id))
    pick("documents", "doc_id", 5).withColumn("vec_id", lit(null).cast("long"))
      .unionByName(pick("embeddings", "vec_id", 3)
        .withColumn("doc_id", lit(null).cast("long")))
      .repartition(col("part"))
  }

  /** Writes each named table under `dir/<table>.parquet/` unless it is
    * already complete (Spark's `_SUCCESS` marker). A table is written to a
    * hidden sibling and renamed, so an interrupted run never leaves a
    * half-written table behind. */
  def ensure(spark: SparkSession, dir: File, sf: Double,
      names: Seq[String]): File = {
    names.foreach { t =>
      val out = new File(dir, s"$t.parquet")
      if (!new File(out, "_SUCCESS").exists()) {
        val tmp = new File(dir, s".$t.parquet.tmp")
        Fs.deleteTree(tmp)
        if (t == "takedowns")
          takedowns(spark, dir).write.partitionBy("part").parquet(tmp.getPath)
        else {
          val df = table(spark, t, sf)
          val k = files(t, sf)
          (if (k == 1) df.coalesce(1) else df.repartitionByRange(k, col(df.columns.head)))
            .write.parquet(tmp.getPath)
        }
        Fs.deleteTree(out)
        if (!tmp.renameTo(out)) sys.error(s"could not move $tmp to $out")
      }
    }
    dir
  }
}
