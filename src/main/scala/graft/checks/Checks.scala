package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.tables.Tables

/** Lake-native meanings of the reference's DBCC commands (SURVEY.md §7.3,
  * design risk #1). Each check is a SQL-expressible validation query so it
  * stays oracle-checkable:
  *
  *  - CHECKTABLE  → full-scan validation aggregate: count + per-column
  *    null/min/max/sum profile (ref IntegrityChecks_VLDB.sql:683-687).
  *  - DATA_PURITY → domain predicates per column (ref IC:685-686).
  *  - CHECKCATALOG → cross-table referential containment: every FK-style
  *    key resolves (ref ola/DatabaseIntegrityCheck.sql:1682-1695, catalog
  *    consistency re-read as lake-metadata consistency).
  *  - CHECKALLOC  → every storage unit is present and countable: per-table
  *    row counts vs expectations (file/footer level checks live in
  *    graft.checks.Alloc — not SQL-expressible, rows-only gate).
  *
  * All of these are single-pass scans or broadcast/shuffle-light joins:
  * at 100 TB a CHECKTABLE is exactly one pass over the table with partial
  * aggregation (no shuffle beyond the 1-row final combine), and the
  * containment checks are shuffle joins on the key — the minimal plan shape
  * for the semantics.
  */
object Checks {

  /** CHECKTABLE on lineitem: one scan, all column profiles at once.
    * Map-side partial agg → single final row; zero shuffle of data rows. */
  val checkTableLineitem: Q = Q(
    "check_table_lineitem",
    """SELECT count(*) AS n_rows,
      |  count(*) - count(l_orderkey) AS null_orderkey,
      |  count(*) - count(l_quantity) AS null_quantity,
      |  count(*) - count(l_shipdate) AS null_shipdate,
      |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
      |  round(min(l_quantity), 2) AS min_qty, round(max(l_quantity), 2) AS max_qty,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_price,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
      |  count(DISTINCT l_returnflag) AS n_flags
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("l_orderkey"))).as("null_orderkey"),
      (count(lit(1)) - count(col("l_quantity"))).as("null_quantity"),
      (count(lit(1)) - count(col("l_shipdate"))).as("null_shipdate"),
      min("l_orderkey").as("min_orderkey"), max("l_orderkey").as("max_orderkey"),
      round(min("l_quantity"), 2).as("min_qty"),
      round(max("l_quantity"), 2).as("max_qty"),
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_price"),
      min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"),
      countDistinct("l_returnflag").as("n_flags"))
  }

  /** CHECKALLOC (logical tier): per-table row counts in one result — the
    * "every allocation unit is readable and countable" probe.
    *
    * Counted from parquet FOOTER metadata, which is exactly the CHECKALLOC
    * contract (DBCC counts allocation structures, not rows): every file of
    * every table is opened and its footer block counts summed — a missing,
    * truncated or unreadable file fails the probe. ONE distributed job
    * over the file list (a 100 TB lake has millions of files — the footer
    * reads spread across the cluster), versus a 10-leg union of count
    * scans (10 scan+agg stage pairs of pure scheduling floor; measured
    * 1.0 s → 0.2 s at sf0.1). Footer counts are definitionally equal to
    * scan counts (the oracle's count(*)) on an uncorrupted lake — and on a
    * corrupted one, failing loudly here is the job. */
  val checkRowcounts: Q = Q(
    "check_rowcounts",
    Tables.all.map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")) { (s, d) =>
    import s.implicits._
    val files: Seq[(String, String)] = Tables.all.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$t.parquet")
      // resolve the filesystem FROM THE PATH, not the default scheme:
      // FileSystem.get(conf) returns fs.defaultFS's filesystem and throws
      // "Wrong FS" for an s3a:// table dir on an hdfs-default session
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      // a table may be a single file, a directory of part files, or a
      // PARTITIONED directory tree — list recursively, or a partitioned
      // table's files (one level down per partition key) are silently
      // missed and the count under-reports
      if (fs.getFileStatus(p).isDirectory) {
        val it = fs.listFiles(p, /* recursive = */ true)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet"))
            out += ((t, st.getPath.toString))
        }
        out.toSeq
      } else Seq((t, p.toString))
    }
    // The executors must open files with the SESSION's filesystem config
    // (S3/HDFS credentials, fs.* overrides) — a fresh Configuration() only
    // works on a default-configured local filesystem. Ship it through
    // Spark's own SerializableConfiguration (via the bridge — it is
    // private[spark]), which is also registered with Spark's Kryo setup;
    // a hand-rolled writeObject wrapper silently loses the conf when
    // spark.serializer=Kryo serializes broadcast values by field.
    val bconf = s.sparkContext.broadcast(
      org.apache.spark.sql.GraftSqlBridge.serializableHadoopConf(
        s.sparkContext.hadoopConfiguration))
    val counted = s.createDataset(files)
      .repartition(math.max(1,
        math.min(files.size, s.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        val conf = bconf.value.value
        it.map { case (t, path) =>
          val r = org.apache.spark.sql.GraftSqlBridge.openParquet(
            conf, new org.apache.hadoop.fs.Path(path))
          try (t, r.getRecordCount) finally r.close()
        }
      }
      .toDF("table_name", "n")
      .groupBy("table_name").agg(sum("n").as("n_rows"))
    // Seed with the full table list: a table directory with zero parquet
    // files must surface as an explicit 0 (the old count(*) path's
    // behavior), not silently vanish from the result.
    s.createDataset(Tables.all).toDF("table_name")
      .join(counted, Seq("table_name"), "left")
      .select(col("table_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      .orderBy("table_name")
  }

  /** CHECKCATALOG analog: referential containment. Each arm is an anti-join
    * count on the key (shuffle join on key only; at scale the dimension side
    * of custkey/partkey broadcasts). */
  val checkFkContainment: Q = Q(
    "check_fk_containment",
    """SELECT 'lineitem.l_orderkey->orders' AS check_name,
      |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
      |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_violations
      |UNION ALL
      |SELECT 'orders.o_custkey->customer',
      |  (SELECT count(*) FROM orders WHERE NOT EXISTS
      |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
      |UNION ALL
      |SELECT 'lineitem.l_partkey->part',
      |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
      |    (SELECT 1 FROM part WHERE p_partkey = l_partkey))
      |UNION ALL
      |SELECT 'lineitem.l_suppkey->supplier',
      |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
      |    (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
      |UNION ALL
      |SELECT 'customer.c_nationkey->nation',
      |  (SELECT count(*) FROM customer WHERE NOT EXISTS
      |    (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
      |UNION ALL
      |SELECT 'nation.n_regionkey->region',
      |  (SELECT count(*) FROM nation WHERE NOT EXISTS
      |    (SELECT 1 FROM region WHERE r_regionkey = n_regionkey))
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    // ONE scan of the fact table for all three of its FKs: chain outer
    // joins against the parent keys and count nulls, then unpivot with
    // stack(). The naive per-FK anti-join plan scans lineitem three
    // times — at 100 TB that's the difference between one pass over the
    // lake and three. Precondition: each parent key is a PRIMARY key
    // (duplicate parents would fan out the fact rows and inflate
    // counts) — uniqueness is validated independently by check_pk_unique
    // (count vs distinct count per parent), so no defensive distinct
    // (3 saved shuffles).
    def keyOf(df: DataFrame, k: String): DataFrame = df.select(k)
    // (measured: spreading the fact scan first costs MORE than the serial
    // probes save at sf0.1 — the 600k×3-col shuffle outweighs one core's
    // hash-probe work; on a real many-file lake the scan parallelizes
    // without any shuffle)
    val liChecks = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .join(keyOf(Tables.orders(s, d), "o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(keyOf(Tables.part(s, d), "p_partkey"),
        col("l_partkey") === col("p_partkey"), "left")
      .join(keyOf(Tables.supplier(s, d), "s_suppkey"),
        col("l_suppkey") === col("s_suppkey"), "left")
      .agg(
        // coalesce: sum over an EMPTY fact table is NULL, but a violation
        // count must be 0 (matches the anti-join form and the oracle)
        coalesce(sum(when(col("o_orderkey").isNull, 1).otherwise(0)), lit(0L))
          .as("v_ord"),
        coalesce(sum(when(col("p_partkey").isNull, 1).otherwise(0)), lit(0L))
          .as("v_part"),
        coalesce(sum(when(col("s_suppkey").isNull, 1).otherwise(0)), lit(0L))
          .as("v_supp"))
      .select(expr(
        """stack(3,
          |  'lineitem.l_orderkey->orders',   v_ord,
          |  'lineitem.l_partkey->part',      v_part,
          |  'lineitem.l_suppkey->supplier',  v_supp)
          |  AS (check_name, n_violations)""".stripMargin))
    // The three remaining FK arms fuse into ONE anti-join: union the
    // child keys under their check label, union the parent keys under the
    // same label, anti-join on (label, key), count violations per label.
    // Separate per-arm jobs are three scan+join+agg legs of scheduling
    // floor (measured: 4 legs 1.8 s → 2 legs ~0.7 s at sf0.1); the fused
    // parent side here is dimension-sized, so the anti-join broadcasts.
    // Labels with zero violations vanish from the anti-join — reinstate
    // them from the static label list with coalesce(0).
    val arms = Seq(
      ("orders.o_custkey->customer",
        Tables.orders(s, d).select(col("o_custkey").as("key")),
        Tables.customer(s, d).select(col("c_custkey").as("key"))),
      ("customer.c_nationkey->nation",
        Tables.customer(s, d).select(col("c_nationkey").as("key")),
        Tables.nation(s, d).select(col("n_nationkey").as("key"))),
      ("nation.n_regionkey->region",
        Tables.nation(s, d).select(col("n_regionkey").as("key")),
        Tables.region(s, d).select(col("r_regionkey").as("key"))))
    val children = arms.map { case (n, c, _) =>
      c.select(lit(n).as("check_name"), col("key")) }.reduce(_.unionByName(_))
    val parents = arms.map { case (n, _, p) =>
      p.select(lit(n).as("check_name"), col("key")) }.reduce(_.unionByName(_))
    val found = children.join(broadcast(parents),
        Seq("check_name", "key"), "left_anti")
      .groupBy("check_name").agg(count(lit(1)).as("n_violations"))
    import s.implicits._
    val labels = arms.map(_._1).toDF("check_name")
    val armResults = labels.join(found, Seq("check_name"), "left")
      .select(col("check_name"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"))
    liChecks.unionByName(armResults).orderBy("check_name")
  }

  /** PK-uniqueness tier of CHECKTABLE (ref DIC:1682-1695 catalog
    * consistency): parent-key duplicate counts, count vs distinct count in
    * one scan per table. This is the precondition the single-scan FK check
    * (check_fk_containment) relies on — duplicate parent keys would fan
    * out its outer joins. */
  val checkPkUnique: Q = {
    val pks = Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey")
    Q("check_pk_unique",
      pks.map { case (t, k) =>
        s"SELECT '$t' AS table_name, count(*) - count(DISTINCT $k) AS n_dup_keys FROM $t"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")) { (s, d) =>
      // ONE job: union the six key columns (all int64) under a table
      // label and aggregate per label — six separate agg legs are six
      // scan+exchange stage pairs of scheduling floor (measured 0.84 s →
      // ~0.25 s at sf0.1). The scans stay single-column (pruned to the
      // key); the one shuffle carries (label, key) pairs. At 100 TB each
      // leg would amortize its own floor, but one fused pass is still the
      // better plan: same scans, one job to schedule.
      pks.map { case (t, k) =>
        Tables(s, d, t).select(lit(t).as("table_name"), col(k).as("key"))
      }.reduce(_.unionByName(_))
        .groupBy("table_name")
        .agg((count(lit(1)) - countDistinct(col("key"))).as("n_dup_keys"))
        .orderBy("table_name")
    }
  }

  /** DATA_PURITY analog: column-domain predicates, all evaluated in ONE
    * scan per table via conditional counts (ref IC:685-686). */
  val checkDomains: Q = Q(
    "check_domains",
    """SELECT 'lineitem' AS table_name,
      |  count(CASE WHEN l_quantity < 0 OR l_quantity > 100 THEN 1 END) AS bad_range,
      |  count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS bad_ratio,
      |  count(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 END) AS bad_enum,
      |  count(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01 00:00:00'
      |             OR l_shipdate > TIMESTAMP '2030-01-01 00:00:00' THEN 1 END) AS bad_ts
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders',
      |  count(CASE WHEN o_totalprice < 0 THEN 1 END),
      |  count(CASE WHEN o_custkey < 0 THEN 1 END),
      |  count(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END),
      |  count(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
      |             OR o_orderdate > TIMESTAMP '2030-01-01 00:00:00' THEN 1 END)
      |FROM orders
      |ORDER BY table_name""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).agg(
      count(when(col("l_quantity") < 0 || col("l_quantity") > 100, 1))
        .as("bad_range"),
      count(when(col("l_discount") < 0 || col("l_discount") > 1, 1))
        .as("bad_ratio"),
      count(when(!col("l_returnflag").isin("A", "N", "R"), 1)).as("bad_enum"),
      count(when(col("l_shipdate") < lit("1990-01-01 00:00:00").cast("timestamp")
        || col("l_shipdate") > lit("2030-01-01 00:00:00").cast("timestamp"), 1))
        .as("bad_ts"))
      .withColumn("table_name", lit("lineitem"))
    val o = Tables.orders(s, d).agg(
      count(when(col("o_totalprice") < 0, 1)).as("bad_range"),
      count(when(col("o_custkey") < 0, 1)).as("bad_ratio"),
      count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)).as("bad_enum"),
      count(when(col("o_orderdate") < lit("1990-01-01 00:00:00").cast("timestamp")
        || col("o_orderdate") > lit("2030-01-01 00:00:00").cast("timestamp"), 1))
        .as("bad_ts"))
      .withColumn("table_name", lit("orders"))
    li.unionByName(o)
      .select("table_name", "bad_range", "bad_ratio", "bad_enum", "bad_ts")
      .orderBy("table_name")
  }

  /** Deterministic whole-table content hash (SURVEY §7.3): md5 per row
    * over a canonical rendering (printf for doubles, strftime for
    * timestamps — bit-identical across engines), folded with an
    * order-INDEPENDENT sum so the result is partition- and
    * parallelism-invariant. This is the cross-engine "same bytes" tier of
    * CHECKTABLE: one scan, map-side partial sums, a 1-row result —
    * the cheapest possible content fingerprint at 100 TB. */
  val checkContentHash: Q = Q(
    "check_content_hash",
    """SELECT count(*) AS n_rows,
      |  CAST(sum(('0x' || substr(md5(concat_ws('|',
      |    l_orderkey, l_linenumber, printf('%.2f', l_quantity),
      |    printf('%.2f', l_extendedprice), l_returnflag, l_linestatus,
      |    strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))), 1, 8))::BIGINT)
      |    AS BIGINT) AS content_hash
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(conv(substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        format_string("%.2f", col("l_quantity")),
        format_string("%.2f", col("l_extendedprice")),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))), 1, 8),
        16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), sum("h").as("content_hash"))
  }

  /** Statistical column profile — the distribution tier of CHECKTABLE
    * (drift detection between runs: a jump in stddev or a sign flip in a
    * correlation is a data-quality incident even when every domain check
    * passes). One scan, all moments computed in the same partial-agg pass
    * as the count — at 100 TB this costs exactly what check_table costs.
    * skewness/kurtosis are deliberately absent: Spark computes population
    * moments where DuckDB computes sample-corrected ones, so they cannot
    * be oracle-gated (stddev_samp/var_samp/covar_samp/corr agree). */
  val checkColStats: Q = Q(
    "check_col_stats",
    """SELECT 'lineitem' AS table_name, count(*) AS n_rows,
      |  floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
      |  floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000 AS sd_qty,
      |  floor(var_samp(l_discount) * 10000 + 0.5) / 10000 AS var_disc,
      |  floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
      |    AS corr_qty_price,
      |  floor(covar_samp(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
      |    AS covar_qty_price
      |FROM lineitem""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      StableRound.r4(avg("l_quantity")).as("avg_qty"),
      StableRound.r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
      StableRound.r4(var_samp(col("l_discount"))).as("var_disc"),
      StableRound.r4(corr(col("l_quantity"), col("l_extendedprice")))
        .as("corr_qty_price"),
      StableRound.r4(covar_samp(col("l_quantity"), col("l_extendedprice")))
        .as("covar_qty_price"))
      .withColumn("table_name", lit("lineitem"))
      .select("table_name", "n_rows", "avg_qty", "sd_qty", "var_disc",
        "corr_qty_price", "covar_qty_price")
  }

  /** Equi-width histogram of l_extendedprice (fixed 10k-wide buckets):
    * the value-distribution probe of CHECKTABLE — per-bucket counts plus
    * in-bucket extrema make truncated/shifted value ranges visible at a
    * glance. Fixed bounds keep it ONE scan (data-derived bounds would need
    * a second pass or a sketch — that path is check_quantile_sketch); the
    * shuffle carries only |buckets| groups. */
  val checkHistogram: Q = Q(
    "check_histogram",
    """SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
      |  count(*) AS n_rows,
      |  floor(min(l_extendedprice) * 100 + 0.5) / 100 AS min_price,
      |  floor(max(l_extendedprice) * 100 + 0.5) / 100 AS max_price
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 10000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        StableRound.r2(min("l_extendedprice")).as("min_price"),
        StableRound.r2(max("l_extendedprice")).as("max_price"))
      .orderBy("bucket")
  }

  val queries: Seq[Q] = Seq(
    checkTableLineitem, checkRowcounts, checkFkContainment, checkPkUnique,
    checkDomains, checkContentHash, checkColStats, checkHistogram)
}
