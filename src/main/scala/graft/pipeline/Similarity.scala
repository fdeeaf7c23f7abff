package graft.pipeline

import graft.tables.Checkpoints.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.functions.StableRound
import graft.functions.VectorOps
import graft.tables.Tables

/** Approximate-nearest-neighbor search over the `embedding` column
  * (north-star surface). Two tiers:
  *
  *  - brute force: exact top-k via a blocked cross join — the baseline and
  *    the verifier for any ANN index. O(queries × corpus).
  *  - IVF: k-means-style inverted file with deterministic centroids —
  *    every vector is assigned to its nearest centroid once (one pass),
  *    and a query probes only its own cluster: the corpus side of the
  *    join shrinks by the number of clusters, which is what makes 100 TB
  *    of vectors searchable.
  *
  * The dot product stays in codegen-able built-ins (`zip_with` +
  * `aggregate`) — no UDF, no driver loop. Ranking uses the ROUNDED cosine
  * with vec_id tiebreaks so float ulps can't flip cross-engine order.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double.
    * Backed by the codegen'd [[graft.functions.FloatDot]] kernel; where a
    * side is join-invariant, precompute its norm BEFORE the join (see
    * sim01/sim02) so per-pair work is one dot + one divide. */
  def cosine(a: Column, b: Column): Column =
    // nullif: a zero-norm (all-zero) vector must yield NULL cosine, not a
    // DIVIDE_BY_ZERO crash — Spark 4's default ANSI mode throws even on
    // double division; NULL drops from every filter/rank on both engines
    VectorOps.dot(a, b) /
      nullif(VectorOps.norm(a) * VectorOps.norm(b), lit(0.0))

  /** Same guard for pre-computed norms (the join-side form): ONE home for
    * the zero-norm degradation policy — six call sites share it. */
  def cosineFromNorms(dot: Column, na: Column, nb: Column): Column =
    dot / nullif(na * nb, lit(0.0))

  // CAST ... AS DOUBLE[]: DuckDB's list_dot_product accumulates FLOAT[]
  // inputs in float32, while the engine's FloatDot kernel accumulates in
  // double — at sf1 (920k pairs) 503 cosines straddled an r4 rounding
  // tie on that precision gap. Casting makes DuckDB's double
  // accumulation bit-identical to the kernel (verified on the failing
  // pair), so the oracle stays exact at any scale.
  private val cosineSql = (a: String, b: String) =>
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) / nullif(
       |  (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
       |   sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))),
       |  0)"""
      .stripMargin

  /** Exact top-5 neighbors for query vectors (vec_id < 10). */
  val sim01BruteForceTopK: Q = Q(
    "sim01_bruteforce_topk",
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    floor((${cosineSql("q.embedding", "c.embedding")}) * 10000 + 0.5)
       |      / 10000 AS cosine
       |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, rk, neighbor_id, cosine FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorOps.norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      VectorOps.norm(col("embedding")).as("cn"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("ce")),
          col("qn"), col("cn"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "rk", "neighbor_id", "cosine")
      .orderBy("query_id", "rk")
  }

  /** IVF-style ANN: centroids = vec_id % 50 == 0 (deterministic stand-in
    * for trained centroids); assign each vector to its nearest centroid;
    * a query searches only its own cluster (top-3). */
  val sim02IvfTopK: Q = Q(
    "sim02_ivf_topk",
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_e
       |             FROM embeddings WHERE vec_id % 50 = 0),
       |assigned AS (
       |  SELECT vec_id, cent_id, embedding FROM (
       |    SELECT e.vec_id, c.cent_id, e.embedding,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY floor((${cosineSql("e.embedding", "c.cent_e")})
       |          * 10000 + 0.5) / 10000 DESC,
       |                 c.cent_id) AS rk
       |    FROM embeddings e, cent c) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, cent_id, embedding AS qe
       |      FROM assigned WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    floor((${cosineSql("q.qe", "a.embedding")}) * 10000 + 0.5)
       |      / 10000 AS cosine
       |  FROM q JOIN assigned a
       |    ON q.cent_id = a.cent_id AND a.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
       |SELECT query_id, rk, neighbor_id, cosine FROM ranked WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
    // spread: the centroid-assignment cross join does |corpus| × |cents|
    // dot products off a single-row-group scan (see Tables.spread); keying
    // by vec_id also pre-satisfies the assignment window's partitioning.
    val e = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .withColumn("en", VectorOps.norm(col("embedding")))
    val cent = broadcast(Tables.embeddings(s, d)
      .withColumn("en", VectorOps.norm(col("embedding")))
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_e"),
        col("en").as("cn")))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cc").desc, col("cent_id"))
    val assigned = e.crossJoin(cent)
      .withColumn("cc", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("embedding"), col("cent_e")),
          col("en"), col("cn"))))
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") === 1)
      .select("vec_id", "cent_id", "embedding", "en")
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("cent_id"),
        col("embedding").as("qe"), col("en").as("qn"))
    val scored = broadcast(q)
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("embedding")),
          col("qn"), col("en"))))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 3)
      .select("query_id", "rk", "neighbor_id", "cosine")
      .orderBy("query_id", "rk")
  }

  /** LSH-bucketed ANN: 8 random-hyperplane signs → a 256-bucket signature;
    * a query compares only against its own bucket. The planes are
    * md5-derived ±1 vectors, reproduced identically in the DuckDB oracle,
    * so this LSH variant is hash-checked end to end (sign equality is
    * exact: each plane term is a ±float, so both engines accumulate the
    * same doubles in the same order). Scale story: signature is one
    * embarrassingly-parallel pass; the candidate step is an equi-join on
    * bucket — no all-pairs comparison, and the bucket count (2^planes)
    * tunes recall vs cost. */
  val sim04LshTopK: Q = Q(
    "sim04_lsh_topk",
    s"""WITH planes AS (
       |  SELECT p, list_transform(range((SELECT len(embedding) FROM embeddings LIMIT 1)),
       |    i -> CASE WHEN (instr('0123456789abcdef',
       |                         substr(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1)) - 1)
       |                   % 2 = 1
       |         THEN 1.0 ELSE -1.0 END) AS pl
       |  FROM (SELECT unnest(range(8)) AS p)),
       |sig AS (
       |  SELECT e.vec_id, e.embedding,
       |    sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(pl.pl AS DOUBLE[])) > 0
       |             THEN (1 << pl.p) ELSE 0 END) AS bucket
       |  FROM embeddings e CROSS JOIN planes pl
       |  GROUP BY e.vec_id, e.embedding),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
       |      FROM sig WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    floor((${cosineSql("q.qe", "c.embedding")}) * 10000 + 0.5)
       |      / 10000 AS cosine
       |  FROM q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
       |SELECT query_id, rk, neighbor_id, cosine FROM ranked WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.functions.typedLit
    // dim probe: one-row scan so the plane literals match the data
    val dim = Tables.embeddings(s, d)
      .select(size(col("embedding"))).head().getInt(0)
    // ±1 hyperplanes from md5(p|i) first-nibble parity — bit-identical to
    // the oracle's derivation above
    val md = java.security.MessageDigest.getInstance("MD5")
    def parity(p: Int, i: Int): Int = {
      val h = md.digest(s"$p|$i".getBytes("UTF-8"))
      ((h(0) >> 4) & 0xf) & 1
    }
    val planes: IndexedSeq[Array[Float]] = (0 until 8).map(p =>
      Array.tabulate(dim)(i => if (parity(p, i) == 1) 1f else -1f))
    val bucket = (0 until 8).map(p =>
      when(VectorOps.dot(col("embedding"), typedLit(planes(p))) > 0,
        lit(1 << p)).otherwise(lit(0))).reduce(_ + _)
    val sig = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding"),
        bucket.cast("long").as("bucket"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val q = broadcast(sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bucket")))
    val scored = q.join(
        sig.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ce"), col("nrm").as("cn"), col("bucket")),
        Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("ce")),
          col("qn"), col("cn"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("query_id", "rk", "neighbor_id", "cosine")
      .orderBy("query_id", "rk")
  }

  /** Norm/dimension profile of the embedding corpus — the CHECKTABLE of a
    * vector column (dim uniformity + norm stats + NaN probe). */
  val sim03EmbeddingProfile: Q = Q(
    "sim03_embedding_profile",
    """SELECT len(embedding) AS dim, count(*) AS n,
      |  floor(min(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))
      |    * 10000 + 0.5) / 10000 AS min_norm,
      |  floor(max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))
      |    * 10000 + 0.5) / 10000 AS max_norm
      |FROM embeddings GROUP BY 1 ORDER BY dim""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    e.withColumn("nrm", VectorOps.norm(col("embedding")))
      .groupBy(size(col("embedding")).as("dim"))
      .agg(count(lit(1)).as("n"),
        StableRound.r4(min("nrm")).as("min_norm"),
        StableRound.r4(max("nrm")).as("max_norm"))
      .orderBy("dim")
  }

  /** ANN quality eval: recall@3 of the IVF index (sim02) against the exact
    * brute-force top-3 (sim01 truncated to k=3), per query — the metric
    * that decides whether an index's nprobe/cluster settings are usable
    * before pointing it at the full corpus. Composes the two existing
    * pipelines and joins on (query, neighbor): the join inputs are k·|q|
    * rows, so eval cost is the cost of the two searches themselves.
    * Float-safe: membership compare on ids only, no score arithmetic. */
  val sim05RecallAt3: Q = {
    val exactTop3 =
      sim01BruteForceTopK.oracle.get.replace("rk <= 5", "rk <= 3")
    // Text surgery over reused oracle SQL must fail LOUDLY if the source
    // drifts: a no-op replace would silently leave a k=5 exact set under
    // a k=3 Spark side and surface as a baffling recall mismatch.
    require(exactTop3 != sim01BruteForceTopK.oracle.get,
      "sim01 oracle no longer contains 'rk <= 5' — fix sim05's rewrite")
    // strip the trailing presentation ORDER BY of each reused query so it
    // can nest as a subquery (DuckDB allows it, but it's dead weight)
    def core(sql: String) = {
      val cut = sql.lastIndexOf("ORDER BY")
      require(cut >= 0, "reused oracle lost its trailing ORDER BY")
      sql.substring(0, cut)
    }
    Q(
      "sim05_recall_at_3",
      s"""WITH exact3 AS (SELECT query_id, neighbor_id FROM (${core(exactTop3)})),
         |ivf3 AS (SELECT query_id, neighbor_id FROM (${core(sim02IvfTopK.oracle.get)}))
         |SELECT e.query_id, count(i.neighbor_id) AS n_hits,
         |  floor(count(i.neighbor_id) / 3.0 * 10000 + 0.5) / 10000
         |    AS recall_at_3
         |FROM exact3 e LEFT JOIN ivf3 i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, d) =>
      val exact = sim01BruteForceTopK.run(s, d)
        .filter(col("rk") <= 3).select("query_id", "neighbor_id")
      val approx = sim02IvfTopK.run(s, d)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count("hit").as("n_hits"),
          StableRound.r4(count("hit") / 3.0).as("recall_at_3"))
        .orderBy("query_id")
    }
  }

  /** Int8 scalar-quantized ANN (the memory-bandwidth scale path: a 64-dim
    * float vector is 256 bytes, its int8 codes are 64 — a 4× smaller
    * corpus to scan, the standard faiss `SQ8` trade): quantize every
    * embedding once with the FIXED affine code `clamp(floor(x·64 + 0.5),
    * -127, 127)`, then rank by the integer dot product of the codes.
    *
    * Everything after quantization is EXACT integer arithmetic — no float
    * rounding anywhere in the ranking — so unlike sim01/sim02/sim04 the
    * scores need no StableRound and the oracle matches bit-for-bit by
    * construction. The codes live in a float[] so the ranking reuses the
    * codegen'd [[graft.functions.FloatDot]] kernel: every code is an
    * integer ≤127 and every dot ≤ 64·127² ≈ 1.03e6, exactly representable
    * in float/double, so the double accumulator IS integer math.
    *
    * Scale shape: quantization is one embarrassingly-parallel projection
    * (at real scale: write the codes column once, scan it instead of the
    * floats); search is sim01's broadcast-probe cross join over the 4×
    * denser corpus. */
  /** The ONE spelling of the int8 affine code `clamp(floor(x·64 + 0.5),
    * ±127)` — engine-portable SQL shared by sim06 (both sides), the
    * k-means CTE and the probe frame, so a scale tweak cannot drift one
    * copy from the others and silently break the integer-exactness
    * contract. Call sites add their own outer CAST (BIGINT for integer
    * arithmetic, FLOAT to feed the FloatDot kernel). */
  private def quantCode(x: String): String =
    s"greatest(-127, least(127, floor(CAST($x AS DOUBLE) * 64.0 + 0.5)))"

  val sim06QuantizedTopK: Q = Q(
    "sim06_quantized_topk",
    s"""WITH c AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(${quantCode("x")} AS BIGINT)) AS cd
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, cd AS qcd FROM c WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(len(q.qcd)),
      |      i -> q.qcd[i + 1] * c.cd[i + 1])) AS BIGINT) AS qscore
      |  FROM q JOIN c ON q.query_id <> c.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY qscore DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, rk, neighbor_id, qscore FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
    // floor(double) is BIGINT in Spark (DOUBLE in DuckDB) — numerically
    // identical here; both sides clamp then hold the code as an exact
    // small integer.
    val codes = graft.functions.Quantize.toFloatsCol(col("embedding"))
    val c = Tables.spread(s, Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), codes.as("cd"))
    val q = broadcast(c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("cd").as("qcd")))
    val scored = q.crossJoin(c.withColumnRenamed("vec_id", "neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore",
        VectorOps.dot(col("qcd"), col("cd")).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qscore").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "rk", "neighbor_id", "qscore")
      .orderBy("query_id", "rk")
  }

  /** Corpus clustering by k-means over QUANTIZED embeddings (k = 8, three
    * Lloyd iterations) — the curation primitive behind cluster-balanced
    * sampling and semantic dedup of training corpora. Everything after
    * sim06's int8 quantization is EXACT integer arithmetic: squared-L2
    * distances are integer sums, the argmin breaks ties by cluster id
    * (a total order), and the centroid update is round-half-up of the
    * integer mean via one double division of exactly-representable
    * integers — so the whole iterative algorithm is bit-reproducible and
    * the oracle runs the SAME three unrolled iterations in SQL.
    *
    * Scale shape: the per-iteration work is one equi-join of the
    * dim-exploded codes (n·dims rows, checkpointed once) against a
    * k·dims centroid relation — n·dims·k comparison rows that reduce
    * map-side into per-(vec, cluster) distance sums, then one window
    * argmin and one groupBy centroid update, all on the same exchange
    * keys. The 3-iteration chain stays LAZY — no per-round action, so
    * the whole Lloyd recursion compiles into ONE job over the one
    * checkpointed code relation (unlike dd06's convergence loop, which
    * must count per round). Init = the k lowest vec_ids
    * (deterministic; k-means++ would add data-dependent randomness the
    * oracle could not replay). */
  /** The k-means CTE chain (DuckDB dialect), exposing `a3(vec_id,
    * cluster)` — shared by the sim07 oracle, the cluster-balanced
    * sampling oracle (pipe12) and the semantic-dedup oracle (dd09).
    * `kmeansCteOver` parameterizes the vector source so the incremental
    * tier (sim14) can train on a RESIDENT subset; the chain also exposes
    * `c2`, the final centroid relation the last assignment ranks
    * against — the frozen index sim14 assigns arrivals into. */
  private[pipeline] def kmeansCteOver(src: String): String = {
    // round i ranks against round i-1's centroids; the LAST round needs
    // only the distance frame + assignment (a centroid update after the
    // final assignment would be dead weight in both engines)
    val iter = (i: Int) => {
      val prev = s"c${i - 1}"
      val rank =
        s"""d$i AS (
           |  SELECT q.vec_id, c.cluster,
           |    sum((q.q - c.c) * (q.q - c.c)) AS dist2
           |  FROM q JOIN $prev c ON q.d = c.d GROUP BY 1, 2),
           |a$i AS (
           |  SELECT vec_id, cluster FROM (
           |    SELECT vec_id, cluster, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
           |    FROM d$i) WHERE rk = 1)""".stripMargin
      if (i >= 3) rank else rank +
        s""",
           |c$i AS (
           |  SELECT a.cluster, q.d,
           |    CAST(floor(CAST(sum(q.q) AS DOUBLE) / count(*) + 0.5)
           |      AS BIGINT) AS c
           |  FROM q JOIN a$i a USING (vec_id) GROUP BY 1, 2)""".stripMargin
    }
    s"""q AS (
       |  SELECT vec_id, d,
       |    CAST(${quantCode("embedding[d + 1]")} AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(len(embedding))) AS d FROM $src)),
       |init AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
       |  FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT 8)),
       |c0 AS (SELECT i.cluster, q.d, q.q AS c
       |       FROM q JOIN init i USING (vec_id)),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  private[pipeline] val kmeansCte: String = kmeansCteOver("embeddings")

  /** The k-means PROBE frame (vec_id, rk, cluster) after 3 iterations:
    * each vector's `nprobe` nearest final centroids ranked by (dist2,
    * cluster). rk=1 is the assignment proper (sim07/pipe12); rk≤2 is the
    * multi-probe blocking dd09 uses to recover boundary-straddling
    * near-dup pairs — the IVF nprobe trade applied to dedup. */
  /** Quantized code VECTORS, one array row per vector — the shared input
    * of both Lloyd trainers. Kept as arrays (never dim-exploded corpus-
    * wide): distance work happens in-row inside codegen. */
  private[pipeline] def quantVecs(s: SparkSession, d: String): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.Quantize.toLongsCol(col("embedding"))
          .as("qv"))
      .repartition(n, col("vec_id"))
      .materialized
  }

  /** Per-row (dist2, cluster) structs against a LITERAL centroid table —
    * integer-exact squared L2, all inside whole-stage codegen: no join, no
    * shuffle, no window. Lexicographic struct order makes array_min /
    * array_sort reproduce the oracle's ORDER BY dist2, cluster tiebreak.
    * The distance loop is the [[graft.functions.CodeDists]] kernel (the
    * HOF aggregate/zip_with spelling ran interpreted per element —
    * k·dims lambda evals per row per Lloyd pass). */
  private def distStructs(qv: Column,
      centroids: Seq[(Int, Array[Long])]): Column =
    graft.functions.CodeDists.l2Col(qv, centroids)

  private[pipeline] def kmeansProbes(s: SparkSession, d: String,
      nprobe: Int): DataFrame =
    kmeansProbesFrom(quantVecs(s, d), nprobe)

  /** Same, over an already-materialized code relation — lets a composite
    * consumer (sim09: coarse + PQ tiers) train both codebooks off ONE
    * checkpoint instead of two.
    *
    * `k` defaults to the oracle's literal 8 (the DuckDB CTE unrolls the
    * Lloyd recurrence per centroid, so the GATE runs at fixed k); the
    * production guidance is k ∝ corpus size so CELLS stay bounded — the
    * sf1 measurement quantifies why: with k fixed, in-cell pair work in
    * dd09/pipe13 grows quadratically per cell (dd09 1.5 s at sf0.1 →
    * 14 s at sf1), while re-training with k=64 at sf1 restores the
    * linear-ish profile (see SCALE.md). Everything downstream of the
    * probe frame is k-agnostic. */
  /** Scale-aware centroid count: k ∝ corpus size so the EXPECTED CELL
    * POPULATION stays ~`targetCellSize` and the in-cell quadratic pair
    * work downstream (dd09/pipe13) stays bounded — the round-8 sf1
    * measurement is the justification: fixed k=8 at 10× data put the
    * dd09 pair stage at 15.3 s (cells grow with the corpus, pair work
    * quadratically), while k ∝ corpus restored a linear-ish profile.
    * The floor 8 is the oracle's literal, so at the driver fixtures
    * (≤6.4k vectors) auto-k and the pinned oracle k coincide. 800 was
    * CHOSEN ON THE MEASURED PARETO (SCALE.md auto-k sweep at sf1, 20k
    * vectors): cell 800 → k=25, pair stage 7.3 s, sampled exact recall
    * 0.796; cell 300 → k=67, 6.5 s but recall collapsing to 0.571 —
    * 0.8 s of wall does not buy a 22-point recall loss, and both sit
    * far from fixed-8's 15.3 s quadratic profile. */
  private[graft] def autoK(nVecs: Long, targetCellSize: Long = 800L): Int =
    // cap at 2^24 centroids: beyond that the literal-codebook Lloyd pass
    // (k·dims driver longs, k distances per row) needs a hierarchical
    // index anyway, and an uncapped ceil would overflow Int past ~1.7e13
    // vectors — a silent negative k, not a big k
    math.min(1L << 24,
      math.max(8L, (nVecs + targetCellSize - 1L) / targetCellSize)).toInt

  /** The trained centroid table after two Lloyd updates — the FROZEN
    * index the final assignment pass (and sim14's arrival ingest) ranks
    * against; twin of `kmeansCteOver`'s `c2`. Extracted so the
    * incremental tier can train on the resident corpus and reuse the
    * literal centroids for arrival batches without retraining. */
  private[pipeline] def lloydCentroids(vecs: DataFrame,
      k: Int = 8): Seq[(Int, Array[Long])] = {
    // init: the k smallest vec_ids' code vectors, cluster = rank — the
    // oracle's pqinit/init shape, collected once (k rows)
    var centroids: Seq[(Int, Array[Long])] =
      vecs.orderBy("vec_id").limit(k).collect().toSeq.zipWithIndex.map {
        case (r, i) => i -> r.getSeq[Long](1).toArray
      }
    // Lloyd iterations, MLlib-style: assignment is a pure projection over
    // the literal centroids (zero shuffles, codegen'd CodeDists kernel);
    // the update folds each partition's (sum per dim, count) per cluster
    // in ONE shuffle-free job and combines the ≤ |partitions| bounded
    // maps on the driver — the treeAggregate shape MLlib's k-means
    // ships. Round-18 job audit: the previous groupBy(cluster, d)
    // spelling posexploded every code vector (dims× the rows), paid a
    // shuffle, and under AQE cost TWO scheduled jobs per iteration; the
    // fold is one job and moves the same ≤ k·(dims+1) longs per
    // partition. Integer sums are associative/commutative, so the
    // result is bit-identical under any partitioning. Two updates +
    // final ranking = 3 assignment passes, matching the oracle's
    // unrolled 3-iteration CTE chain exactly (integer arithmetic, same
    // floor(sum/count + 0.5) update, same (dist2, cluster) tiebreak).
    for (_ <- 1 to 2) {
      val sums = clusterSums(vecs.select(
        array_min(distStructs(col("qv"), centroids))
          .getField("cluster").as("cluster"), col("qv")))
      // a cluster that lost every member drops out — same as the oracle,
      // where it simply has no centroid rows next iteration
      centroids = sums.toSeq.sortBy(_._1).map { case (cl, (sm, n)) =>
        cl -> sm.map(s => math.floor(s.toDouble / n + 0.5).toLong)
      }
    }
    centroids
  }

  /** One-job per-cluster (dim-wise sum, count) fold over an assigned
    * (cluster, qv) frame: partition-local accumulation, driver combine —
    * zero shuffles, zero row explosion. Shared by both Lloyd trainers. */
  private def clusterSums(assigned: DataFrame)
      : Map[Int, (Array[Long], Long)] = {
    val parts = assigned.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[Int, (Array[Long], Array[Long])] // (dim sums, count box)
      it.foreach { r =>
        val c = r.getInt(0)
        val qv = r.getSeq[Long](1)
        val e = acc.getOrElseUpdate(c,
          (new Array[Long](qv.length), new Array[Long](1)))
        var i = 0
        while (i < qv.length) { e._1(i) += qv(i); i += 1 }
        e._2(0) += 1L
      }
      Iterator.single(acc.iterator
        .map { case (c, (sm, n)) => (c, sm, n(0)) }.toArray)
    }.collect()
    val merged = scala.collection.mutable.HashMap
      .empty[Int, (Array[Long], Array[Long])]
    parts.foreach(_.foreach { case (c, sm, n) =>
      val e = merged.getOrElseUpdate(c,
        (new Array[Long](sm.length), new Array[Long](1)))
      var i = 0
      while (i < sm.length) { e._1(i) += sm(i); i += 1 }
      e._2(0) += n
    })
    merged.iterator.map { case (c, (sm, n)) => c -> ((sm, n(0))) }.toMap
  }

  /** [[clusterSums]] keyed by (sub, cluster) — the PQ trainer's fold. */
  private def subClusterSums(assigned: DataFrame)
      : Map[(Int, Int), (Array[Long], Long)] = {
    val parts = assigned.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(Int, Int), (Array[Long], Array[Long])]
      it.foreach { r =>
        val key = (r.getInt(0), r.getInt(1))
        val sv = r.getSeq[Long](2)
        val e = acc.getOrElseUpdate(key,
          (new Array[Long](sv.length), new Array[Long](1)))
        var i = 0
        while (i < sv.length) { e._1(i) += sv(i); i += 1 }
        e._2(0) += 1L
      }
      Iterator.single(acc.iterator
        .map { case (k, (sm, n)) => (k, sm, n(0)) }.toArray)
    }.collect()
    val merged = scala.collection.mutable.HashMap
      .empty[(Int, Int), (Array[Long], Array[Long])]
    parts.foreach(_.foreach { case (k, sm, n) =>
      val e = merged.getOrElseUpdate(k,
        (new Array[Long](sm.length), new Array[Long](1)))
      var i = 0
      while (i < sm.length) { e._1(i) += sm(i); i += 1 }
      e._2(0) += n
    })
    merged.iterator.map { case (k, (sm, n)) => k -> ((sm, n(0))) }.toMap
  }

  private[graft] def kmeansProbesFrom(vecs: DataFrame,
      nprobe: Int, k: Int = 8): DataFrame = {
    val centroids = lloydCentroids(vecs, k)
    // final pass: nprobe nearest centroids per vector, ranked in-row
    vecs.select(col("vec_id"),
        posexplode(slice(array_sort(distStructs(col("qv"), centroids)),
          1, nprobe)).as(Seq("pos", "p")))
      .select(col("vec_id"), (col("pos") + 1).as("rk"),
        col("p.cluster").as("cluster"))
  }

  /** Top-2 probe clusters per vector computed IN-ROW — (vec_id, c1, c2)
    * with no explode and no pivot shuffle. The round-17 dd09 job audit
    * found the (vec_id, cluster, rk) posexplode + groupBy(vec_id) pivot
    * re-aggregating — through a full exchange — exactly what the sorted
    * in-row distance array already held. c2 is null when fewer than two
    * centroids survive training (every caller trains k ≥ 8; the
    * when-guard keeps ANSI element_at from throwing on a degenerate
    * one-cluster corpus). Values are bit-identical to the pivot of
    * [[kmeansProbesFrom]](vecs, 2, k): same sorted array, same
    * (dist2, cluster) tiebreak. */
  private[graft] def kmeansTop2From(vecs: DataFrame,
      k: Int = 8): DataFrame = {
    val centroids = lloydCentroids(vecs, k)
    val sorted = slice(array_sort(distStructs(col("qv"), centroids)), 1, 2)
    vecs.select(col("vec_id"),
      element_at(sorted, 1).getField("cluster").as("c1"),
      when(size(sorted) >= 2, element_at(sorted, 2).getField("cluster"))
        .as("c2"))
  }

  /** The k-means assignment frame (vec_id, cluster) after 3 iterations —
    * the Spark twin of `kmeansCte`'s `a3`, shared by sim07, pipe12 and
    * the semantic-dedup blocker (dd09). */
  private[pipeline] def kmeansAssign(s: SparkSession, d: String): DataFrame =
    kmeansProbes(s, d, 1).select("vec_id", "cluster")

  val sim07KmeansClusters: Q = Q(
    "sim07_kmeans_clusters",
    s"""WITH $kmeansCte
       |SELECT cluster, count(*) AS n_members, min(vec_id) AS exemplar
       |FROM a3 GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
    kmeansAssign(s, d).groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), min("vec_id").as("exemplar"))
      .orderBy("cluster")
  }

  /** Cluster-BALANCED curation sample: up to 20 vectors per k-means
    * cluster, picked by md5(vec_id) rank — a deterministic "random" draw
    * both engines replay. This is the downstream half of sim07's
    * curation story: a corpus whose clusters are sampled evenly instead
    * of dominated by the biggest semantic blob. Per-cluster rank is one
    * window on the assignment frame (k·20 rows out); at 100 TB the
    * sample is the only thing that leaves the cluster. */
  val pipe12ClusterSample: Q = Q(
    "pipe12_cluster_sample",
    s"""WITH $kmeansCte
       |SELECT cluster, vec_id FROM (
       |  SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM a3) WHERE rk <= 20
       |ORDER BY cluster, vec_id""".stripMargin) { (s, d) =>
    kmeansAssign(s, d)
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster")
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
      .filter(col("rk") <= 20)
      .select("cluster", "vec_id")
      .orderBy("cluster", "vec_id")
  }

  /** The PQ codebook-training CTE chain (DuckDB dialect): m=8 subspaces ×
    * k=16 Lloyd codebooks over the int8 codes, 3 unrolled iterations —
    * exposes `pq` (dim-exploded codes), `pa3` (the per-(vec, sub) code
    * assignment) and `pd3` (the final per-(vec, sub, cluster) distance
    * frame, which doubles as the queries' exact ADC lookup table).
    * Shared by sim08 (flat PQ-ADC scan) and sim09 (IVF-PQ); every CTE
    * name is pq-prefixed so the chain composes with `kmeansCte` in a
    * single WITH clause without collisions. */
  private[pipeline] val pqCte: String = {
    val iter = (i: Int) => {
      val prev = s"pc${i - 1}"
      val rank =
        s"""pd$i AS (
           |  SELECT q.vec_id, q.sub, c.cluster,
           |    sum((q.q - c.c) * (q.q - c.c)) AS dist2
           |  FROM pq q JOIN $prev c ON q.sub = c.sub AND q.d = c.d
           |  GROUP BY 1, 2, 3),
           |pa$i AS (
           |  SELECT vec_id, sub, cluster FROM (
           |    SELECT vec_id, sub, cluster, row_number() OVER (
           |      PARTITION BY vec_id, sub ORDER BY dist2, cluster) AS rk
           |    FROM pd$i) WHERE rk = 1)""".stripMargin
      if (i >= 3) rank else rank +
        s""",
           |pc$i AS (
           |  SELECT a.sub, a.cluster, q.d,
           |    CAST(floor(CAST(sum(q.q) AS DOUBLE) / count(*) + 0.5)
           |      AS BIGINT) AS c
           |  FROM pq q JOIN pa$i a
           |    ON q.vec_id = a.vec_id AND q.sub = a.sub
           |  GROUP BY 1, 2, 3)""".stripMargin
    }
    s"""pq AS (
       |  SELECT vec_id, d // 8 AS sub, d,
       |    CAST(${quantCode("embedding[d + 1]")} AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(len(embedding))) AS d FROM embeddings)),
       |pqinit AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
       |  FROM (SELECT DISTINCT vec_id FROM pq ORDER BY vec_id LIMIT 16)),
       |pc0 AS (SELECT q.sub, i.cluster, q.d, q.q AS c
       |        FROM pq q JOIN pqinit i USING (vec_id)),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  /** PQ training, Spark side — the final-iteration state, one row per
    * (vec_id, sub), localCheckpoint'ed: `cluster` is the corpus code
    * (the per-(vec, sub) argmin, computed IN-ROW — round-18 job audit:
    * the old (vec_id, sub, cluster, dist2) distance frame carried k
    * rows per (vec, sub) through a checkpoint and re-derived the argmin
    * with a row_number window over the 16×-bigger frame, re-sorting
    * what the in-row struct min already knew), and `lut` is the full
    * per-cluster distance array — the queries' exact ADC lookup table —
    * kept ONLY for rows passing `queryPred` (null elsewhere, so the
    * checkpoint stays ~m rows per vector, not m·k). Values are
    * bit-identical to the oracle's pd3/pa3: same integer distances,
    * same (dist2, cluster) tiebreak. */
  private[pipeline] def pqCodesFrame(s: SparkSession, d: String,
      queryPred: Column): DataFrame =
    pqCodesFrameFrom(quantVecs(s, d), queryPred)

  /** Same, over an already-materialized code relation (see
    * [[kmeansProbesFrom]]). */
  private[pipeline] def pqCodesFrameFrom(vecs: DataFrame,
      queryPred: Column): DataFrame = {
    val m = 8
    val k = 16
    // init: the k smallest vec_ids' code vectors, sliced per subspace —
    // collected once (k rows); subDim falls out of the data
    val initRows = vecs.orderBy("vec_id").limit(k).collect()
    if (initRows.isEmpty)
      // empty corpus → empty codes frame (same shape), not a head-of-
      // empty crash at codebook seeding
      return vecs.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0).as("sub"),
          lit(0).as("cluster"), array()
            .cast("array<struct<dist2:bigint,cluster:int>>").as("lut"))
    val subDim = initRows.head.getSeq[Long](1).length / m
    // per-subspace codebooks: sub -> Seq[(cluster, centroid)]
    var centroids: Map[Int, Seq[(Int, Array[Long])]] =
      (0 until m).map { sb =>
        sb -> initRows.toSeq.zipWithIndex.map { case (r, i) =>
          i -> r.getSeq[Long](1).slice(sb * subDim, (sb + 1) * subDim)
            .toArray
        }
      }.toMap
    // (vec_id, sub, sv): the per-subspace code slices, derived in-row
    // from the one checkpointed array relation — never corpus-exploded
    def subRows = vecs.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qv"))
      .withColumn("sv",
        slice(col("qv"), col("sub") * subDim + 1, lit(subDim)))
    // distance structs against THIS sub's literal codebook — the same
    // CodeDists kernel, codebook picked per row by the sub column
    def dists(cent: Map[Int, Seq[(Int, Array[Long])]]): Column =
      graft.functions.CodeDists.l2SubCol(col("sv"), col("sub"),
        (0 until m).map(cent))
    // same MLlib-style recurrence as kmeansProbes, keyed by subspace:
    // assignment in-row over literal codebooks, update = the one-job
    // shuffle-free partition fold (see lloydCentroids — round-18: the
    // posexplode + groupBy(sub, cluster, dl) spelling cost a shuffle
    // and two AQE jobs per iteration for the same ≤ m·k·subDim longs)
    for (_ <- 1 to 2) {
      val sums = subClusterSums(subRows.select(col("sub"),
        array_min(dists(centroids)).getField("cluster").as("cluster"),
        col("sv")))
      centroids = sums.groupBy(_._1._1).map { case (sb, bySub) =>
        sb -> bySub.toSeq.map { case ((_, cl), (sm, n)) =>
          cl -> sm.map(s => math.floor(s.toDouble / n + 0.5).toLong)
        }.sortBy(_._1)
      }
    }
    // final state, one row per (vec, sub): the code = in-row argmin of
    // the distance structs (bit-equal to the oracle pa3's row_number
    // rk=1 — same (dist2, cluster) struct order), plus the full
    // distance array ONLY for query rows (the oracle lut's pd3 slice).
    // Consumed at least twice (corpus codes + the query LUT) —
    // materialize once; the checkpoint is ~m rows per vector instead of
    // the old m·k distance rows, and no window re-sorts it afterwards.
    subRows.select(col("vec_id"), col("sub"), dists(centroids).as("ds"))
      .select(col("vec_id"), col("sub"),
        array_min(col("ds")).getField("cluster").as("cluster"),
        when(queryPred, col("ds")).as("lut"))
      .materialized
  }

  /** Product-quantization ANN (PQ-ADC): the codebook-compression tier
    * that completes the index family (sim02 IVF prunes the corpus, sim04
    * LSH buckets it, sim06 SQ8 shrinks scalars 4× — PQ shrinks VECTORS to
    * m codebook ids: 8 bytes here vs 256, a 32× smaller scan). Train: the
    * 64-dim code space splits into m=8 subspaces of 8 dims; each gets a
    * k=16 Lloyd codebook (3 iterations) over the int8 codes — the same
    * integer-exact recurrence as sim07, keyed by (sub, cluster), so the
    * whole train+encode+search pipeline is bit-reproducible and the
    * oracle replays it unrolled (`pqCte`/`pqCodesFrame`). Search:
    * asymmetric distance — the query's exact per-(sub, cluster) distance
    * table IS the final iteration's distance frame; broadcast the
    * ≤ |q|·m·k-row LUT against the m-codes-per-vector corpus, sum per
    * (query, neighbor).
    *
    * Scale shape: training joins ride (sub, d)/(vec_id, sub) keys over
    * the one checkpointed code relation; search is the PQ promise — a
    * broadcast LUT joined to a corpus of 8-byte code rows, one map-side-
    * combining sum per pair, top-k via window. Nothing driver-resident,
    * no float anywhere after quantization.
    *
    * Honesty note (dd10's discipline): recall@5 vs the exact L2 truth is
    * 0.24 at sf0.1 — the fixture's embeddings are near-random, PQ's
    * worst case (no subspace manifold to exploit; k=32/64 codebooks were
    * measured no better). The operator demonstrates the index shape; on
    * real embedding manifolds PQ recall is far higher, and the
    * sim05-style eval is how a deployment would gate it. */
  val sim08PqTopK: Q = Q(
      "sim08_pq_topk",
      s"""WITH $pqCte,
         |lut AS (SELECT vec_id AS query_id, sub, cluster, dist2
         |        FROM pd3 WHERE vec_id < 10),
         |scored AS (
         |  SELECT l.query_id, a.vec_id AS neighbor_id,
         |    CAST(sum(l.dist2) AS BIGINT) AS dist_est
         |  FROM lut l JOIN pa3 a ON l.sub = a.sub AND l.cluster = a.cluster
         |  WHERE a.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY dist_est, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, rk, neighbor_id, dist_est FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val cf = pqCodesFrame(s, d, col("vec_id") < 10)
      // corpus codes came out of the checkpoint pre-argmin'd (in-row) —
      // no window re-sort of a k×-bigger distance frame (round-18)
      val codes = cf
        .select(col("vec_id").as("neighbor_id"), col("sub"), col("cluster"))
      val lut = broadcast(cf.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("sub"),
          explode(col("lut")).as("p"))
        .select(col("query_id"), col("sub"), col("p.cluster").as("cluster"),
          col("p.dist2").as("dist2")))
      lut.join(codes, Seq("sub", "cluster"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum("dist2").as("dist_est"))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("dist_est"), col("neighbor_id"))))
        .filter(col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "dist_est")
        .orderBy("query_id", "rk")
    }

  /** IVF-PQ ANN — the composed index (the FAISS IVFPQ architecture, and
    * the one that actually runs at 100 TB): sim07's coarse k-means
    * restricts each query's candidates to its nprobe=2 nearest coarse
    * cells, and sim08's PQ-ADC ranks ONLY those candidates. sim08 alone
    * still streams every corpus code row past every query; here the ADC
    * scan shrinks by k/nprobe (4× at k=8 — in production k ~ √n and the
    * factor is thousands). Both trainers are the existing integer-exact
    * Lloyd chains, so the whole composite — coarse probes, candidate
    * lists, ADC sums — is bit-reproducible and the oracle replays it
    * from the same two CTE chains, composed in one WITH clause.
    *
    * Scale shape: ONE coarse Lloyd chain serves the corpus assignment
    * (rk=1) and the query probes (rk≤2) from the same checkpointed probe
    * frame; candidates form by an equi-join of the broadcast probe list
    * against the coarse assignment (never a pair enumeration); the ADC
    * join ships only probed-cell code rows, with the ≤|q|·m·k-row LUT
    * broadcast. Honesty note (dd10's discipline): recall@5 vs sim06's
    * exact quantized ranking is 0.22 at sf0.1 — the near-random fixture
    * embeddings are the worst case for BOTH tiers (PQ alone measures
    * 0.24; the coarse restriction costs 0.02 here); on real embedding
    * manifolds IVF-PQ is the standard billion-scale trade and a
    * deployment would gate nprobe/k with a sim05-style eval. */
  val sim09IvfPqTopK: Q = Q(
    "sim09_ivfpq_topk",
    s"""WITH $kmeansCte,
       |$pqCte,
       |probes AS (
       |  SELECT vec_id AS query_id, cluster FROM (
       |    SELECT vec_id, cluster, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
       |    FROM d3 WHERE vec_id < 10) WHERE rk <= 2),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN a3 a USING (cluster)
       |  WHERE a.vec_id <> p.query_id),
       |lut AS (SELECT vec_id AS query_id, sub, cluster, dist2
       |        FROM pd3 WHERE vec_id < 10),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(sum(l.dist2) AS BIGINT) AS dist_est
       |  FROM cand c
       |  JOIN pa3 a ON a.vec_id = c.neighbor_id
       |  JOIN lut l ON l.query_id = c.query_id
       |    AND l.sub = a.sub AND l.cluster = a.cluster
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist_est, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, rk, neighbor_id, dist_est FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
    // ONE quantized code checkpoint feeds BOTH trainers, and the two
    // trainers are independent until the search composes them — submit
    // their job chains from CONCURRENT threads (Spark schedules jobs
    // from multiple threads; neither iterative chain saturates the
    // cluster alone, so the per-iteration job floor is paid once, not
    // twice — the production pattern of parallel job groups). The coarse
    // chain: corpus assignment = rk 1, query probes = rk ≤ 2 of the
    // same frame.
    val vecs = quantVecs(s, d)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // the forked chains inherit the caller's job group (thread-local in
    // Spark): without this, `Dev.Gauge`/cancelJobGroup cannot see the two
    // trainers' jobs (round-16 sim09 audit)
    val grp = graft.ThreadGroups.captured(s.sparkContext)
    val fPr = Future(graft.ThreadGroups.withCaptured(s.sparkContext, grp)(
      kmeansProbesFrom(vecs, 2).materialized))
    val fD3 = Future(graft.ThreadGroups.withCaptured(s.sparkContext, grp)(
      pqCodesFrameFrom(vecs, col("vec_id") < 10)))
    val pr = Await.result(fPr, Duration.Inf)
    val probes = broadcast(pr.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("cluster")))
    val coarse = pr.filter(col("rk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cluster"))
    val cand = probes.join(coarse, "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val cf = Await.result(fD3, Duration.Inf)
    // corpus codes pre-argmin'd in-row at the checkpoint (round-18) —
    // the old row_number window re-sorted a k×-bigger distance frame
    val codes = cf
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("cluster"))
    val lut = broadcast(cf.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("sub"),
        explode(col("lut")).as("p"))
      .select(col("query_id"), col("sub"), col("p.cluster").as("cluster"),
        col("p.dist2").as("dist2")))
    codes.join(cand, "neighbor_id")
      .join(lut, Seq("query_id", "sub", "cluster"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("dist2").as("dist_est"))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("dist_est"), col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select("query_id", "rk", "neighbor_id", "dist_est")
      .orderBy("query_id", "rk")
  }

  /** Range (radius) search — the vector-DB operator complementing top-k:
    * ALL neighbors within a similarity radius, however many there are.
    * Top-k answers "the 5 closest"; range answers "everything at least
    * this similar" — the right primitive for near-dup sweeps ("collect
    * every candidate above 0.25") and for recall-controlled retrieval,
    * where the caller bounds quality, not cardinality.
    *
    * The radius gate compares the ROUNDED cosine on both engines (house
    * discipline: membership must never flip on a float ulp). This is the
    * exact tier — broadcast queries streamed against the corpus scan, one
    * pass, no shuffle of the corpus; the scale path restricts candidates
    * by IVF cell exactly as sim02/sim09 do (same join, threshold instead
    * of window), so it is not re-spelled here. */
  val sim10RangeSearch: Q = Q(
    "sim10_range_search",
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    floor((${cosineSql("q.embedding", "c.embedding")}) * 10000 + 0.5)
       |      / 10000 AS cosine
       |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, cosine FROM scored
       |WHERE cosine >= 0.25
       |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorOps.norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), VectorOps.norm(col("embedding")).as("cn"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("ce")),
          col("qn"), col("cn"))))
      .filter(col("cosine") >= 0.25)
      .select("query_id", "neighbor_id", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
  }

  /** MMR (maximal marginal relevance) diverse top-k: greedy re-rank of
    * each query's top-8 exact candidates picking 3 results that balance
    * relevance against redundancy — score = λ·rel − (1−λ)·max-sim-to-
    * already-picked, λ = 0.7 (Carbonell & Goldstein 1998). Plain top-k
    * returns three copies of the same near-duplicate answer; MMR is the
    * retrieval-diversity operator that doesn't.
    *
    * The greedy loop is UNROLLED relationally (k = 3 fixed): each round
    * is one join + one argmax window — no driver iteration, no UDF. All
    * ranking inputs are the ROUNDED cosines (house discipline), and the
    * blend 0.7·rel − 0.3·sim of two identically-rounded doubles is an
    * exactly-determined IEEE op on both engines, so selection can never
    * flip on a float ulp; remaining ties break by cand_id.
    *
    * Scale shape: after the candidate stage (sim01's broadcast-queries ×
    * streamed-corpus scan; at production scale any ANN tier — sim02/
    * sim09 — feeds the same contract), everything operates on 8 rows ×
    * |queries| and 56 pair rows × |queries| — per-query-tiny frames that
    * AQE broadcasts; the candidate frame is localCheckpoint'd because
    * four consumers (pairs, round 1/2/3) would otherwise re-run the
    * corpus scan. */
  val sim11MmrTopK: Q = Q(
    "sim11_mmr_topk",
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    c.embedding AS ce,
       |    floor((${cosineSql("q.embedding", "c.embedding")}) * 10000 + 0.5)
       |      / 10000 AS rel
       |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id),
       |cand AS (SELECT query_id, cand_id, ce, rel, rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand_id) AS rk FROM scored) WHERE rk <= 8),
       |pairs AS (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |    floor((${cosineSql("a.ce", "b.ce")}) * 10000 + 0.5) / 10000
       |      AS sim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
       |s1 AS (SELECT query_id, cand_id, rel FROM cand WHERE rk = 1),
       |m2 AS (SELECT c.query_id, c.cand_id, c.rel,
       |    0.7 * c.rel - 0.3 * p.sim AS score
       |  FROM cand c
       |  JOIN s1 ON s1.query_id = c.query_id AND c.cand_id <> s1.cand_id
       |  JOIN pairs p ON p.query_id = c.query_id AND p.ca = c.cand_id
       |    AND p.cb = s1.cand_id),
       |s2 AS (SELECT query_id, cand_id, rel FROM (
       |    SELECT query_id, cand_id, rel, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk
       |    FROM m2) WHERE rk = 1),
       |m3 AS (SELECT c.query_id, c.cand_id, c.rel,
       |    0.7 * c.rel - 0.3 * max(p.sim) AS score
       |  FROM cand c
       |  JOIN s1 ON s1.query_id = c.query_id
       |  JOIN s2 ON s2.query_id = c.query_id
       |  JOIN pairs p ON p.query_id = c.query_id AND p.ca = c.cand_id
       |    AND (p.cb = s1.cand_id OR p.cb = s2.cand_id)
       |  WHERE c.cand_id <> s1.cand_id AND c.cand_id <> s2.cand_id
       |  GROUP BY c.query_id, c.cand_id, c.rel),
       |s3 AS (SELECT query_id, cand_id, rel FROM (
       |    SELECT query_id, cand_id, rel, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk
       |    FROM m3) WHERE rk = 1)
       |SELECT query_id, 1 AS pick, cand_id AS neighbor_id, rel FROM s1
       |UNION ALL SELECT query_id, 2, cand_id, rel FROM s2
       |UNION ALL SELECT query_id, 3, cand_id, rel FROM s3
       |ORDER BY query_id, pick""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorOps.norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      VectorOps.norm(col("embedding")).as("cn"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("rel", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("ce")),
          col("qn"), col("cn"))))
    // Round-18 job audit (17 jobs → a handful): the greedy loop used to
    // be unrolled as a RELATIONAL chain — two localCheckpoints (the
    // 8-per-query candidate frame + its 56-per-query pair matrix), two
    // broadcast-join rounds and a final 3-way union, every stage keyed
    // by query_id over frames that are ≤8 rows per query BY
    // CONSTRUCTION. All of it folds into ONE in-row projection: the
    // top-8 window's exchange (hashpartitioning(query_id)) is the only
    // shuffle the algorithm fundamentally needs, the groupBy below
    // reuses it, and the 8×8 sim matrix + three greedy argmaxes run on
    // the collected per-query array (HOF transform/filter over ≤8
    // structs; FloatDot evaluates inside the lambda). Selection math is
    // UNCHANGED expression-for-expression: the same rounded cosines,
    // the same 0.7·rel − 0.3·sim blend of identically-rounded doubles,
    // and argmax = array_max over struct(score, −cand_id) — max score,
    // ties to the SMALLEST cand_id, exactly row_number's (score DESC,
    // cand_id) order. Per-pick sub-arrays shrink monotonically, so a
    // query with <3 candidates emits exactly the picks the old m2/m3
    // joins produced (array_max of an empty array is null → filtered).
    val cands = scored
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("cand_id"))))
      .filter(col("rk") <= 8)
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("rk"), col("cand_id"), col("ce"), col("cn"), col("rel"))))
        .as("cs"))
    def simTo(cd: Column, s: Column): Column = StableRound.r4(
      cosineFromNorms(VectorOps.dot(cd.getField("ce"), s.getField("ce")),
        cd.getField("cn"), s.getField("cn")))
    def argmax(arr: Column): Column = array_max(arr).getField("cd")
    val picked = cands
      .withColumn("s1", element_at(col("cs"), 1))
      .withColumn("rest2", expr("slice(cs, 2, size(cs) - 1)"))
      .withColumn("s2", argmax(transform(col("rest2"), cd =>
        struct((lit(0.7) * cd.getField("rel") -
          lit(0.3) * simTo(cd, col("s1"))).as("score"),
          (-cd.getField("cand_id")).as("neg"), cd.as("cd")))))
      .withColumn("s3", argmax(transform(
        filter(col("rest2"), cd =>
          cd.getField("cand_id") =!= col("s2").getField("cand_id")),
        cd => struct((lit(0.7) * cd.getField("rel") - lit(0.3) *
          greatest(simTo(cd, col("s1")), simTo(cd, col("s2")))).as("score"),
          (-cd.getField("cand_id")).as("neg"), cd.as("cd")))))
    picked
      .select(col("query_id"), explode(filter(array(
        struct(lit(1).as("pick"),
          col("s1").getField("cand_id").as("neighbor_id"),
          col("s1").getField("rel").as("rel")),
        struct(lit(2).as("pick"),
          col("s2").getField("cand_id").as("neighbor_id"),
          col("s2").getField("rel").as("rel")),
        struct(lit(3).as("pick"),
          col("s3").getField("cand_id").as("neighbor_id"),
          col("s3").getField("rel").as("rel"))),
        p => p.getField("neighbor_id").isNotNull)).as("p"))
      .select(col("query_id"), col("p.pick"), col("p.neighbor_id"),
        col("p.rel"))
      .orderBy("query_id", "pick")
  }

  /** kNN label classification: predict each query vector's label by
    * majority vote of its 5 nearest neighbors (exact cosine), reporting
    * the per-query verdict. The standard embedding-space sanity check —
    * labels that kNN cannot recover signal an embedding/label mismatch
    * before any training run spends on it. Vote ties break toward the
    * smaller label; ranking uses rounded cosines (house discipline).
    *
    * Scale shape: sim01's candidate pattern (queries broadcast, corpus
    * streamed through the codegen'd FloatDot once, WindowGroupLimit
    * prunes to top-5 per query before any full sort). Everything after —
    * the vote groupBy (query_id, labels) and the argmax window — keys on
    * supersets of query_id, so the whole post-scan pipeline rides ONE
    * exchange of 5·|queries| rows. */
  val sim12KnnClassify: Q = Q(
    "sim12_knn_classify",
    s"""WITH q AS (SELECT vec_id, embedding, label FROM embeddings
       |           WHERE vec_id < 50),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS true_label,
       |    c.label AS nlabel, c.vec_id AS neighbor_id,
       |    floor((${cosineSql("q.embedding", "c.embedding")}) * 10000 + 0.5)
       |      / 10000 AS cosine
       |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id),
       |top5 AS (SELECT query_id, true_label, nlabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
       |  WHERE rk <= 5),
       |votes AS (SELECT query_id, true_label, nlabel, count(*) AS v
       |          FROM top5 GROUP BY 1, 2, 3)
       |SELECT query_id, true_label, nlabel AS pred_label,
       |  true_label = nlabel AS correct
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY v DESC, nlabel) AS pr FROM votes) WHERE pr = 1
       |ORDER BY query_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qe"), VectorOps.norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("label").as("nlabel"), col("embedding").as("ce"),
      VectorOps.norm(col("embedding")).as("cn"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", StableRound.r4(
        cosineFromNorms(VectorOps.dot(col("qe"), col("ce")),
          col("qn"), col("cn"))))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .groupBy("query_id", "true_label", "nlabel")
      .agg(count(lit(1)).as("v"))
      .withColumn("pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("v").desc, col("nlabel"))))
      .filter(col("pr") === 1)
      .select(col("query_id"), col("true_label"),
        col("nlabel").as("pred_label"),
        (col("true_label") === col("nlabel")).as("correct"))
      .orderBy("query_id")
  }

  /** ANN INDEX-STALENESS monitor — the operational question every
    * vector index faces as data arrives: do the arriving vectors still
    * distribute over the index's cells the way the resident corpus the
    * index was built for does? Per cell: resident vs arriving occupancy
    * share (the arriving stream = the same deterministic md5 split the
    * incremental-dedup tier uses), the signed shift, and a flag at the
    * 5-point band — the cell-level analog of `check_drift`'s table
    * bands, and the retrain trigger for sim02/sim09's IVF tiers (a
    * drifted occupancy histogram means nprobe recall degrades because
    * centroids no longer tessellate the arriving distribution).
    *
    * Scale shape: rides the assignment frame (one codegen'd distance
    * projection, zero shuffles — the sim07 path) into ONE k-row
    * map-side-combined aggregation; totals broadcast back. Nothing
    * corpus-sized moves. */
  val sim13IndexDrift: Q = Q(
    "sim13_index_drift",
    s"""WITH $kmeansCte,
       |tag AS (SELECT a.vec_id, a.cluster,
       |    CASE WHEN ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))
       |      ::BIGINT % 5 = 0 THEN 1 ELSE 0 END AS is_new
       |  FROM a3 a),
       |per AS (SELECT cluster,
       |    CAST(SUM(1 - is_new) AS BIGINT) AS n_resident,
       |    CAST(SUM(is_new) AS BIGINT) AS n_arriving
       |  FROM tag GROUP BY cluster),
       |tot AS (SELECT CAST(SUM(n_resident) AS BIGINT) AS tr,
       |               CAST(SUM(n_arriving) AS BIGINT) AS ta FROM per)
       |SELECT p.cluster, p.n_resident, p.n_arriving,
       |  floor(CAST(p.n_resident AS DOUBLE) / t.tr * 10000 + 0.5) / 10000
       |    AS share_resident,
       |  floor(CAST(p.n_arriving AS DOUBLE) / nullif(t.ta, 0)
       |    * 10000 + 0.5) / 10000 AS share_arriving,
       |  floor((CAST(p.n_arriving AS DOUBLE) / nullif(t.ta, 0)
       |      - CAST(p.n_resident AS DOUBLE) / t.tr) * 10000 + 0.5) / 10000
       |    AS share_shift,
       |  abs(CAST(p.n_arriving AS DOUBLE) / nullif(t.ta, 0)
       |    - CAST(p.n_resident AS DOUBLE) / t.tr) > 0.05 AS flagged
       |FROM per p, tot t ORDER BY cluster""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    val isNew = pmod(
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(5)) === 0
    val per = kmeansAssign(s, d)
      .withColumn("is_new", when(isNew, 1L).otherwise(0L))
      .groupBy("cluster")
      .agg(sum(lit(1L) - col("is_new")).as("n_resident"),
        sum("is_new").as("n_arriving"))
    // the occupancy totals ride a window over the K-ROW aggregate
    // (constant partition key — the frame is k rows, bounded by autoK)
    // instead of the round-14 checkpoint + separate totals agg +
    // broadcast crossJoin: same k rows move once either way, three
    // fewer jobs of scheduling floor (round-15 job audit)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val shiftRaw = col("n_arriving").cast("double") /
      nullif(col("ta").cast("double"), lit(0.0)) -
      col("n_resident").cast("double") / col("tr")
    per
      .withColumn("tr", sum("n_resident").over(wAll))
      .withColumn("ta", sum("n_arriving").over(wAll))
      .select(col("cluster"), col("n_resident"), col("n_arriving"),
        StableRound.r4(col("n_resident").cast("double") / col("tr"))
          .as("share_resident"),
        StableRound.r4(col("n_arriving").cast("double") /
          nullif(col("ta").cast("double"), lit(0.0))).as("share_arriving"),
        StableRound.r4(shiftRaw).as("share_shift"),
        (abs(shiftRaw) > 0.05).as("flagged"))
      .orderBy("cluster")
  }

  /** Pure-projection assignment of code vectors against a LITERAL
    * centroid table — zero joins, zero shuffles, the (dist2, cluster)
    * argmin inside whole-stage codegen. The ingest primitive of the
    * incremental ANN tier (sim14 / [[IncrementalAnn.AnnIndexStore]]). */
  private[pipeline] def assignAgainst(vecs: DataFrame,
      centroids: Seq[(Int, Array[Long])]): DataFrame =
    vecs.select(col("vec_id"),
      array_min(distStructs(col("qv"), centroids))
        .getField("cluster").as("cluster"))

  /** The md5-derived arrival tag shared with sim13: ~20% of vectors are
    * "new" (deterministic, engine-replayable — both sides compute
    * hex(md5)[0:8] mod 5). */
  private[pipeline] def isNewVec: Column = pmod(
    conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(5)) === 0

  private val isNewVecSql =
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 5"

  /** INCREMENTAL ANN index maintenance — the similarity-tier twin of
    * dd16's arrival story. A 100 TB vector corpus is not indexed once:
    * batches arrive, and re-running Lloyd over the whole corpus because
    * 0.1% arrived re-shuffles everything for nothing. Instead the
    * centroids trained at bootstrap are FROZEN index metadata (k·dims
    * longs — they broadcast as a literal), and an arriving batch is
    * ingested by a pure zero-shuffle assignment projection against them:
    * work ∝ batch, the resident corpus is never re-read, and the index
    * stays immediately searchable (sim02's probe path is assignment-
    * source-agnostic). The cost of freezing is drift — arrivals from a
    * shifted distribution crowd into stale cells — and that is exactly
    * what sim13's occupancy monitor measures on the SAME arrival tag:
    * sim14 is the ingest action, sim13 is the retrain trigger.
    *
    * The gate pins the full contract: residents cluster under the
    * bootstrap-trained (resident-only) centroids — byte-equal to the
    * monolithic a3 over the resident subset — and every arrival lands in
    * its (dist2, cluster)-argmin cell of those same frozen centroids;
    * the merged per-cell occupancy (the frame sim13 would monitor) is
    * integer-exact on both engines. Persistence of the frozen index +
    * appended assignments is [[IncrementalAnn.AnnIndexStore]]
    * (centroids in `_graft_meta.json`, assignments parquet partitioned
    * by cluster cell), spec-pinned append ≡ rebuild. */
  val sim14IncrementalAnn: Q = Q(
    "sim14_incremental_ann",
    s"""WITH ${kmeansCteOver(
          s"(SELECT * FROM embeddings WHERE $isNewVecSql <> 0)")},
       |arr AS (
       |  SELECT vec_id, d,
       |    CAST(${quantCode("embedding[d + 1]")} AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(len(embedding))) AS d
       |        FROM embeddings WHERE $isNewVecSql = 0)),
       |darr AS (
       |  SELECT a.vec_id, c.cluster,
       |    sum((a.q - c.c) * (a.q - c.c)) AS dist2
       |  FROM arr a JOIN c2 c ON a.d = c.d GROUP BY 1, 2),
       |aarr AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
       |    FROM darr) WHERE rk = 1),
       |u AS (SELECT cluster, vec_id, 0 AS arrived FROM a3
       |      UNION ALL SELECT cluster, vec_id, 1 FROM aarr)
       |SELECT cluster,
       |  CAST(sum(1 - arrived) AS BIGINT) AS n_resident,
       |  CAST(sum(arrived) AS BIGINT) AS n_arrived,
       |  min(CASE WHEN arrived = 1 THEN vec_id END) AS first_arrival
       |FROM u GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
    val all = quantVecs(s, d)
    val resident = all.filter(!isNewVec)
    // bootstrap: train on residents only; the centroids are the frozen
    // index (driver-literal — the only state the ingest path needs)
    val centroids = lloydCentroids(resident)
    // ONE tagged assignment pass over the whole corpus: residents and
    // arrivals rank against the SAME frozen centroids, so the old
    // two-filtered-scans-plus-union spelling read the code relation
    // twice and paid a union for a distinction a single in-row tag
    // expresses (round-15 job audit) — the persisted store's ingest
    // stays a separate batch-only projection, unchanged
    all.select(col("vec_id"),
        array_min(distStructs(col("qv"), centroids))
          .getField("cluster").as("cluster"),
        when(isNewVec, 1L).otherwise(0L).as("arrived"))
      .groupBy("cluster")
      .agg(sum(lit(1L) - col("arrived")).as("n_resident"),
        sum("arrived").as("n_arrived"),
        min(when(col("arrived") === 1L, col("vec_id")))
          .as("first_arrival"))
      .orderBy("cluster")
  }

  /** Multi-probe IVF top-k with EXACT integer L2 ranking — the gated
    * twin of the persisted index's query path
    * ([[IncrementalAnn.AnnIndexStore.searchTopK]]): per query the
    * nprobe=2 nearest centroids (in-row against the literal table,
    * (dist2, cluster) tiebreak), candidates = the probed cells'
    * members via one cluster equi-join (never a pair enumeration),
    * ranked by integer squared-L2 on the codegen'd `l2_code_pair`
    * kernel with a (dist2, neighbor_id) tiebreak — bit-reproducible on
    * both engines, so the strict gate pins the search semantics and
    * `IncrementalAnnSpec` pins the store path EQUAL to this query over
    * the same corpus (the gate covers the store transitively).
    * Complements sim02 (cosine, single-probe, float ranking): this is
    * the integer-exact multi-probe tier the incremental store serves.
    *
    * Scale shape: probe selection is a zero-shuffle projection; the
    * candidate join's corpus side shrinks by nprobe/k (the IVF
    * economics — on the persisted store that restriction is PARTITION
    * pruning, spec-measured); ranking work is Σ|probed cells| per
    * query; the top-k window carries k·|queries| rows. */
  val sim15IvfL2TopK: Q = Q(
    "sim15_ivf_l2_topk",
    s"""WITH $kmeansCte,
       |probe AS (
       |  SELECT q.vec_id AS query_id, c.cluster,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY sum((q.q - c.c) * (q.q - c.c)), c.cluster) AS pk
       |  FROM q JOIN c2 c ON q.d = c.d
       |  WHERE q.vec_id < 10
       |  GROUP BY q.vec_id, c.cluster),
       |pl AS (SELECT query_id, cluster FROM probe WHERE pk <= 2),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM pl p JOIN a3 a USING (cluster)
       |  WHERE a.vec_id <> p.query_id),
       |dist AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    sum((qq.q - qn.q) * (qq.q - qn.q)) AS dist2
       |  FROM cand c
       |  JOIN q qq ON qq.vec_id = c.query_id
       |  JOIN q qn ON qn.vec_id = c.neighbor_id AND qn.d = qq.d
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist2, neighbor_id) AS rk FROM dist)
       |SELECT query_id, rk, neighbor_id, CAST(dist2 AS BIGINT) AS dist2
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) {
    (s, d) =>
      val codes = quantVecs(s, d)
      val cents = lloydCentroids(codes)
      val corpus = codes.select(col("vec_id").as("neighbor_id"),
        col("qv"),
        array_min(graft.functions.CodeDists.l2Col(col("qv"), cents))
          .getField("cluster").as("cluster"))
      val probes = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
          posexplode(slice(array_sort(
            graft.functions.CodeDists.l2Col(col("qv"), cents)),
            1, 2)).as(Seq("pos", "p")))
        .select(col("query_id"), col("qqv"),
          col("p.cluster").as("cluster"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("dist2"), col("neighbor_id"))
      probes.join(corpus, Seq("cluster"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("dist2",
          graft.functions.CodeDists.l2PairCol(col("qqv"), col("qv")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          col("dist2"))
        .orderBy("query_id", "rk")
  }

  val queries: Seq[Q] = Seq(sim01BruteForceTopK, sim02IvfTopK,
    sim03EmbeddingProfile, sim04LshTopK, sim05RecallAt3, sim06QuantizedTopK,
    sim07KmeansClusters, sim08PqTopK, sim09IvfPqTopK, pipe12ClusterSample,
    sim10RangeSearch, sim11MmrTopK, sim12KnnClassify, sim13IndexDrift,
    sim14IncrementalAnn, sim15IvfL2TopK)
}
