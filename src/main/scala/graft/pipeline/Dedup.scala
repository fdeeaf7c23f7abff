package graft.pipeline

import graft.tables.Checkpoints.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.tables.Tables

/** Deduplication operators for training-data pipelines (north-star surface;
  * absent from the reference — SURVEY.md §2.10/§2.12 reserves
  * documents/embeddings for exactly this).
  *
  * Every variant is formulated RELATIONALLY (explode → shuffle-join on the
  * token/signature key) rather than with per-row list UDFs: that is the
  * shape that scales — the join key partitions the work, Catalyst handles
  * skew via AQE, and no driver-side state exists. Hashing is md5 (bitwise
  * identical in Spark and DuckDB) so every operator stays oracle-checkable.
  *
  * Scale narrative per operator:
  *  - exact:    one shuffle on the 128-bit content hash. At 100 TB this is
  *              the cheapest possible dedup (combine-heavy groupBy).
  *  - jaccard:  shingle-join is quadratic in docs-per-shingle — usable for
  *              verification of candidate pairs, not all-pairs at scale.
  *  - minhash:  the scale path — O(docs × shingles) signature pass, then a
  *              groupBy on (band, bandkey): only docs agreeing on a whole
  *              band collide, so the candidate join is tiny.
  *  - simhash:  fixed-width signature via one explode + two groupBys;
  *              near-dup candidates compared by hamming distance inside
  *              signature buckets.
  */
object Dedup {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  private val tokensSql =
    """SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |FROM documents""".stripMargin

  /** Exact dedup: hash-groupBy on content hash (keep lowest doc_id). */
  val dd01ExactDedup: Q = Q(
    "dd01_exact_dedup",
    """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("fingerprint")
  }

  /** Word-bigram Jaccard near-dup pairs: |A∩B| via shingle self-join,
    * |A∪B| = |A|+|B|-|A∩B|. Threshold 0.5, deterministic rounding. */
  val dd02NgramJaccard: Q = Q(
    "dd02_ngram_jaccard",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS shingle
      |       FROM toks),
      |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b,
      |  floor(CAST(p.shared AS DOUBLE) / (na.n_sh + nb.n_sh - p.shared)
      |    * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs p
      |  JOIN n na ON na.doc_id = p.doc_a
      |  JOIN n nb ON nb.doc_id = p.doc_b
      |WHERE CAST(p.shared AS DOUBLE) / (na.n_sh + nb.n_sh - p.shared) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    ngramJaccardPairs(s, d)
  }

  /** The dd02 body, with the broadcast-tier admission guard exposed for
    * tests. Exact all-pairs Jaccard is inherently quadratic (a naive join
    * on shingle emits Σ df² rows — 73M at sf0.1 — because this corpus has
    * a tiny, uniform shingle vocabulary where prefix/frequency filtering
    * cannot prune). So do the quadratic work at memory-bandwidth speed
    * instead of through a shuffle: encode each doc's shingle set as a
    * fixed-width BITMAP over the global shingle dictionary, then a
    * broadcast nested-loop self-join computes |A∩B| with bit_count on
    * longs — zero shuffle on the pair space, fully codegen'd.
    *
    * TIER CONTRACT, enforced not assumed: the packed bitmaps live on the
    * driver and every executor, the same memory contract as any broadcast
    * hash-join side — so a size probe (counted BEFORE anything is
    * collected) refuses the tier loudly once nDocs × bitmapWidth exceeds
    * `maxBroadcastBytes`, naming the scale path: dd03/dd07 for candidate
    * generation plus [[jaccardVerify]] for exact confirmation, which
    * compute the same Jaccard without any driver-resident state. The
    * discipline mirrors pipe04's guarded eval-side broadcast. */
  private[graft] def ngramJaccardPairs(s: SparkSession, d: String,
      maxBroadcastBytes: Long = 1L << 30): DataFrame = {
    val t = 0.5
    // spread: the shingle explode below feeds both the dictionary and the
    // per-doc set assembly; off a single-row-group scan it would run
    // serial (see Tables.spread). localCheckpoint: consumed by the size
    // probe, the dictionary AND the set assembly — one corpus pass total.
    // No corpus-wide distinct(): the kernel's per-doc DISTINCT array makes
    // (doc_id, shingle) rows globally unique already, and skipping the
    // dedup exchange keeps spread's hashpartitioning(doc_id) alive for the
    // set-assembly groupBy below — two exchanges gone from the hot path.
    val sh = Tables.spread(s, docs(s, d), "doc_id")
      .select(col("doc_id"),
        explode(graft.functions.Shingles.distinctBigramsCol(col("text")))
          .as("shingle"))
      .materialized
    // Admission probe: ONE count-only action, BEFORE any collect — the
    // per-BUCKET distinct-shingle counts (whose sum is the vocabulary
    // size, and which become the dictionary offsets below) unioned with
    // the distinct doc count (sentinel bucket −1), so both probes ride
    // a single job over the checkpointed shingle frame.
    val P = 64
    val bCol = pmod(xxhash64(col("shingle")), lit(P)).cast("int")
    val probeRows = sh.select(col("shingle")).distinct()
      .groupBy(bCol.as("b")).agg(count(lit(1)).as("c"))
      .unionByName(sh.agg(countDistinct("doc_id").as("c"))
        .select(lit(-1).as("b"), col("c")))
      .collect()
    val bucketCounts = probeRows.filter(_.getInt(0) >= 0)
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val vocabSize = bucketCounts.map(_._2).sum
    val nDocs = probeRows.find(_.getInt(0) < 0)
      .map(_.getLong(1)).getOrElse(0L)
    val estBytes = nDocs * ((vocabSize / 64 + 1) * 8 + 48)
    if (estBytes > maxBroadcastBytes) throw new IllegalStateException(
      s"dd02 is the exact small/medium-N tier: $nDocs docs x " +
        s"${vocabSize / 64 + 1}-word bitmaps = ~$estBytes bytes exceeds " +
        s"the $maxBroadcastBytes-byte broadcast budget. At this scale " +
        "generate candidates with dd03 (MinHash+LSH) or dd07 (winnowing) " +
        "and confirm them exactly with Dedup.jaccardVerify — no " +
        "driver-resident state, same Jaccard semantics")
    // Global shingle dictionary: dense ids 1..V. Round-19 (r18 verdict
    // #6): the whole-vocabulary `row_number().over(orderBy(shingle))` was
    // the engine's one unbounded single-reducer sort — every distinct
    // shingle through one WindowExec partition. PARTITIONED rank instead:
    // hash-bucket the vocabulary P ways, rank within each bucket in
    // parallel, add the bucket's exclusive-prefix-sum offset (driver-side
    // over the ≤P probe rows). The numbering is a different dense
    // bijection than the lexicographic one, which changes nothing
    // downstream: bit indices only feed |A∩B| popcounts, invariant under
    // any permutation of the dictionary.
    val offsets = new Array[Long](P)
    var offAcc = 0L
    bucketCounts.foreach { case (b, c) => offsets(b) = offAcc; offAcc += c }
    import s.implicits._
    val offDf = bucketCounts.map { case (b, _) => (b, offsets(b)) }
      .toSeq.toDF("b", "off")
    val rank = sh.select(col("shingle")).distinct()
      .withColumn("b", bCol)
      .withColumn("r",
        row_number().over(Window.partitionBy("b").orderBy("shingle")))
      .join(broadcast(offDf), "b")
      .select(col("shingle"), (col("off") + col("r")).cast("int").as("rk"))
    // ONE action: per-doc dictionary-encoded shingle sets (one row per
    // doc, ~50 ints each — admission-checked above).
    val sets: Array[(Long, Array[Int])] = sh.join(broadcast(rank), "shingle")
      .groupBy("doc_id").agg(collect_list(col("rk")).as("rks"))
      .as[(Long, Array[Int])].collect().sortBy(_._1)
    val vocab = if (sets.isEmpty) 0
      else sets.iterator.flatMap(_._2.iterator).max
    val nWords = vocab / 64 + 1
    val packed: Array[(Long, Int, Array[Long])] = sets.map { case (id, rks) =>
      val bm = new Array[Long](nWords)
      rks.foreach(r => bm(r / 64) |= 1L << (r % 64))
      (id, rks.length, bm)
    }
    val bc = s.sparkContext.broadcast(packed)
    // The pair loop runs as tight JIT'd Scala (Long.bitCount over packed
    // words), not as interpreted higher-order SQL lambdas — ~20 ns/pair
    // instead of ~3 µs/pair. Each task streams its slice of docs against
    // the broadcast table; no shuffle touches the O(n²) pair space.
    s.createDataset(packed.toIndexedSeq).flatMap { case (a, na, ba) =>
      val all = bc.value
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = 0
      while (j < all.length) {
        val (b, nb, bb) = all(j)
        if (b > a && nb * t <= na && na * t <= nb) {
          var shared = 0
          var i = 0
          while (i < ba.length) {
            shared += java.lang.Long.bitCount(ba(i) & bb(i)); i += 1
          }
          val jac = shared.toDouble / (na + nb - shared)
          // floor(x*1e4+0.5)/1e4, matching the oracle: tie-stable
          // cross-engine, unlike decimal-expansion HALF_UP (see
          // graft.functions.StableRound)
          if (jac >= t) out += ((a, b, math.floor(jac * 10000 + 0.5) / 10000))
        }
        j += 1
      }
      out
    }.toDF("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT Jaccard confirmation of a candidate-pair relation — the scale
    * path dd02's guard points at. `pairs` (doc_a, doc_b) comes from any
    * candidate generator (dd03's LSH buckets, dd07's winnow pieces);
    * each pair is verified against the true word-bigram shingle sets and
    * kept when Jaccard ≥ `threshold`, with dd02's exact semantics and
    * rounding.
    *
    * Scale shape: per-DOC shingle arrays (bounded by document length, a
    * per-row projection — never a per-bucket buffer), two equi-joins to
    * attach each side's set to the pair stream, and a codegen'd
    * array_intersect per pair. Work is O(|pairs| × doc length): linear in
    * the candidate stream, no driver-resident state, no pair-space
    * blowup — candidates already bounded it. */
  def jaccardVerify(docsDf: DataFrame, pairs: DataFrame,
      threshold: Double = 0.5): DataFrame =
    jaccardVerifyFrom(shingleSets(docsDf), pairs, threshold)

  /** Per-doc distinct word-bigram shingle sets (doc_id, sh) — the one
    * derivation of a document's set representation (a <2-token doc has
    * none, so no row and no signature), shared by the exact verifier and
    * both minhash signatures: min over the DISTINCT shingles equals min
    * over all, so one materialized sets frame can feed candidate
    * generation AND verification without re-splitting the corpus text. */
  private[pipeline] def shingleSets(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"),
        graft.functions.Shingles.distinctBigramsCol(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Minhash signature derived from an (optionally checkpointed)
    * [[shingleSets]] frame, without re-deriving shingles from raw text:
    * explode, 8 seeded md5s per shingle, ONE map-side-combining
    * groupBy(doc_id) with 8 min() aggregates. */
  private[pipeline] def minhashSigFromSets(sets: DataFrame): DataFrame = {
    val sh = sets.select(col("doc_id"), explode(col("sh")).as("tok"))
    val mhCols = (0 until 8).map(k =>
      md5(concat(lit(k.toString), lit("|"), col("tok"))).as(s"h$k"))
    sh.select(col("doc_id") +: mhCols: _*)
      .groupBy("doc_id")
      .agg(min("h0").as("m0"), min("h1").as("m1"), min("h2").as("m2"),
        min("h3").as("m3"), min("h4").as("m4"), min("h5").as("m5"),
        min("h6").as("m6"), min("h7").as("m7"))
  }

  /** [[jaccardVerify]] against an already-derived [[shingleSets]] frame. */
  def jaccardVerifyFrom(sets: DataFrame, pairs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    pairs.select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("shared") /
        (size(col("sha")) + size(col("shb")) - col("shared")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.StableRound.r4(col("jac")).as("jaccard"))
  }

  // Word-bigram/n-gram shingling is graft.functions.Shingles — a codegen'd
  // kernel replacing the interpreted transform/concat spelling (ShinglesSpec
  // pins element-for-element equality, including the <2-token empty-array
  // guard that keeps Spark's sequence(0, -1) descending-range quirk away
  // from the oracle comparison).

  /** k=8 seeded-md5 minhash signature per doc over word-bigram shingles:
    * [[minhashSigFromSets]] over the documents' [[shingleSets]]. Shared
    * by the batch LSH (dd03) and the streaming near-dup detector
    * ([[graft.streaming.Streams]]). Input needs (doc_id, text). */
  def minhashSig(docsDf: DataFrame): DataFrame =
    minhashSigFromSets(shingleSets(docsDf))

  /** Per-ROW signature: identical m0..m7, folded in one pass over the
    * in-row shingle list by the [[graft.functions.MinhashSig]] kernel —
    * over the same [[shingleSets]], no explode, no aggregation. This is
    * the STREAMING form (a streaming groupBy would be a
    * watermark-requiring aggregation; per-row projection is
    * mode-agnostic) and the right shape whenever one row carries the
    * whole document; MinhashSigSpec pins bit-equality with the batch
    * explode+groupBy form. */
  def minhashSigPerRow(docsDf: DataFrame): DataFrame = {
    val mh = (0 until 8).map(k =>
      element_at(col("ms"), k + 1).as(s"m$k"))
    shingleSets(docsDf)
      // one codegen'd pass folds all 8 seeded-md5 minima (the HOF
      // spelling walked an interpreted tree 8× per shingle)
      .select(col("doc_id"),
        graft.functions.MinhashSig.sigCol(col("sh")).as("ms"))
      .select(col("doc_id") +: mh: _*)
  }

  /** The 2-band × 4-row LSH layout over a signature frame's m0..m7 — the
    * ONE definition of the banding, shared by dd03, the composed cleaning
    * pipeline and the streaming detector. */
  private[graft] val bandStack = expr(
    """stack(2,
      |  0, concat_ws('|', m0, m1, m2, m3),
      |  1, concat_ws('|', m4, m5, m6, m7)) AS (band, band_key)
      |""".stripMargin)

  /** (doc_id, band, band_key) rows: 2 bands × 4 minhash rows, from the
    * per-row signature (streaming-safe). */
  def minhashBands(docsDf: DataFrame): DataFrame =
    minhashSigPerRow(docsDf).select(col("doc_id"), bandStack)

  /** The dd03 candidate-pair relation as a SQL CTE block (DuckDB dialect),
    * shared by the dd03 oracle and the clustering oracle (dd06). Exposes
    * `lsh_pairs(doc_a, doc_b)`.
    *
    * Mirrors the Spark side's EXACT-COLLAPSE-FIRST semantics: docs with an
    * identical full signature form a class linked by star edges from the
    * class min (they are certain duplicates — dd01's tier); only class
    * representatives enter the banding, so no bucket ever contains an
    * exact-duplicate pile. */
  private[pipeline] val lshPairsCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS tok
      |       FROM toks),
      |seeds AS (SELECT unnest(range(8)) AS seed),
      |sig AS (SELECT doc_id, seed,
      |          min(md5(seed::VARCHAR || '|' || tok)) AS mh
      |        FROM sh, seeds GROUP BY doc_id, seed),
      |sigk AS (SELECT doc_id, string_agg(mh, '|' ORDER BY seed) AS sig_key
      |         FROM sig GROUP BY doc_id),
      |cls AS (SELECT sig_key, min(doc_id) AS rep FROM sigk GROUP BY sig_key),
      |star AS (SELECT c.rep AS doc_a, k.doc_id AS doc_b
      |         FROM sigk k JOIN cls c ON k.sig_key = c.sig_key
      |         WHERE k.doc_id <> c.rep),
      |bands AS (SELECT s.doc_id, s.seed // 4 AS band,
      |            string_agg(s.mh, '|' ORDER BY s.seed) AS band_key
      |          FROM sig s
      |          JOIN (SELECT k.doc_id FROM sigk k JOIN cls c
      |                ON k.sig_key = c.sig_key AND k.doc_id = c.rep) r
      |            ON s.doc_id = r.doc_id
      |          GROUP BY s.doc_id, s.seed // 4),
      |rep_pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id),
      |lsh_pairs AS (
      |  SELECT doc_a, doc_b FROM star
      |  UNION
      |  SELECT doc_a, doc_b FROM rep_pairs)""".stripMargin

  /** MinHash + LSH banding over word-bigram shingles: k=8 hash functions
    * (seeded md5), 2 bands × 4 rows; candidate pairs = docs agreeing on an
    * entire band. The banding groupBy is the scale trick: no all-pairs
    * comparison ever happens — only same-bucket docs meet in the join. */
  val dd03MinhashLsh: Q = Q(
    "dd03_minhash_lsh",
    s"""WITH $lshPairsCte
       |SELECT doc_a, doc_b FROM lsh_pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // Plan shape (measured, sf0.1: 2.1s → 0.65s):
    //  1. spread() the narrow doc scan on doc_id BEFORE the explode so the
    //     8×|corpus-rows| md5s run on every core, not one (the fixture is a
    //     single row group — see Tables.spread), and so the signature
    //     groupBy(doc_id) needs no second shuffle.
    //  2. md5 inline per corpus row into 8 columns; signatures fall out of
    //     ONE map-side-combining groupBy(doc_id) with 8 min() aggregates.
    //     No distinct() on (doc, shingle): min() is idempotent under
    //     duplicates, so the corpus-wide dedup shuffle disappears (the
    //     oracle's DISTINCT is semantically inert for the same reason).
    //  3. Candidate pairs via ONE groupBy (band, band_key) + in-bucket pair
    //     expansion — NOT a self-join. A self-join recomputes the entire
    //     signature pipeline for both sides (measured: exactly 2× sig
    //     cost; exchange reuse does not fire across the alias) and
    //     shuffles bands twice. The bucket groupBy shuffles once, and the
    //     LSH guarantee (buckets are tiny) is precisely what bounds the
    //     collect_list and the quadratic in-bucket expansion.
    //  4. No pair-level distinct: a pair that agrees on BOTH bands would
    //     surface twice, so band-1 buckets carry each doc's band-0 key
    //     and emit only pairs whose band-0 keys DIFFER (first-match-wins).
    //     That drops the candidate-pair shuffle entirely — at scale the
    //     pair stream is the one relation here that can outgrow the
    //     corpus, and it now never crosses the wire.
    //  5. Exact-duplicate classes are collapsed BEFORE banding (see
    //     lshPairsOf): web corpora carry huge identical-text piles
    //     (boilerplate pages) whose members all share every band key; fed
    //     raw into the bucket groupBy they would form one mega-bucket and
    //     blow the collect_list buffer. Collapsing them to a class
    //     representative first (star edges certify the class — dd01's
    //     exact tier) bounds every bucket at one entry per DISTINCT
    //     signature, and the residual cap turns a degenerate banding into
    //     a loud error instead of an executor OOM.
    lshPairs(s, d).orderBy("doc_a", "doc_b")
  }

  /** The dd03 candidate-pair relation (doc_a < doc_b), un-ordered — shared
    * by dd03 and the cluster construction (dd06). */
  private[pipeline] def lshPairs(s: SparkSession, d: String): DataFrame =
    lshPairsOf(minhashSigPerRow(Tables.spread(s, docs(s, d), "doc_id")))

  /** LSH candidate pairs from a minhash signature frame (doc_id, m0..m7).
    *
    * Exact-collapse-first: docs with an IDENTICAL full signature are
    * certain duplicates (same min-shingle under all 8 hashes — in practice
    * identical or near-identical text). Each such class is emitted as star
    * edges (class-min → member) and only the representative enters the
    * banding, so an exact-duplicate pile of any size contributes ONE bucket
    * entry instead of a clique. The pair set differs from clique expansion
    * only WITHIN such classes (star instead of all-pairs); connected
    * components — the thing every downstream consumer (dd06, the cleaning
    * chains) derives — are identical, which `DedupSpec` pins.
    *
    * After the collapse, any bucket still larger than `maxBucket` means the
    * banding itself has degenerated for this corpus (too few bands/rows for
    * the near-dup density); quadratic in-bucket expansion would OOM. What
    * happens next is `spark.graft.bucketCap.mode`:
    *
    *   - `throw` (default): fail LOUDLY with the offending size — the dd07
    *     df-cap discipline, a diagnosable error in place of silent pair
    *     loss. The check is a window count riding the expansion's own
    *     exchange, raised BEFORE any collect_list buffer materializes.
    *   - `truncate`: keep a deterministic sample of `maxBucket` entries per
    *     oversize bucket (ranked by md5 of the bucket key + doc_id — an
    *     unbiased, run-stable order, unlike "first maxBucket by doc_id"
    *     which would systematically favor old docs) and CONTINUE, with a
    *     third output column `bucket_truncated` marking every pair from a
    *     clipped bucket (star edges are never clipped → false). The
    *     100 TB posture: the reference's executor downgrades per-command
    *     errors and keeps the run alive (ref ola/CommandExecute.sql:
    *     204-222); aborting a 6-hour dedup on ONE pathological boilerplate
    *     key is the analog anti-pattern. Truncation loses only in-bucket
    *     recall on buckets that were already degenerate, and the flag
    *     column makes the loss auditable downstream instead of silent.
    *
    * Throw-mode output is exactly (doc_a, doc_b) — byte-identical plan and
    * results to before the mode existed; internal consumers that union or
    * re-shape the pair stream select the two columns explicitly so either
    * schema flows through. */
  private[graft] def lshPairsOf(sigFrame: DataFrame,
      maxBucket: Int = 1000): DataFrame =
    lshPairsFromRep(sigWithRep(sigFrame), maxBucket)

  /** The materialized signature-with-representative frame lshPairsOf
    * builds: the input frame's columns (doc_id, m0..m7) plus `sig_key`
    * and `rep`, in whatever physical order the sig_key USING-join
    * produces — column ORDER is not part of the contract; every consumer
    * selects by name. Exposed so callers with MORE consumers of the
    * signature columns (dd15's agreement sides) can read THIS checkpoint
    * instead of paying a second signature materialization. */
  private[graft] def sigWithRep(sigFrame: DataFrame): DataFrame = {
    val mCols = (0 until 8).map(k => col(s"m$k"))
    // class representative via map-side-combined groupBy(min) + join
    // back. The window formulation saved one join but put an exact-dup
    // MEGA-PILE (identical boilerplate pages, ubiquitous in web corpora)
    // through a single window reducer with no partial aggregation; here
    // the pile collapses to one row per mapper before the exchange, and
    // the join back is AQE-skew-splittable — the same reasoning as every
    // round-7 window retirement. localCheckpoint: consumed by both the
    // star branch and the banding.
    val keyed = sigFrame.withColumn("sig_key", concat_ws("|", mCols: _*))
    val reps = keyed.groupBy("sig_key").agg(min("doc_id").as("rep"))
    keyed.join(reps, "sig_key").materialized
  }

  /** Candidate pairs from an already-materialized [[sigWithRep]] frame —
    * the second half of [[lshPairsOf]]. */
  private[graft] def lshPairsFromRep(withRep: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    val mode = withRep.sparkSession.conf
      .getOption("spark.graft.bucketCap.mode").getOrElse("throw")
    require(mode == "throw" || mode == "truncate",
      s"spark.graft.bucketCap.mode must be throw|truncate, got: $mode")
    val star = withRep.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val bands = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), expr(
        """stack(2,
          |  0, concat_ws('|', m0, m1, m2, m3), CAST(doc_id AS STRING),
          |  1, concat_ws('|', m4, m5, m6, m7), concat_ws('|', m0, m1, m2, m3))
          |  AS (band, band_key, prev_key)
          |""".stripMargin))
    // The cap guard rides the SAME exchange as the expansion, as a window
    // count evaluated BEFORE any collect_list buffer exists: an oversize
    // bucket raises (throw mode) or clips (truncate mode) from inside the
    // window stage (bounded rows, no OOM exposure) instead of paying a
    // separate probe job + a bands checkpoint per call — this path is
    // shared by dd03/dd06/dd08/dd14/dd15/pipe17, so the two jobs saved
    // multiply across the suite.
    val wBucket = Window.partitionBy("band", "band_key")
    val guarded =
      if (mode == "throw")
        bands
          .withColumn("bn", count(lit(1)).over(wBucket))
          .withColumn("cap_guard", when(col("bn") > maxBucket, raise_error(
            concat(
              lit("dd03: LSH bucket exceeds maxBucket=" + maxBucket +
                " after exact-duplicate collapse ("),
              col("bn"),
              lit(" distinct signatures in one bucket). The banding has " +
                "degenerated for this corpus — use more bands/rows per " +
                "band, raise maxBucket, or set " +
                "spark.graft.bucketCap.mode=truncate to sample-and-flag " +
                "instead of failing")))))
          .filter(col("cap_guard").isNull)
          .withColumn("btrunc", lit(false))
      else
        // md5 rank: deterministic, corpus-order-independent sample; the
        // row_number sort rides the same (band, band_key) exchange the
        // count and the expansion use
        bands
          .withColumn("bn", count(lit(1)).over(wBucket))
          .withColumn("rk", row_number().over(wBucket.orderBy(
            md5(concat_ws("|", col("band"), col("band_key"),
              col("doc_id"))),
            col("doc_id"))))
          .filter(col("rk") <= maxBucket)
          .withColumn("btrunc", col("bn") > maxBucket)
    // band 0's prev_key is the doc_id itself (unique per doc → the
    // equality below never holds → band 0 emits every in-bucket pair);
    // band 1 suppresses pairs band 0 already emitted.
    val repPairs = guarded.groupBy("band", "band_key")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("prev_key"))))
        .as("ids"),
        max(col("btrunc")).as("bucket_truncated"))
      .filter(size(col("ids")) > 1)
      // kernel form of the nested flatten(transform(...filter...)) pair
      // expansion — same pairs, same order, no interpreted lambda per
      // emitted pair (PairExpandSpec pins the equality)
      .select(col("bucket_truncated"),
        explode(graft.functions.PairExpand.pairsUnseenCol(col("ids")))
          .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("bucket_truncated"))
    val pairs = star
      .withColumn("bucket_truncated", lit(false))
      .union(repPairs)
    // throw mode keeps the historical two-column shape (every oracle and
    // plan pin predates the flag); truncate mode exposes the flag
    if (mode == "throw") pairs.select("doc_a", "doc_b") else pairs
  }

  /** Near-dup CLUSTERS from the LSH pair graph: connected components by
    * iterative min-label propagation — cluster_id = smallest doc_id in the
    * component. This is the step that turns pairwise near-dup evidence into
    * a keep-one-per-cluster decision (pairwise keep-min is wrong for chains
    * a-b, b-c: both b and c would point at different survivors).
    *
    * Scale shape: the pair graph is SPARSE (LSH emits only same-bucket
    * pairs), labels are one row per matched doc, and each iteration is one
    * join + groupBy shuffle keyed by vertex. Convergence needs ≤ graph
    * diameter rounds — near-dup components are tiny cliques/chains, so 2-4
    * rounds in practice (a pathological long chain would call for the
    * large-star/small-star variant, same primitive). `localCheckpoint`
    * truncates lineage per round so the plan does not grow exponentially
    * with iterations.
    *
    * Oracle: the same fixpoint as a recursive transitive closure (tiny in
    * DuckDB; the Spark form is the one that scales). */
  val dd06DupClusters: Q = Q(
    "dd06_dup_clusters",
    s"""WITH RECURSIVE $lshPairsCte,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |          UNION SELECT doc_b, doc_a FROM lsh_pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |  WHERE e.dst <> r.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, d) =>
    connectedComponents(lshPairs(s, d)).orderBy("doc_id")
  }

  /** Connected components of an undirected pair graph `(doc_a, doc_b)` by
    * iterative min-label propagation: one (doc_id, cluster_id) row per
    * vertex, cluster_id = the component's smallest member. Shared by dd06
    * and property-tested against a reference union-find on random graphs
    * (`DedupPropertySpec`). */
  /** Size-adaptive strategy: an LSH duplicate graph is SPARSE by
    * construction (pairs only within tiny buckets), so even a 100 TB
    * corpus usually yields an edge list that fits one node. Below
    * `smallGraphMaxEdges` directed edges (default 1M — boxed hash-map
    * union-find peaks at low hundreds of MB of driver heap there; the
    * raw tuples alone are ~32 MB) the component labels are computed
    * with a driver-side
    * union-find — one pass, zero extra Spark jobs — instead of paying
    * 3 distributed stages PER propagation round. Above it, the O(log n)
    * pointer-jumping loop below takes over unchanged. Both paths are
    * property-tested against the same reference union-find and against
    * each other (`DedupPropertySpec`). */
  /** UTF-8 BYTE ordering, not Java's UTF-16 code-unit compareTo: the
    * driver-side sorts that replace a distributed orderBy (dd13's and
    * pipe17's catalog-bounded tails) must reproduce binary UTF-8
    * collation — the spelling DuckDB's ORDER BY and Spark's exchange
    * sort share — which differs from UTF-16 order for
    * supplementary-plane strings vs U+E000..U+FFFF ones (the surrogate
    * range sorts between them in UTF-16). */
  private[pipeline] val utf8Ordering: Ordering[String] =
    (x: String, y: String) => {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      var i = 0
      var c = 0
      while (c == 0 && i < a.length && i < b.length) {
        c = (a(i) & 0xff) - (b(i) & 0xff); i += 1
      }
      if (c != 0) c else a.length - b.length
    }

  private[graft] def connectedComponents(pairs: DataFrame,
      smallGraphMaxEdges: Long = 1000000L): DataFrame = {
    // SMALL-GRAPH FAST PATH (round-18 job audit): probe-and-collect the
    // PAIR stream in ONE limit-bounded job. The previous spelling
    // materialized a doubled (src,dst ∪ dst,src) edge checkpoint, ran a
    // count against it, and then collected it — three jobs and a 2×-row
    // checkpoint to learn what one limit(cap+1) collect already proves
    // (LSH graphs are sparse by construction, so the small path is the
    // norm; union-find is direction-agnostic, so the reversed copies
    // carried no information). The limit keeps the driver surface
    // bounded exactly as the old count gate did.
    componentsLocal(pairs, (smallGraphMaxEdges / 2).toInt) match {
      case Some(labels) =>
        val s = pairs.sparkSession
        import s.implicits._
        return labels.toSeq.toDF("doc_id", "cluster_id")
      case None => ()
    }
    // LARGE GRAPH: the distributed propagation loop, over a single-width
    // pair checkpoint (the reversed direction is derived lazily per
    // consumer — two narrow reads of a 1×-row checkpoint instead of one
    // read of a 2×-row one)
    val p = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .materialized
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
    // seed with min(self, direct neighbors) — one groupBy, and the common
    // component shapes (cliques from same-bucket groups) converge in the
    // FIRST loop round instead of the second
    var labels = edges.groupBy("src")
      .agg(least(col("src"), min("dst")).as("lbl"))
      .select(col("src").as("v"), col("lbl"))
    var changed = 1L
    var iter = 0
    // pointer jumping (label-of-label, below) gives O(log n) rounds even
    // on a path graph, so this cap is pure runaway protection
    val MaxRounds = 25
    while (changed > 0 && iter < MaxRounds) {
      val nbrMin = edges
        .join(labels.select(col("v").as("dst"), col("lbl")), "dst")
        .groupBy("src").agg(min("lbl").as("nbr_lbl"))
      // pointer jump: my label's CURRENT label — halves the distance to
      // the component min each round (plain neighbor propagation moves it
      // one hop per round, i.e. O(diameter) on chains)
      val jump = labels
        .join(labels.select(col("v").as("lbl"), col("lbl").as("jump_lbl")),
          Seq("lbl"))
        .select(col("v"), col("jump_lbl"))
      val step = labels
        .join(nbrMin.select(col("src").as("v"), col("nbr_lbl")), Seq("v"),
          "left")
        .join(jump, Seq("v"), "left")
        .select(col("v"), col("lbl"),
          least(
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))),
            coalesce(col("jump_lbl"), col("lbl"))).as("nlbl"))
        .materialized // eager: one materialization serves both uses
      changed = step.filter(col("nlbl") =!= col("lbl")).count()
      labels = step.select(col("v"), col("nlbl").as("lbl"))
      iter += 1
    }
    // Non-convergence (a component of diameter > 2^MaxRounds — physically
    // implausible, so in practice a logic regression): fail LOUDLY by
    // default, because returning partial labels silently splits a
    // component. Under spark.graft.bucketCap.mode=truncate — the "keep the
    // 100 TB run alive" posture — degrade instead: return the partial
    // labels WITH a converged=false column on every row, so downstream
    // sees a coarser-than-true clustering that is flagged, not silent.
    if (changed > 0) {
      val mode = pairs.sparkSession.conf
        .getOption("spark.graft.bucketCap.mode").getOrElse("throw")
      if (mode != "truncate") throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxRounds rounds " +
          "(set spark.graft.bucketCap.mode=truncate to degrade to " +
          "flagged partial labels instead of failing)")
      return labels
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
        .withColumn("converged", lit(false))
    }
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Probe-and-collect the pair stream for the driver-side component
    * path: ONE job, limit-bounded to `maxPairs + 1` rows. Returns the
    * per-vertex (doc_id, cluster_id) labels (doc_id-sorted) when the
    * graph fits, None when it exceeds the cap (callers fall back to the
    * distributed loop). Union-find is direction-agnostic, so undirected
    * pairs carry the full graph — no doubled edge list needed. */
  private[pipeline] def componentsLocal(pairs: DataFrame,
      maxPairs: Int = 500000): Option[Array[(Long, Long)]] = {
    val rows = pairs.select(col("doc_a"), col("doc_b"))
      .limit(maxPairs + 1).collect()
    if (rows.length > maxPairs) None
    else Some(unionFindLabels(rows.map(r => (r.getLong(0), r.getLong(1)))))
  }

  /** Driver-side component labels for a small (collected) pair list:
    * union-find with path compression, then cluster_id = min member per
    * component — identical semantics to the distributed loop. */
  private def unionFindLabels(es: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = parent.keys.toArray
    val byRoot = verts.groupBy(find)
    val minOf = byRoot.map { case (r, vs) => r -> vs.min }
    verts.sorted.map(v => (v, minOf(find(v))))
  }

  /** SimHash (16-bit): bit b of md5's leading hex digits votes ±1 per
    * distinct token; near-dup pairs have hamming distance <= 2. */
  val dd04Simhash: Q = Q(
    "dd04_simhash",
    s"""WITH toks AS ($tokensSql),
       |bits AS (SELECT unnest(range(16)) AS b),
       |votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN
       |      ((instr('0123456789abcdef',
       |              substr(md5(tok), 1 + b // 4, 1)) - 1) >> (b % 4)) & 1 = 1
       |      THEN 1 ELSE -1 END) AS v
       |  FROM toks, bits GROUP BY doc_id, b),
       |sh AS (SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN 1 << b ELSE 0 END) AS simhash
       |       FROM votes GROUP BY doc_id),
       |cls AS (SELECT simhash, min(doc_id) AS rep FROM sh GROUP BY simhash),
       |star AS (SELECT c.rep AS doc_a, h.doc_id AS doc_b,
       |           CAST(0 AS BIGINT) AS hamming
       |         FROM sh h JOIN cls c ON h.simhash = c.simhash
       |         WHERE h.doc_id <> c.rep),
       |reppairs AS (
       |  SELECT a.rep AS doc_a, b.rep AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM cls a JOIN cls b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |    AND a.simhash <> b.simhash)
       |SELECT doc_a, doc_b, hamming FROM star
       |UNION ALL SELECT doc_a, doc_b, hamming FROM reppairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // Bits 0..15 of a token's vote mask are exactly the first 4 hex
    // digits of md5(tok), little-endian per digit — so the whole mask is
    // conv(reverse(first-4-hex), 16, 10), computed INLINE per (doc, token)
    // row. The per-bit votes then collapse into one map-side-combining
    // groupBy(doc_id) with 16 conditional sums instead of a 16× row
    // explosion. The explicit repartition on doc_id here is a
    // DISTRIBUTION requirement, not fixture compensation (measured on a
    // 24-file corpus: 0.98 s with it, 1.5 s letting the scan's natural
    // splits stand): it pre-partitions the NARROW doc rows so the
    // (doc_id, tok) distinct AND the groupBy(doc_id) both ride one
    // exchange of the cheap side — without it the 10-100× exploded token
    // stream crosses the wire twice. That trade holds at any scale.
    val toks = docs(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
      .withColumn("mask",
        expr("CAST(conv(reverse(substr(md5(tok), 1, 4)), 16, 10) AS INT)"))
    val votes = (0 until 16).map(b =>
      sum(when(expr(s"(mask >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b"))
    val perDoc = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val simhashExpr = (0 until 16)
      .map(b => when(col(s"v$b") > 0, lit(1 << b)).otherwise(0))
      .reduce(_ + _)
    val sh = perDoc.select(col("doc_id"),
      simhashExpr.cast("long").as("simhash"))
      // consumed by both sides of the segment join below; without the
      // checkpoint the whole signature pipeline (scan + explode + md5 +
      // two aggs) runs twice. One long per doc — trivially small.
      .materialized
    // EXACT-SIGNATURE STAR COLLAPSE before any pair expansion — the dd03
    // sigWithRep discipline, which the skew stress fixture (`Dev genskew`'s
    // 10⁵-copy boilerplate pile) proved this query was missing: identical
    // docs share a simhash, and emitting the full clique is C(n,2) —
    // measured 5.2×10⁹ output rows on the 100k pile. Collapse each
    // distinct simhash to its min-doc representative, emit |group|-1
    // star pairs (hamming 0, components preserved), and run the banding
    // on REPRESENTATIVES only — pair work becomes linear in the pile.
    val cls = sh.groupBy("simhash").agg(min("doc_id").as("rep"))
    val withRep = sh.join(cls, "simhash").materialized
    val star = withRep.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("simhash"))
    // Pair generation by PIGEONHOLE BANDING, not a cartesian product: split
    // the 16-bit signature into 3 segments (6|5|5 bits). Hamming distance
    // ≤ 2 means the differing bits touch at most 2 segments, so every
    // qualifying pair agrees EXACTLY on at least one segment — an
    // equi-join on (seg, segval) finds all of them with a plain shuffle
    // partitioned by segment value; no all-pairs comparison ever happens.
    // Duplicate suppression is first-match-wins (same trick as dd03's
    // prev_key): a pair found at segment k is emitted only if no earlier
    // segment also matches, so no pair-level distinct shuffle is needed.
    // Reps are DISTINCT signatures, so in-bucket groups are bounded by
    // the segment's value space, and the a.simhash <> b.simhash filter
    // is implied. At 100 TB you would widen the signature (64-bit, more
    // segments); the collapse + banding shape is what survives.
    val segs = reps.select(col("doc_id"), col("simhash"), expr(
      """stack(3,
        |  0, simhash & 63,
        |  1, (simhash >> 6) & 31,
        |  2, (simhash >> 11) & 31) AS (seg, segval)""".stripMargin))
    val a = segs.select(col("seg"), col("segval"),
      col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val b = segs.select(col("seg"), col("segval"),
      col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val repPairs = a.join(b, Seq("seg", "segval"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= 2)
      .filter(expr(
        """CASE seg
          |  WHEN 0 THEN true
          |  WHEN 1 THEN (sa & 63) != (sb & 63)
          |  ELSE (sa & 63) != (sb & 63)
          |    AND ((sa >> 6) & 31) != ((sb >> 6) & 31) END""".stripMargin))
      .select("doc_a", "doc_b", "hamming")
    star.unionByName(repPairs).orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs within a label block (blocking keeps
    * the pair space linear-ish; the all-pairs fallback is sim01).
    *
    * EXACT-VECTOR STAR COLLAPSE first (the dd03/dd04 discipline, added
    * after `Dev genskew`'s 5k-identical-vector pile measured a C(n,2) clique
    * in the output): bit-identical embeddings collapse to their min-id
    * representative; members attach by |group|-1 star pairs (cosine
    * computed through the same formula — identical vectors, so it is
    * the self-cosine both engines round the same way) and the block
    * join runs on representatives only. Components are preserved —
    * cosine(memberA, memberB) = cosine(repA, repB) exactly when the
    * vectors are bit-equal — and pair work is linear in a dup pile. */
  val dd05EmbeddingDup: Q = Q(
    "dd05_embedding_dup",
    """WITH g AS (SELECT label, embedding, min(vec_id) AS rep
      |           FROM embeddings GROUP BY label, embedding),
      |m AS (SELECT e.vec_id, e.label, e.embedding, g.rep
      |      FROM embeddings e
      |      JOIN g ON g.label = e.label AND g.embedding = e.embedding),
      |star AS (SELECT rep AS vec_a, vec_id AS vec_b,
      |    floor(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) /
      |      nullif(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 0)
      |      * 10000 + 0.5) / 10000 AS cosine
      |  FROM m WHERE vec_id <> rep
      |    AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) /
      |      nullif(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 0) >= 0.35),
      |r AS (SELECT vec_id, label, embedding FROM m WHERE vec_id = rep),
      |cross_pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    floor(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |      nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0)
      |      * 10000 + 0.5) / 10000 AS cosine
      |  FROM r a JOIN r b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |      nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0) >= 0.35)
      |SELECT vec_a, vec_b, cosine FROM star
      |UNION ALL SELECT vec_a, vec_b, cosine FROM cross_pairs
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    import graft.functions.VectorOps
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val cls = e.groupBy("label", "embedding").agg(min("vec_id").as("rep"))
    val withRep = e.join(cls, Seq("label", "embedding")).materialized
    // the >= 0.35 threshold applies to star edges too (dd09's convention):
    // it also drops the NULL self-cosine of duplicated zero-norm vectors,
    // which the pre-collapse all-pairs query never emitted
    val star = withRep.filter(col("vec_id") =!= col("rep"))
      .withColumn("cos", Similarity.cosineFromNorms(
        VectorOps.dot(col("embedding"), col("embedding")),
        col("nrm"), col("nrm")))
      .filter(col("cos") >= 0.35)
      .select(col("rep").as("vec_a"), col("vec_id").as("vec_b"),
        graft.functions.StableRound.r4(col("cos")).as("cosine"))
    val reps = withRep.filter(col("vec_id") === col("rep"))
    val a = reps.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = reps.select(col("vec_id").as("vec_b"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val crossPairs = a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        Similarity.cosineFromNorms(VectorOps.dot(col("ea"), col("eb")),
          col("na"), col("nb")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"),
        graft.functions.StableRound.r4(col("cos")).as("cosine"))
    star.unionByName(crossPairs).orderBy("vec_a", "vec_b")
  }

  /** Winnow-fingerprint candidate pairs — the CHARACTER-level near-dup
    * detector next to dd03's word-shingle MinHash: docs sharing ≥2 rare
    * winnow minima (the MOSS match criterion). Catches copies with word
    * boundaries destroyed (whitespace/punctuation mangling) that bigram
    * shingles miss.
    *
    * Scale shape mirrors dd03: fingerprints are ONE codegen'd O(n) pass
    * per row ([[graft.functions.Winnow]]); candidates come from a bucket
    * groupBy on the piece, NOT a self-join. The doc-frequency cap (≤20)
    * drops non-discriminative pieces — boilerplate 8-grams shared by half
    * the corpus would otherwise explode the in-bucket pair expansion;
    * production winnow dedup applies exactly this stop-piece filter, and
    * it bounds every bucket's expansion at C(20,2).
    *
    * ORDER OF OPERATIONS MATTERS AT SCALE: doc frequency is computed
    * FIRST (a count aggregate — map-side combinable, constant memory per
    * group) and only rare pieces reach the collect_list. Collecting
    * before filtering would materialize a boilerplate piece's
    * million-doc bucket in one aggregation buffer before throwing it
    * away — the classic collect_list OOM. The count agg, the rare join
    * and the bucket groupBy all share the hash partitioning on piece, so
    * the safety costs no extra exchange of the piece stream. */
  val dd07WinnowPairs: Q = Q(
    "dd07_winnow_pairs",
    s"""WITH ${TextAnalysis.winnowMinimaCte},
       |pieces AS (SELECT DISTINCT doc_id, mn AS piece FROM m
       |           WHERE i <= n_h - 16),
       |rare AS (SELECT piece FROM pieces
       |         GROUP BY piece HAVING count(*) BETWEEN 2 AND 20)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS shared_pieces
       |FROM pieces a JOIN rare r ON a.piece = r.piece
       |JOIN pieces b ON a.piece = b.piece AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    winnowPairs(Tables.spread(s, docs(s, d), "doc_id"))
      .orderBy("doc_a", "doc_b")
  }

  /** The dd07 candidate-pair relation over ANY (doc_id, text) frame —
    * (doc_a < doc_b, shared_pieces ≥ 2). Shared by dd07 and the cleaning
    * chain's winnow stage (pipe10). */
  private[pipeline] def winnowPairs(docsDf: DataFrame): DataFrame = {
    import graft.functions.Winnow
    // localCheckpoint: the (doc_id, piece) relation is consumed by BOTH
    // the doc-frequency count and the rare-piece join — without it the
    // whole fingerprint pass (and corpus scan) runs twice. Pieces are two
    // longs per ~w/2 bytes of text, far smaller than the corpus, so the
    // materialization is the cheap side of that trade at any scale.
    val pieces = docsDf
      // BYTE length: the kernel hashes UTF-8 bytes, so the admission
      // filter must count the same unit (char length would drop short
      // multibyte docs whose byte stream has real windows; equal on the
      // ASCII oracle corpus)
      .filter(octet_length(col("text")) >= 8 + 16 - 1)
      .select(col("doc_id"),
        explode(Winnow.fingerprintCol(col("text"), 8, 16, Int.MaxValue))
          .as("piece"))
      .materialized
    val rare = pieces.groupBy("piece")
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 20))
      .select("piece")
    pieces.join(rare, "piece")
      .groupBy("piece")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      // kernel i<j pair expansion (PairExpandSpec pins vs the HOF twin)
      .select(explode(graft.functions.PairExpand.pairsCol(col("ids")))
        .as("p"))
      .select("p.doc_a", "p.doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_pieces"))
      .filter(col("shared_pieces") >= 2)
  }

  /** The PRODUCTION dedup chain end-to-end, strictly oracled: candidates
    * from BOTH detectors (dd03's word-shingle LSH ∪ dd07's char-level
    * winnowing — each catches near-dups the other misses), confirmed
    * exactly by [[jaccardVerify]] at dd02's threshold. This is the shape
    * that replaces dd02 once the corpus outgrows the broadcast tier:
    * candidate generation is bucketed (linear-ish), verification is
    * linear in the candidate stream, and nothing driver-resident exists.
    * Output = dd02's exact all-pairs truth restricted to detector
    * candidates (the restriction IS the scale trade, quantified by
    * sim05-style recall in `DedupPropertySpec`'s subset property). */
  val dd08CandidateJaccard: Q = Q(
    "dd08_candidate_jaccard",
    s"""WITH $lshPairsCte,
       |${TextAnalysis.winnowMinimaCte},
       |pieces AS (SELECT DISTINCT doc_id, mn AS piece FROM m
       |           WHERE i <= n_h - 16),
       |rare AS (SELECT piece FROM pieces
       |         GROUP BY piece HAVING count(*) BETWEEN 2 AND 20),
       |wpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pieces a JOIN rare r ON a.piece = r.piece
       |  JOIN pieces b ON a.piece = b.piece AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |cand AS (SELECT doc_a, doc_b FROM lsh_pairs
       |         UNION SELECT doc_a, doc_b FROM wpairs),
       |nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shr AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.tok = a.tok
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b,
       |  floor(CAST(s.shared AS DOUBLE) / (na.n_sh + nb.n_sh - s.shared)
       |    * 10000 + 0.5) / 10000 AS jaccard
       |FROM shr s
       |  JOIN nsh na ON na.doc_id = s.doc_a
       |  JOIN nsh nb ON nb.doc_id = s.doc_b
       |WHERE CAST(s.shared AS DOUBLE) / (na.n_sh + nb.n_sh - s.shared) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docsDf = docs(s, d)
    // ONE shingle-sets checkpoint feeds both the LSH signature AND the
    // exact verifier (min over distinct shingles = min over all — see
    // minhashSigFromSets), so the corpus text is split exactly once.
    // The two candidate generators are then independent pipelines with
    // their own eager materializations — submit them from concurrent
    // threads so their job chains interleave (sim09's parallel-job-group
    // pattern); results are deterministic frames either way
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val spreadDocs = Tables.spread(s, docsDf, "doc_id")
    // the forked chains inherit the caller's job group (thread-local in
    // Spark — see graft.ThreadGroups)
    val grp = graft.ThreadGroups.captured(s.sparkContext)
    // the sets checkpoint lives INSIDE the lsh future so the winnow chain
    // overlaps it instead of waiting behind a serial materialization
    val fLsh = Future(graft.ThreadGroups.withCaptured(s.sparkContext, grp) {
      val sets = shingleSets(spreadDocs).materialized
      (sets, lshPairsOf(minhashSigFromSets(sets))
        .select("doc_a", "doc_b"))
    })
    val fWin = Future(graft.ThreadGroups.withCaptured(s.sparkContext, grp)(
      winnowPairs(spreadDocs).select("doc_a", "doc_b")))
    val (sets, lsh) = Await.result(fLsh, Duration.Inf)
    val cand = lsh.union(Await.result(fWin, Duration.Inf)).distinct()
    jaccardVerifyFrom(sets, cand).orderBy("doc_a", "doc_b")
  }

  /** SEMANTIC dedup for UNLABELED corpora: embedding-cosine near-dup
    * pairs blocked by learned k-means clusters (sim07's index) instead
    * of dd05's given label column — the published SemDeDup pattern
    * (cluster the embedding space, compare only within a cluster). dd05
    * needs curated metadata; dd09 needs nothing but the vectors, which
    * is the situation a web-scale training corpus is actually in.
    *
    * MULTI-PROBE blocking (the IVF nprobe trade applied to dedup): each
    * vector is blocked into its TOP-2 nearest final centroids, and a
    * pair is a candidate when the probe sets intersect. Single-probe
    * missed every pair straddling a cluster boundary — measured recall
    * against the exact all-pairs truth (dd10) was 0.30 at sf0.1;
    * two probes recover it to 0.73 for ≤4× pair work. A pair sharing
    * BOTH probes would surface twice, so emission is first-match-wins
    * on the (probe_a, probe_b) combo — dd03/dd04's discipline: the
    * candidate-pair stream, the one relation here that can outgrow the
    * corpus, never pays a distinct shuffle.
    *
    * Scale shape: ONE equi-join on cluster id — pair work is Σ c_i²
    * over probe-bucket sizes, never corpus². At 100 TB k grows with the
    * corpus (k ≈ n / target cluster size; here the fixture k=8) so
    * bucket populations — and with them the per-bucket quadratic —
    * stay bounded; the probe frame is checkpointed once so the
    * 3-iteration Lloyd chain does not replay per join side. */
  val dd09SemanticDedup: Q = Q(
    "dd09_semantic_dedup",
    s"""WITH ${Similarity.kmeansCte},
       |pm AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rk = 1 THEN cluster END) AS c1,
       |    max(CASE WHEN rk = 2 THEN cluster END) AS c2
       |  FROM (SELECT vec_id, cluster, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
       |        FROM d3)
       |  WHERE rk <= 2 GROUP BY vec_id),
       |urep AS (SELECT embedding, min(vec_id) AS rep
       |         FROM embeddings GROUP BY embedding),
       |star AS (
       |  SELECT pmr.c1 AS cluster, u.rep AS vec_a, e.vec_id AS vec_b,
       |    floor(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                           CAST(e.embedding AS DOUBLE[])) /
       |      nullif(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                                   CAST(e.embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                             CAST(e.embedding AS DOUBLE[]))), 0)
       |      * 10000 + 0.5) / 10000 AS cosine
       |  FROM embeddings e
       |  JOIN urep u ON u.embedding = e.embedding AND e.vec_id <> u.rep
       |  JOIN pm pmr ON pmr.vec_id = u.rep
       |  WHERE list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                         CAST(e.embedding AS DOUBLE[])) /
       |    nullif(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                                 CAST(e.embedding AS DOUBLE[]))) *
       |     sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
       |                           CAST(e.embedding AS DOUBLE[]))), 0)
       |    >= 0.35),
       |pe AS (
       |  SELECT vec_id, c1, c2, 1 AS pr, c1 AS cluster FROM pm
       |  WHERE vec_id IN (SELECT rep FROM urep)
       |  UNION ALL
       |  SELECT vec_id, c1, c2, 2 AS pr, c2 AS cluster FROM pm
       |  WHERE vec_id IN (SELECT rep FROM urep)),
       |pairs AS (
       |  SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM pe a JOIN pe b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE CASE
       |    WHEN a.pr = 1 AND b.pr = 1 THEN true
       |    WHEN a.pr = 1 AND b.pr = 2 THEN a.c1 <> b.c1
       |    WHEN a.pr = 2 AND b.pr = 1 THEN a.c1 <> b.c1 AND a.c1 <> b.c2
       |    ELSE a.c1 <> b.c1 AND a.c1 <> b.c2 AND a.c2 <> b.c1 END)
       |SELECT p.cluster, p.vec_a, p.vec_b,
       |  floor(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
       |    nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0)
       |    * 10000 + 0.5) / 10000 AS cosine
       |FROM pairs p
       |  JOIN embeddings a ON a.vec_id = p.vec_a
       |  JOIN embeddings b ON b.vec_id = p.vec_b
       |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
       |    nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0) >= 0.35
       |UNION ALL SELECT cluster, vec_a, vec_b, cosine FROM star
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    semanticPairs(s, d, k = Some(8)) // the oracle CTE's literal k
      .orderBy("vec_a", "vec_b")
  }

  /** The dd09 pair relation (cluster, vec_a < vec_b, cosine), un-ordered
    * — shared by dd09, its recall gate (dd10) and the end-to-end prune
    * (pipe13). See [[dd09SemanticDedup]] for the multi-probe design.
    *
    * `k = None` (the PRODUCTION default) picks the centroid count from
    * the corpus: k = max(8, ceil(n_vecs / 800)) via [[Similarity.autoK]],
    * so cells — and with them the per-cell quadratic pair stage — stay
    * bounded as the corpus grows (the round-8 sf1 finding: fixed k=8 is
    * quadratic, 15.3 s → 2.9 s with k ∝ n). The three ORACLE-gated
    * consumers pass Some(8) explicitly because the DuckDB CTE unrolls
    * Lloyd at the literal k; at the driver fixtures (≤5k vectors) auto-k
    * lands on 8 anyway, so the pin only matters above fixture scale. */
  private[pipeline] def semanticPairs(s: SparkSession, d: String,
      k: Option[Int] = None): DataFrame = {
    import graft.functions.VectorOps
    // probes pivoted wide — (vec_id, c1, c2): the window and the pivot
    // groupBy ride the same hash partitioning on vec_id
    // NOTE: prefetching the embedding+norm scan on a concurrent thread
    // while the Lloyd trainer runs was measured SLOWER here (7.2 s vs
    // 2.5 s at sf0.1): kmeansProbes already parallelizes its own chains
    // off the quantized-code checkpoint, and a competing wide scan just
    // contends with the trainer's jobs — keep the pipeline serial.
    // metadata-only count (parquet row-group footers): one cheap job to
    // size k when the caller didn't pin it
    val kk = k.getOrElse(
      Similarity.autoK(Tables.embeddings(s, d).count()))
    // top-2 probes computed IN-ROW (round-17 job audit): the old
    // posexplode + groupBy(vec_id) pivot paid an exchange + aggregate
    // to reassemble what the sorted distance array already held per row
    val pm = Similarity.kmeansTop2From(Similarity.quantVecs(s, d), kk)
    // one row per (vector, probe): join key `cluster` + both probe ids
    // carried for the first-match-wins suppression — checkpointed so
    // BOTH sides of the self-join read the materialized probe frame
    // instead of re-running the Lloyd iterations
    // checkpoint BEFORE the probe stack: the materialized frame is one
    // row per VECTOR (the embedding array is the dominant payload);
    // stacking first would store every embedding twice. The stack is a
    // cheap generator each join side re-applies to the checkpointed rows.
    // EXACT-VECTOR STAR COLLAPSE (the dd04/dd05 discipline, completing
    // the round-8 stress finding): identical embeddings always receive
    // identical (c1, c2) probes — the trainer sees the FULL multiset
    // (weighting unchanged), but pair expansion runs on distinct-vector
    // representatives only, so an exact-dup pile contributes |pile|-1
    // star rows instead of an in-cell clique (measured 12.5M rows on
    // `Dev genskew`'s 5k pile before this). No fixture contains duplicate
    // embeddings, so fixture results are bit-identical; the collapse is
    // pinned by DedupPropertySpec's pile case.
    // rep = min(vec_id) OVER (PARTITION BY embedding) — round-17 job
    // audit: the old groupBy(embedding)+join-back spelling paid a
    // second corpus-sized exchange, a join, and a SECOND corpus
    // checkpoint (the embedding payload stored twice); the window
    // rides the same embedding shuffle the groupBy needed and folds
    // the chain to ONE materialization. A mega exact-dup pile lands on
    // one window partition exactly as it landed on one join key before
    // — WindowExec's spill-backed buffer, not a new skew class.
    val withRep = Tables.embeddings(s, d)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
      .join(pm, "vec_id")
      .withColumn("rep", min(col("vec_id")).over(
        Window.partitionBy("embedding")))
      .materialized
    val star = withRep.filter(col("vec_id") =!= col("rep"))
      .withColumn("cos",
        Similarity.cosineFromNorms(
          VectorOps.dot(col("embedding"), col("embedding")),
          col("nrm"), col("nrm")))
      .filter(col("cos") >= 0.35)
      .select(col("c1").as("cluster"), col("rep").as("vec_a"),
        col("vec_id").as("vec_b"),
        graft.functions.StableRound.r4(col("cos")).as("cosine"))
    val assigned = withRep.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("embedding"),
        col("nrm"), col("c1"), col("c2"),
        expr("stack(2, 1, c1, 2, c2) AS (pr, cluster)"))
    val a = assigned.select(col("cluster"), col("pr").as("pra"),
      col("c1").as("c1a"), col("c2").as("c2a"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = assigned.select(col("cluster"), col("pr").as("prb"),
      col("c1").as("c1b"), col("c2").as("c2b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      // emit each pair only at its lexicographically-first matching
      // (probe_a, probe_b) combo — no pair-level distinct shuffle
      .filter(expr(
        """CASE
          |  WHEN pra = 1 AND prb = 1 THEN true
          |  WHEN pra = 1 AND prb = 2 THEN c1a != c1b
          |  WHEN pra = 2 AND prb = 1 THEN c1a != c1b AND c1a != c2b
          |  ELSE c1a != c1b AND c1a != c2b AND c2a != c1b END""".stripMargin))
      .withColumn("cos",
        Similarity.cosineFromNorms(VectorOps.dot(col("ea"), col("eb")),
          col("na"), col("nb")))
      .filter(col("cos") >= 0.35)
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        graft.functions.StableRound.r4(col("cos")).as("cosine"))
      .unionByName(star)
  }

  /** The quality gate for dd09's cluster-blocking trade (sim05's role for
    * the IVF index): recall of the cluster-blocked pair set against the
    * EXACT all-pairs truth at the same threshold — one row (n_true,
    * n_found, recall). The truth side is a brute-force pair scan, which
    * is exactly why it is an EVAL and not an operator: affordable at
    * fixture scale (and on samples at production scale), impossible at
    * 100 TB — the number it produces is what justifies shipping dd09
    * instead. Found ⊆ truth by construction (same unrounded threshold),
    * so recall = n_found / n_true; the left join computes it honestly
    * rather than assuming the subset property. */
  /** dd09's oracle with the trailing presentation ORDER BY stripped, for
    * nesting as a found-pair subquery (sim05's text-surgery discipline:
    * fail LOUDLY if the source shape drifts). Shared by dd10 and pipe13
    * so the two consumers cannot diverge. */
  private lazy val dd09CoreSql: String = {
    val sql = dd09SemanticDedup.oracle.get
    val cut = sql.lastIndexOf("ORDER BY")
    require(cut >= 0, "dd09 oracle lost its trailing ORDER BY")
    sql.substring(0, cut)
  }

  val dd10SemdedupRecall: Q = Q(
    "dd10_semdedup_recall",
    s"""WITH truth AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
       |      nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0) >= 0.35),
       |found AS (SELECT vec_a, vec_b FROM ($dd09CoreSql))
       |SELECT count(*) AS n_true, count(f.vec_a) AS n_found,
       |  floor(CAST(count(f.vec_a) AS DOUBLE)
       |    / nullif(count(*), 0) * 10000 + 0.5) / 10000 AS recall
       |FROM truth t LEFT JOIN found f
       |  ON t.vec_a = f.vec_a AND t.vec_b = f.vec_b""".stripMargin) { (s, d) =>
    import graft.functions.VectorOps
    val e = Tables.embeddings(s, d)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    // fixture-scale brute force: broadcast one corpus copy, stream the
    // other (sim01's probe shape) — the full pair space never shuffles
    val truth = broadcast(a).crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .filter(Similarity.cosineFromNorms(
        VectorOps.dot(col("ea"), col("eb")),
        col("na"), col("nb")) >= 0.35)
      .select("vec_a", "vec_b")
    val found = semanticPairs(s, d, k = Some(8)) // oracle CTE's literal k
      .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
    truth.join(found, Seq("vec_a", "vec_b"), "left")
      // nullif: an empty truth set (no pair reaches the threshold — the
      // normal case on a clean sample) must yield NULL recall on both
      // engines, not an ANSI DIVIDE_BY_ZERO crash
      .agg(count(lit(1)).as("n_true"), count("hit").as("n_found"),
        graft.functions.StableRound.r4(count("hit").cast("double") /
          nullif(count(lit(1)).cast("double"), lit(0.0))).as("recall"))
  }

  /** Semantic dedup taken to its OPERATIONAL conclusion (what SemDeDup
    * actually ships): dd09's pair graph → connected components (dd06's
    * size-adaptive primitive — pairwise keep-min is wrong for chains) →
    * keep one representative per component — reported as the one-row
    * corpus datasheet (n_vectors, n_dup_pairs, n_clusters, n_pruned,
    * n_kept). All counts integer-exact; the oracle replays the closure
    * as a recursive CTE over the same pair SQL.
    *
    * Scale shape: pairs are bucket-bounded (dd09), the component pass
    * is O(edges) with the driver/distributed switch, and the three
    * one-row stat frames meet in trivial broadcast joins — nothing here
    * outgrows the pair stream. */
  val pipe13SemanticPrune: Q = Q(
      "pipe13_semantic_prune",
      s"""WITH RECURSIVE found AS (SELECT vec_a, vec_b FROM ($dd09CoreSql)),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM found
         |          UNION SELECT vec_b, vec_a FROM found),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |  WHERE e.dst <> r.src),
         |comp AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |         FROM reach GROUP BY src)
         |SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
         |  (SELECT count(*) FROM found) AS n_dup_pairs,
         |  count(DISTINCT cluster_id) AS n_clusters,
         |  count(*) - count(DISTINCT cluster_id) AS n_pruned,
         |  (SELECT count(*) FROM embeddings)
         |    - (count(*) - count(DISTINCT cluster_id)) AS n_kept
         |FROM comp""".stripMargin) { (s, d) =>
      // one materialization serves the pair count AND the component pass
      val pairs = semanticPairs(s, d, k = Some(8)) // oracle's literal k
        .select("vec_a", "vec_b")
        .materialized
      val comp = connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      val compStats = comp.agg(count(lit(1)).as("n_matched"),
        countDistinct("cluster_id").as("n_clusters"))
      val nVec = Tables.embeddings(s, d).agg(count(lit(1)).as("n_vectors"))
      val nPairs = pairs.agg(count(lit(1)).as("n_dup_pairs"))
      nVec.crossJoin(nPairs).crossJoin(compStats)
        .select(col("n_vectors"), col("n_dup_pairs"), col("n_clusters"),
          (col("n_matched") - col("n_clusters")).as("n_pruned"),
          (col("n_vectors") - (col("n_matched") - col("n_clusters")))
            .as("n_kept"))
    }

  /** Per-document duplication PROFILE: the fraction of a doc's distinct
    * 5-token shingles that occur in any OTHER copy of the corpus (shingle
    * document-frequency ≥ 2) — the "duplication ratio" corpus-card
    * measurement (RefinedWeb/Gopher report exactly this per source) that
    * complements the pair-finding tier: dd01-dd09 decide WHICH docs to
    * drop; dd11 measures HOW duplicated each survivor still is, so a
    * curation run can gate sources on contamination instead of guessing.
    *
    * Integer-exact end to end: distinct-shingle and duplicated-shingle
    * counts are integers, the ratio is one final division, and the 0.5
    * flag threshold compares the exact ratio — no float drift possible.
    *
    * Scale shape: the per-doc distinct collapse is MAP-SIDE (the kernel
    * emits the distinct in-row array — no shuffle of raw shingle
    * instances); only df ≥ 2 is consumed, so document frequency reduces
    * to MEMBERSHIP in the multi-doc vocabulary — built by a map-side-
    * combinable groupBy (a Zipf-skewed boilerplate shingle collapses to
    * one row per mapper before the exchange, the partial aggregation a
    * partitionBy(sh) window count never gets) and LEFT-joined back
    * (broadcastable; AQE-skew-splittable otherwise). No corpus-sized
    * window on a content key; the trade is dd12's — a second pushed-down
    * scan instead of a corpus-wide shuffle-and-sort on `sh`. */
  val dd11DupProfile: Q = Q(
    "dd11_dup_profile",
    """WITH toks AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS l
      |       FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, len(l) - 3),
      |         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
      |              l[i+3] || ' ' || l[i+4]))) AS sh
      |       FROM toks WHERE len(l) >= 5),
      |wdf AS (SELECT doc_id, count(*) OVER (PARTITION BY sh) AS df
      |        FROM sh)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup,
      |  floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)
      |    * 10000 + 0.5) / 10000 AS dup_ratio,
      |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*) >= 0.5
      |    AS flagged
      |FROM wdf GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    // codegen'd kernel; <5-token docs emit an empty array, so the old
    // size(l) >= 5 pre-filter is subsumed by the explode. Rows are
    // per-doc DISTINCT, so the oracle's window count per sh IS the
    // document frequency — and only df >= 2 is consumed, a MEMBERSHIP
    // test. Same skew-safe reduction as dd12: build the multi-doc
    // vocabulary with a map-side-combinable groupBy (a hot boilerplate
    // shingle collapses to one row per mapper — the partial aggregation
    // a partitionBy(sh) window never gets), LEFT-join it back (broadcast
    // here, AQE-skew-splittable at scale), and count matches per doc.
    // `def` on purpose: TWO consumers (build + probe) recompute the
    // explode rather than checkpoint a frame larger than the corpus —
    // if a THIRD consumer is ever added, switch to `.materialized` per
    // the repo's multi-consumer checkpoint convention.
    def rows = docs(s, d)
      .select(col("doc_id"), explode(graft.functions.Shingles
        .ngramsCol(col("text"), 5, skipEmpty = true, distinct = true))
        .as("sh"))
    val multiDoc = rows.groupBy("sh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("sh"), lit(1).as("isdup"))
    val dup = count(col("isdup"))
    rows.join(multiDoc, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        dup.cast("long").as("n_dup"),
        StableRound.r4(dup * lit(1.0) / count(lit(1))).as("dup_ratio"),
        (dup * lit(1.0) / count(lit(1)) >= 0.5).as("flagged"))
      .orderBy("doc_id")
  }

  /** Exact repeated-SUBSTRING span extraction — the sequence-level half of
    * exact dedup (the RefinedWeb/"Deduplicating Training Data Makes LMs
    * Better" operator): instead of dropping whole documents, find the
    * maximal token spans that recur verbatim in some OTHER document, so a
    * curation pass can excise boilerplate (headers, licence blocks, nav
    * chrome) while keeping the unique remainder. A token position is
    * duplicated iff its 5-token shingle occurs in at least one other doc
    * (corpus occurrences > in-doc occurrences — pure within-doc repetition
    * is tx05's job, not cross-doc contamination); consecutive duplicated
    * positions merge into one maximal span.
    *
    * Scale shape: the suffix-array the paper builds is a single-node
    * luxury — relationally, "position's shingle recurs elsewhere"
    * reduces to membership in the MULTI-DOC shingle vocabulary (the
    * oracle spells it as two window counts; total > indoc ⟺ the shingle
    * has ≥2 distinct docs, proven equal here). The vocabulary comes from
    * a composite-key (sh, doc_id) distinct + per-sh count — the q23
    * skew-proof shape, where no reducer ever sees all of one hot
    * shingle — and positions LEFT-SEMI join it: broadcastable when the
    * multi-doc vocabulary fits, AQE-skew-splittable otherwise, so a
    * Zipf-skewed boilerplate shingle ("click here …" in a million docs)
    * cannot pile a corpus partition onto one task the way a
    * partitionBy(sh) window would. Survivor positions re-key ONCE by doc
    * for the run-grouping window (pos − row_number, the ev10 island
    * trick — partitions bounded by document length) and the span rollup
    * rides that same doc exchange. The trade vs the window spelling:
    * two pushed-down corpus scans (build + probe sides) instead of one
    * scan feeding a corpus-sized sh-keyed shuffle-AND-SORT — scans are
    * the cheap, skew-free side of that exchange at any scale, and no
    * corpus-sized window on a content key remains. */
  val dd12DupSpans: Q = Q(
    "dd12_dup_spans",
    """WITH toks AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS l
      |       FROM documents),
      |shp AS (SELECT doc_id, d AS pos,
      |         l[d+1] || ' ' || l[d+2] || ' ' || l[d+3] || ' ' ||
      |         l[d+4] || ' ' || l[d+5] AS sh
      |       FROM (SELECT doc_id, l, unnest(range(len(l) - 4)) AS d
      |             FROM toks WHERE len(l) >= 5)),
      |w AS (SELECT doc_id, pos,
      |        count(*) OVER (PARTITION BY sh) AS total,
      |        count(*) OVER (PARTITION BY sh, doc_id) AS indoc
      |      FROM shp),
      |runs AS (SELECT doc_id, pos,
      |           pos - row_number() OVER (PARTITION BY doc_id
      |             ORDER BY pos) AS grp
      |         FROM w WHERE total > indoc)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens,
      |  count(*) AS n_positions
      |FROM runs GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    val shp = docs(s, d)
      .select(col("doc_id"), posexplode(graft.functions.Shingles
        .ngramsCol(col("text"), 5, skipEmpty = true, distinct = false))
        .as(Seq("pos", "sh")))
    // A position survives iff its shingle's corpus count exceeds its
    // in-doc count — which holds for EVERY row of a shingle present in
    // ≥2 distinct docs and NO row otherwise. So the oracle's two window
    // counts reduce to a semi-join against the multi-doc shingle list,
    // and that list comes from a composite-key (sh, doc_id) distinct —
    // the q23 shape, skew-proof by construction. The SKEW HAZARD the
    // window formulation carried is gone: a boilerplate shingle in a
    // million docs used to pile every occurrence onto one window
    // reducer; now nothing sorts or counts on bare `sh` except the
    // already-collapsed distinct frame, and the semi-join's build side
    // is AQE-skew-splittable (or broadcast, when the multi-doc
    // vocabulary fits). The corpus-sized position stream flows straight
    // to the doc-keyed island window, whose partitions are bounded by
    // document length.
    val multiDoc = shp.select("sh", "doc_id").distinct()
      .groupBy("sh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("sh")
    shp
      .join(multiDoc, Seq("sh"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + 5).cast("long").as("span_tokens"),
        count(lit(1)).as("n_positions"))
      .select("doc_id", "span_start", "span_tokens", "n_positions")
      .orderBy("doc_id", "span_start")
  }

  /** Cross-source contamination matrix — the inter-dump overlap
    * measurement every multi-crawl curation run reports (RefinedWeb
    * measures exactly this across CommonCrawl dumps before choosing a
    * dedup order): for every source pair, how many distinct 5-token
    * shingles they share, each side's containment (shared / own
    * vocabulary), and the Jaccard. High containment of A in B means A is
    * mostly recycled B content — drop A's duplicates first.
    *
    * Scale shape: the shingle stream groups ONCE by shingle and
    * collect_set's the sources — the set is bounded by |sources| (a
    * catalog-sized constant, ~20 here), so the agg buffer never sees a
    * mega-bucket even on a shingle every source contains. Each set then
    * emits, IN-ROW, both its pair structs and one ('src', '') total
    * marker, so pair counts AND per-source totals fall out of a single
    * map-side-combined aggregation over one consumer — the corpus-sized
    * set frame is never cached and never read twice. Only the resulting
    * ≤ |sources|²+|sources| row table is checkpointed (it has two
    * readers), and the totals join back broadcast. One corpus scan, one
    * wide exchange; no join ever carries the corpus. */
  val dd13SourceOverlap: Q = Q(
    "dd13_source_overlap",
    """WITH toks AS (SELECT source,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS l
      |       FROM documents),
      |sh AS (SELECT DISTINCT source,
      |         l[d+1] || ' ' || l[d+2] || ' ' || l[d+3] || ' ' ||
      |         l[d+4] || ' ' || l[d+5] AS sh
      |       FROM (SELECT source, l, unnest(range(len(l) - 4)) AS d
      |             FROM toks WHERE len(l) >= 5)),
      |tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      |c AS (SELECT a.source AS src_a, b.source AS src_b,
      |        count(*) AS shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT c.src_a, c.src_b, CAST(c.shared AS BIGINT) AS shared,
      |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
      |  floor(CAST(c.shared AS DOUBLE) / ta.n * 10000 + 0.5) / 10000
      |    AS containment_a,
      |  floor(CAST(c.shared AS DOUBLE) / tb.n * 10000 + 0.5) / 10000
      |    AS containment_b,
      |  floor(CAST(c.shared AS DOUBLE) / (ta.n + tb.n - c.shared)
      |    * 10000 + 0.5) / 10000 AS jaccard
      |FROM c JOIN tot ta ON ta.source = c.src_a
      |       JOIN tot tb ON tb.source = c.src_b
      |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    import s.implicits._
    // distinct sources per shingle in ONE exchange — collect_set both
    // dedups (no separate DISTINCT pass) and bounds the bucket at
    // |sources|, unlike a doc-keyed collect_list
    val srcSets = docs(s, d)
      .select(col("source"), explode(graft.functions.Shingles
        .ngramsCol(col("text"), 5, skipEmpty = true, distinct = false))
        .as("sh"))
      .groupBy("sh").agg(array_sort(collect_set("source")).as("srcs"))
    // ONE consumer of the corpus-sized frame: each shingle's bounded set
    // emits BOTH its in-row pair structs and a ('src', '') total marker,
    // so pair counts and per-source totals fall out of a single
    // map-side-combined aggregation — nothing corpus-sized is ever
    // cached or recomputed. The agg result is CATALOG-bounded
    // (≤ |sources|² + |sources| rows, ~400 for 20 sources at any
    // corpus size), so everything after it is DRIVER work: one bounded
    // collect replaces the round-14 checkpoint + two broadcast joins +
    // distributed sort — five jobs of pure scheduling floor for a
    // frame smaller than this comment (round-14 verdict #5 job-shave;
    // same class as the batchParts/centroid collects). The metric
    // arithmetic reproduces StableRound.r4 bit-for-bit:
    // floor(x*10000 + 0.5)/10000 on doubles.
    val aggF = srcSets
      // kernel pairs+markers expansion (PairExpandSpec pins the concat
      // spelling it replaces — this projection runs once per shingle)
      .select(explode(
        graft.functions.PairExpand.pairsStrTaggedCol(col("srcs"))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    // driver-memory guard on the bounded collect (round-15 advice): the
    // aggregate is ≤ |sources|²+|sources| rows — tiny at the documented
    // ~20-source catalog scale, but `source` cardinality is data-driven,
    // and a corpus whose source column turned out to be per-crawl (or
    // per-URL) must fall back to the distributed join/orderBy shape
    // instead of collecting an unbounded matrix. limit(cap+1) keeps the
    // probe itself bounded; ≤ cap rows means the collect was COMPLETE.
    val DriverMatrixCap = 100000 // ≈ 316 sources
    val tagged = aggF.limit(DriverMatrixCap + 1).collect()
    if (tagged.length > DriverMatrixCap) {
      // distributed fallback — the pre-round-15 shape: totals broadcast
      // back onto the pair rows, metrics and the final sort in the plan
      val pairsF = aggF.filter(col("src_b") =!= "").materialized
      val totalsF = aggF.filter(col("src_b") === "")
        .select(col("src_a").as("src"), col("shared").as("n"))
      def m(x: org.apache.spark.sql.Column) =
        graft.functions.StableRound.r4(x)
      pairsF
        .join(broadcast(totalsF.select(col("src").as("src_a"),
          col("n").as("n_a"))), "src_a")
        .join(broadcast(totalsF.select(col("src").as("src_b"),
          col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"),
          col("n_a"), col("n_b"),
          m(col("shared") / col("n_a")).as("containment_a"),
          m(col("shared") / col("n_b")).as("containment_b"),
          m(col("shared") /
            (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
        .orderBy("src_a", "src_b")
    } else {
    val totals = tagged.filter(_.getString(1).isEmpty)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    implicit val utf8Ord: Ordering[String] = utf8Ordering
    tagged.filter(_.getString(1).nonEmpty)
      .map { r =>
        val (a, b, shared) = (r.getString(0), r.getString(1), r.getLong(2))
        val (na, nb) = (totals(a), totals(b))
        (a, b, shared, na, nb,
          r4(shared.toDouble / na), r4(shared.toDouble / nb),
          r4(shared.toDouble / (na + nb - shared)))
      }
      .sortBy(t => (t._1, t._2))(
        Ordering.Tuple2(utf8Ord, utf8Ord)).toSeq
      .toDF("src_a", "src_b", "shared", "n_a", "n_b",
        "containment_a", "containment_b", "jaccard")
    }
  }

  /** Representative selection: turn dd06's near-dup clusters into the
    * keep/drop decision a dedup pass actually ships — per cluster, KEEP
    * the longest member (ties → smallest doc_id; "keep the longest" is
    * the standard web-corpus policy: truncations and teasers lose to the
    * full article they duplicate). One row per cluster: the survivor,
    * its length, and how many members it retires.
    *
    * Scale shape: the cluster labels are one row per MATCHED doc (sparse
    * — the corpus-sized unmatched remainder never enters), joined to the
    * narrow (doc_id, n_chars) projection of documents. The argmax is a
    * window over cluster_id and the rollup a groupBy over the SAME key,
    * so both ride one exchange of the sparse label table. At 100 TB the
    * cost is dominated by dd06's component step, not this decision pass. */
  /** Shared keep/drop decision over dd06's clusters: every clustered doc
    * with its cluster_id, length, and keep-rank (rk 1 = the survivor —
    * longest member, doc_id tiebreak). dd14 aggregates this; pipe17 uses
    * rk > 1 as the drop list. */
  private def keepDecision(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = lshPairs(s, d)
    componentsLocal(pairs) match {
      case Some(labels) =>
        // DRIVER TAIL (round-18 job audit, the dd13/pipe17-tail recipe):
        // the matched set is exactly the pair graph's vertices — already
        // driver-resident and cap-bounded by componentsLocal — so the
        // only distributed fact still needed is each matched doc's
        // n_chars: ONE broadcast-semi-joined collect of the narrow
        // (doc_id, n_chars) projection. The old spelling paid a labels
        // join + a sized checkpoint + the argmax groupBy + a join-back
        // (dd14 measured 16 jobs; the whole tail after the components
        // collect was distributed work on a vertex-bounded frame). The
        // argmax semantics are unchanged: keep = min by (-n_chars,
        // doc_id) per cluster — integer comparisons, engine-exact.
        val lbl = labels.toMap
        val ids = labels.map(_._1).toSeq.toDF("doc_id")
        val sized: Array[(Long, Long, Long)] = docs(s, d)
          .select(col("doc_id"), col("n_chars"))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .collect().map(r => {
            val id = r.getLong(0)
            (lbl(id), id, r.getLong(1))
          })
        val keepOf = sized.groupBy(_._1).map { case (c, rows) =>
          c -> rows.minBy(t => (-t._3, t._2))._2
        }
        sized.toSeq.map { case (c, id, n) =>
          (c, id, n, if (id == keepOf(c)) 1 else 2)
        }.toDF("cluster_id", "doc_id", "n_chars", "rk")
      case None =>
        // distributed fallback (graph past the driver cap): the
        // pre-round-18 shape, argmax via partial-aggregable fold.
        // connectedComponents re-probes (one extra bounded collect) —
        // only on the rare past-cap path, where the loop's cost dwarfs it
        val labels = connectedComponents(pairs)
        val sized = labels.join(
          docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
          .materialized
        val best = sized.groupBy("cluster_id")
          .agg(min(struct((-col("n_chars")).as("neg"),
            col("doc_id").as("d"))).as("b"))
          .select(col("cluster_id"), col("b.d").as("keep_doc"))
        sized.join(best, "cluster_id")
          .withColumn("rk",
            when(col("doc_id") === col("keep_doc"), 1).otherwise(2))
          .drop("keep_doc")
    }
  }

  /** SQL twin of [[keepDecision]]: components of the LSH pair graph plus
    * the per-cluster keep-rank, as `scored(cluster_id, doc_id, n_chars,
    * rk)`. Shared by dd14 and pipe17 so both oracles state the identical
    * decision. */
  private val clusterKeepCte =
    s"""$lshPairsCte,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |          UNION SELECT doc_b, doc_a FROM lsh_pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |  WHERE e.dst <> r.src),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |         FROM reach GROUP BY src),
       |scored AS (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)""".stripMargin

  val dd14ClusterReps: Q = Q(
    "dd14_cluster_reps",
    s"""WITH RECURSIVE $clusterKeepCte
       |SELECT cluster_id,
       |  max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc,
       |  max(CASE WHEN rk = 1 THEN n_chars END) AS keep_chars,
       |  count(*) AS n_members, count(*) - 1 AS n_dropped
       |FROM scored GROUP BY cluster_id ORDER BY cluster_id""".stripMargin) {
    (s, d) =>
    // keep flag from the partial-agg argmax (see keepDecision) then
    // rollup on the same cluster_id key; the label table is the sparse
    // side and broadcasts into the length join
    keepDecision(s, d)
      .groupBy("cluster_id")
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keep_doc"),
        max(when(col("rk") === 1, col("n_chars"))).as("keep_chars"),
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Dedup-aware mixture shift: how the near-dup pass (dd14's keep/drop
    * decision) moves each source's share of the corpus. Boilerplate-heavy
    * sources lose disproportionally many docs to dedup, so the mixture a
    * curator tuned BEFORE dedup (pipe03) is not the mixture that trains —
    * this is the diagnostic that quantifies the skew (drop rate per
    * source, share before/after, signed shift).
    *
    * Scale shape: ONE corpus scan — the sparse drop list (clustered docs
    * with keep-rank > 1) broadcasts into a left join, and per-source
    * before/dropped counts fall out of a single map-side-combined
    * aggregation; totals are re-aggregated from the |sources|-row result
    * and broadcast back. No corpus shuffle at all. */
  val pipe17DedupMixture: Q = Q(
    "pipe17_dedup_mixture",
    s"""WITH RECURSIVE $clusterKeepCte,
       |dropped AS (SELECT doc_id FROM scored WHERE rk > 1),
       |surv AS (SELECT source FROM documents
       |         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |b AS (SELECT source, count(*) AS n_before FROM documents GROUP BY 1),
       |a AS (SELECT source, count(*) AS n_after FROM surv GROUP BY 1),
       |m AS (SELECT b.source, b.n_before,
       |        coalesce(a.n_after, 0) AS n_after
       |      FROM b LEFT JOIN a ON a.source = b.source),
       |t AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb,
       |             CAST(sum(n_after) AS BIGINT) AS ta FROM m)
       |SELECT m.source, m.n_before, m.n_after,
       |  floor(CAST(m.n_before - m.n_after AS DOUBLE) / m.n_before
       |    * 10000 + 0.5) / 10000 AS drop_rate,
       |  floor(CAST(m.n_before AS DOUBLE) / t.tb * 10000 + 0.5) / 10000
       |    AS share_before,
       |  floor(CAST(m.n_after AS DOUBLE) / t.ta * 10000 + 0.5) / 10000
       |    AS share_after,
       |  floor((CAST(m.n_after AS DOUBLE) / t.ta
       |    - CAST(m.n_before AS DOUBLE) / t.tb) * 10000 + 0.5) / 10000
       |    AS share_shift
       |FROM m, t ORDER BY source""".stripMargin) { (s, d) =>
    import s.implicits._
    val dropped = keepDecision(s, d).filter(col("rk") > 1)
      .select(col("doc_id"), lit(1).as("is_dropped"))
    // count(col) ignores nulls → dropped-per-source from the same scan
    val perF = docs(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(dropped), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_before"),
        count(col("is_dropped")).as("n_dropped"))
    // The aggregate is CATALOG-bounded (one row per source), so the
    // totals + shares + sort tail is DRIVER work — the dd13 round-15
    // recipe (round-16 verdict #4: pipe17's tail paid a checkpoint, a
    // second aggregate, a broadcast cross-join and a distributed sort
    // for a frame smaller than this comment). Same guard as dd13: a
    // data-driven source cardinality past the cap falls back to the
    // distributed tail; the driver arithmetic reproduces StableRound.r4
    // bit-for-bit and the sort is binary UTF-8 (collation parity).
    val DriverSourcesCap = 100000
    val rows = perF.limit(DriverSourcesCap + 1).collect()
    if (rows.length > DriverSourcesCap) {
      val per = perF
        .withColumn("n_after", col("n_before") - col("n_dropped"))
        .materialized
      val totals = per.agg(sum("n_before").as("tb"),
        sum("n_after").as("ta"))
      per.crossJoin(broadcast(totals))
        .select(col("source"), col("n_before"), col("n_after"),
          graft.functions.StableRound.r4(col("n_dropped").cast("double") /
            col("n_before")).as("drop_rate"),
          graft.functions.StableRound.r4(col("n_before").cast("double") /
            col("tb")).as("share_before"),
          graft.functions.StableRound.r4(col("n_after").cast("double") /
            col("ta")).as("share_after"),
          graft.functions.StableRound.r4(
            col("n_after").cast("double") / col("ta")
              - col("n_before").cast("double") / col("tb"))
            .as("share_shift"))
        .orderBy("source")
    } else {
      def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
      val data = rows.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
      val tb = data.map(_._2).sum.toDouble
      val ta = data.map(t => t._2 - t._3).sum.toDouble
      data.map { case (src, nb, nd) =>
        val na = nb - nd
        (src, nb, na, r4(nd.toDouble / nb), r4(nb.toDouble / tb),
          r4(na.toDouble / ta), r4(na.toDouble / ta - nb.toDouble / tb))
      }.sortBy(_._1)(utf8Ordering).toSeq
        .toDF("source", "n_before", "n_after", "drop_rate",
          "share_before", "share_after", "share_shift")
    }
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * k=8 signature-agreement estimate (matches/8) NEXT TO the exact
    * shingle Jaccard, with the absolute error. The estimator-honesty
    * gate for the minhash tier — same role dd10 plays for semantic
    * dedup and sim05 for IVF: the sketch must be measured against the
    * truth it approximates, on the pairs it actually emits (E[est] =
    * true Jaccard is the published MinHash property; k=8 makes the
    * estimate coarse, which is exactly what this surface shows).
    *
    * Scale shape: signatures are computed ONCE (checkpointed — three
    * consumers: the banding and both sides of the agreement join); the
    * agreement join is candidate-pairs × 8 signature columns (narrow,
    * pair-sized), and the exact side is dd08's jaccardVerify on the
    * same candidate set — never all-pairs. */
  val dd15MinhashCalibration: Q = Q(
    "dd15_minhash_calibration",
    s"""WITH $lshPairsCte,
       |m AS (SELECT p.doc_a, p.doc_b,
       |        CAST(count(CASE WHEN a.mh = b.mh THEN 1 END) AS BIGINT)
       |          AS n_match
       |      FROM lsh_pairs p
       |      JOIN sig a ON a.doc_id = p.doc_a
       |      JOIN sig b ON b.doc_id = p.doc_b AND b.seed = a.seed
       |      GROUP BY 1, 2),
       |nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shr AS (SELECT p.doc_a, p.doc_b, count(*) AS shared
       |        FROM lsh_pairs p
       |        JOIN sh a ON a.doc_id = p.doc_a
       |        JOIN sh b ON b.doc_id = p.doc_b AND b.tok = a.tok
       |        GROUP BY 1, 2),
       |j AS (SELECT m.doc_a, m.doc_b, m.n_match,
       |        CAST(m.n_match AS DOUBLE) / 8 AS est_sim,
       |        floor(CAST(coalesce(s.shared, 0) AS DOUBLE)
       |          / (na.n_sh + nb.n_sh - coalesce(s.shared, 0))
       |          * 10000 + 0.5) / 10000 AS jaccard
       |      FROM m
       |      LEFT JOIN shr s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b
       |      JOIN nsh na ON na.doc_id = m.doc_a
       |      JOIN nsh nb ON nb.doc_id = m.doc_b)
       |SELECT doc_a, doc_b, n_match, est_sim, jaccard,
       |  floor(abs(est_sim - jaccard) * 10000 + 0.5) / 10000 AS abs_err
       |FROM j ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val docsDf = docs(s, d)
    // Checkpoint LADDER, each rung feeding every consumer of the last:
    // sets (one text-split pass) → signature-with-rep (banding + BOTH
    // agreement sides read this one materialization — not a second
    // signature checkpoint) → candidate pairs (estimate side + exact
    // verify side). Nothing in the chain is derived twice, and the
    // exact verifier reuses the sets rung instead of re-splitting text.
    val sets = shingleSets(Tables.spread(s, docsDf, "doc_id")).materialized
    val rep = sigWithRep(minhashSigFromSets(sets))
    val pairs = lshPairsFromRep(rep).select("doc_a", "doc_b").materialized
    val aSide = rep.select(col("doc_id").as("doc_a") +:
      (0 until 8).map(k => col(s"m$k").as(s"a$k")): _*)
    val bSide = rep.select(col("doc_id").as("doc_b") +:
      (0 until 8).map(k => col(s"m$k").as(s"b$k")): _*)
    // the estimate side and the exact-verify side both read checkpoints
    // only (pairs/rep/sets), so ONE final job evaluates both in parallel
    // stages — measured: submitting them as separately-materialized
    // concurrent chains is SLOWER here (3.63 s vs 3.16 s at sf0.1): the
    // side outputs are tiny and the two extra checkpoint jobs cost more
    // than the overlap buys once nothing heavy is derived twice
    val est = pairs.join(aSide, "doc_a").join(bSide, "doc_b")
      .withColumn("n_match", (0 until 8)
        .map(k => when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
        .reduce(_ + _))
      .select("doc_a", "doc_b", "n_match")
    est.join(jaccardVerifyFrom(sets, pairs, threshold = 0.0),
        Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        (col("n_match").cast("double") / 8).as("est_sim"),
        col("jaccard"),
        graft.functions.StableRound.r4(
          abs(col("n_match").cast("double") / 8 - col("jaccard")))
          .as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  val queries: Seq[Q] = Seq(
    dd01ExactDedup, dd02NgramJaccard, dd03MinhashLsh, dd04Simhash,
    dd05EmbeddingDup, dd06DupClusters, dd07WinnowPairs, dd08CandidateJaccard,
    dd09SemanticDedup, dd10SemdedupRecall, pipe13SemanticPrune,
    dd11DupProfile, dd12DupSpans, dd13SourceOverlap, dd14ClusterReps,
    pipe17DedupMixture, dd15MinhashCalibration)
}
