package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.executor.CommandLog
import graft.model.SystemClock
import graft.pipeline.{Dedup, Forget, IncrementalAnn, IncrementalDedup, TextAnalysis}
import graft.scheduler.{ArrivalConfig, ArrivalPass, ArrivalReport}

/** `graft.scheduler.ArrivalPass.run`, the composed nightly pass, over a
  * landing zone: documents and vectors arrive in three passes (the first
  * bootstraps the stores, the other two are the steady passes), then a
  * takedown file arrives alone, and a last pass finds nothing new. */
object ArrivalWorkload extends Workload {
  val name = "arrival_nightly"
  val Passes = 3
  /** Document files (of the generated 20) kept resident, landed per pass
    * and held back for the traced run's direct layer calls. */
  val ResidentFiles = 2
  val FilesPerPass = 1
  val Stages = Seq("integrity_incremental", "dedup_ingest", "ann_ingest",
    "forget_queue", "ann_maintain", "oov_qc", "table_compact")

  final case class Landing(dir: File, docBatches: Seq[Seq[File]],
      vecBatches: Seq[Seq[File]], rows: Seq[Long], probeDocs: Seq[File],
      probeVecs: Seq[File], takedown: File)

  final case class PassRun(report: ArrivalReport, wallS: Double, rows: Long)

  val TableNames = Seq("documents", "embeddings", "takedowns")
  def prepare(ctx: Ctx): Unit = ctx.tables(0.1, TableNames: _*)

  def run(ctx: Ctx): Result = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val tables = ctx.tables(0.1, TableNames: _*)
    val docFiles = Fs.partFiles(new File(tables, "documents.parquet"))
    val vecFiles = Fs.partFiles(new File(tables, "embeddings.parquet"))

    // Inputs are derived by copying files, no Spark job: one seeded
    // permutation of the part numbers picks the resident documents, each
    // pass's documents and vectors, and the files held back for the traced
    // run's layer calls. The takedown names ids from pass 1's files.
    def derive(d: File): Landing = {
      val perm = new Random(ctx.seed).shuffle(docFiles.indices.toList)
      val landed = perm.slice(ResidentFiles, ResidentFiles + Passes)
      perm.take(ResidentFiles).zipWithIndex.foreach { case (k, i) =>
        Fs.copy(docFiles(k), new File(d, f"db/documents.parquet/part-$i%02d.parquet"))
      }
      val takedown = new File(d, "takedown")
      Fs.partFiles(new File(tables, s"takedowns.parquet/part=${landed.head}"))
        .foreach(f => Fs.copy(f, new File(takedown, f.getName)))
      val probe = perm.slice(ResidentFiles + Passes, ResidentFiles + Passes + 2)
      Landing(new File(d, "landing"), landed.map(k => Seq(docFiles(k))),
        landed.map(k => Seq(vecFiles(k))),
        landed.map(k => Fs.parquetRows(docFiles(k)) + Fs.parquetRows(vecFiles(k))),
        probe.map(docFiles), probe.map(vecFiles), takedown)
    }

    var landing: Landing = null
    val (setupS, input) = Setup(ctx)(d => landing = derive(d), d =>
      // untimed warm-up: the signature kernel over the resident corpus
      Dedup.minhashSig(spark.read.parquet(new File(d, "db/documents.parquet").getPath))
        .count())
    val inputDigest = Fs.digest(input)
    val root = ctx.dir("arrival")
    val cfg = ArrivalConfig(
      landing = landing.dir.getPath,
      dbs = Map("corpus" -> new File(input, "db").getPath),
      checkpointRoot = new File(root, "ckpt").getPath,
      sigStorePath = new File(root, "sigs").getPath,
      dedupOut = new File(root, "pairs").getPath,
      annStorePath = new File(root, "ann").getPath)
    val log = new CommandLog(spark, None)

    def land(i: Int): Long = {
      def put(files: Seq[File], sub: String) = files.foreach(f =>
        Fs.copy(f, new File(landing.dir, s"$sub/p$i-${f.getName}")))
      put(landing.docBatches(i), "documents")
      put(landing.vecBatches(i), "embeddings")
      landing.rows(i)
    }
    def pass(rows: Long): PassRun = {
      val t0 = System.nanoTime()
      val r = ArrivalPass.run(spark, cfg, log, SystemClock)
      val t1 = System.nanoTime()
      ctx.spans.add("arrival.pass", t0, t1)
      r.stages.foreach(s => ctx.spans.add(s"scheduler.stage.${s.stage}", t1 -
        (s.seconds * 1e9).toLong, t1, "arrival.pass"))
      PassRun(r, (t1 - t0) / 1e9, rows)
    }

    Main.Heap.reset()
    val first = pass(land(0))
    ctx.counters.reset()
    val steady = (1 until Passes).map(i => pass(land(i)))
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val counts = ctx.counters.snapshot
    Fs.partFiles(landing.takedown).foreach(f =>
      Fs.copy(f, new File(landing.dir, "forget/takedown-1.parquet")))
    val takedown = pass(0L)
    val quiet = pass(0L)
    val peak = Main.Heap.peakMb()
    val all = Seq(first) ++ steady ++ Seq(takedown, quiet)

    // output checks
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = if (!ok) {
      failed += 1; notes += what
    }
    all.zipWithIndex.foreach { case (p, i) =>
      p.report.stages.filter(_.status == "failed").foreach(s =>
        check(false, s"pass ${i + 1}: stage ${s.stage} failed: ${s.detail}"))
      check(p.report.errors == 0, s"pass ${i + 1}: ${p.report.errors} errors")
    }
    val quietRan = quiet.report.stages.filter(s => Set("dedup_ingest",
      "ann_ingest", "forget_queue", "oov_qc")(s.stage) && s.status != "skipped_empty")
    check(quietRan.isEmpty, s"quiet pass ran ${quietRan.map(_.stage).mkString(",")}")
    check(takedown.report.stages.exists(s => s.stage == "forget_queue" && s.status == "ran"),
      "the takedown pass did not run the forget queue")
    val forget = spark.read.parquet(landing.takedown.getPath)
    val forgetDocs = forget.filter(col("doc_id").isNotNull).select("doc_id").as[Long].collect().toSeq
    val forgetVecs = forget.filter(col("vec_id").isNotNull).select("vec_id").as[Long].collect().toSeq
    val docsLanded = landing.docBatches.flatten
    val vecsLanded = landing.vecBatches.flatten
    val nDocs = spark.read.parquet(docsLanded.map(_.getPath): _*).count()
    val nVecs = spark.read.parquet(vecsLanded.map(_.getPath): _*).count()
    val sig = new IncrementalDedup.SigStore(spark, cfg.sigStorePath).load().get
    val sigDocs = sig.select("doc_id").distinct().count()
    check(sigDocs == nDocs - forgetDocs.size,
      s"signature store holds $sigDocs documents, expected " +
        s"${nDocs - forgetDocs.size}")
    val ann = new IncrementalAnn.AnnIndexStore(spark, cfg.annStorePath).load().get
    val annRows = ann.count()
    check(annRows == nVecs - forgetVecs.size,
      s"ANN index holds $annRows vectors, expected ${nVecs - forgetVecs.size}")
    def holds(df: DataFrame, c: String, ids: Seq[Long]): Long =
      df.filter(col(c).isin(ids: _*)).count()
    check(holds(sig, "doc_id", forgetDocs) == 0, "forgotten documents remain in the signature store")
    check(holds(ann, "vec_id", forgetVecs) == 0, "forgotten vectors remain in the ANN index")
    val pairs = spark.read.parquet(cfg.dedupOut)
    val pairHits = pairs.schema.fields.filter(_.dataType.typeName == "long")
      .map(f => holds(pairs, f.name, forgetDocs)).sum
    check(pairHits == 0, s"forgotten documents remain in $pairHits pair rows")
    val attempted = all.map(_.report.stages.size).sum + 5L // + the store checks

    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> first.wallS,
      "pass_s" -> Stats.median(steady.map(_.wallS)),
      "ops_per_s" -> Stats.median(steady.map(p => p.rows / p.wallS)),
      "peak_heap_mb" -> peak)
    val layers = if (!ctx.trace) Map.empty[String, Double]
      else probeLayers(ctx, cfg, landing, input) ++
        // a stage's seconds over the steady passes, and the forget queue's
        // in the takedown pass
        Stages.map { s =>
          val passes = if (s == "forget_queue") Seq(takedown) else steady
          val ran = passes.flatMap(_.report.stages.filter(r => r.stage == s && r.status == "ran"))
          s"scheduler.stage_s.$s" -> (if (ran.isEmpty) 0.0 else Stats.median(ran.map(_.seconds)))
        } ++
        Map(
          "scheduler.stage_sum_s" -> Stats.median(steady.map(_.report.stages.map(_.seconds).sum)),
          "scheduler.unattributed_s" -> Stats.median(steady.map(p =>
            p.wallS - p.report.stages.map(_.seconds).sum)),
          "arrival.rows_per_s" -> e2e("ops_per_s"),
          "arrival.quiet_pass_s" -> quiet.wallS,
          "arrival.takedown_pass_s" -> takedown.wallS,
          "pipeline.sigstore_rows" -> sig.count().toDouble
        ) ++ SparkLayer.metrics(counts, steady.map(_.wallS).sum, ctx.cores, steady.size)
    Result(e2e, layers, attempted, failed, inputDigest,
      Fs.sha256(s"$sigDocs,$annRows,${pairs.count()}"), notes.toSeq :+
        s"stages=${all.map(_.report.stages.map(s => s"${s.stage}:${s.status}:${s.seconds}")
          .mkString(" ")).mkString(" | ")}")
  }

  /** Direct calls to the layers the pass composes, on copies of the stores
    * the passes left behind, with held-back documents and vectors. */
  private def probeLayers(ctx: Ctx, cfg: ArrivalConfig, landing: Landing,
      input: File): Map[String, Double] = {
    val spark = ctx.spark
    val probe = ctx.dir("arrival-probe")
    def copyOf(p: String): String = {
      val to = new File(probe, new File(p).getName)
      Fs.copyTree(new File(p), to)
      to.getPath
    }
    val sigPath = copyOf(cfg.sigStorePath)
    val annPath = copyOf(cfg.annStorePath)
    val pairsPath = copyOf(cfg.dedupOut)
    val docs = spark.read.parquet(landing.probeDocs.map(_.getPath): _*)
    val vecs = spark.read.parquet(landing.probeVecs.map(_.getPath): _*)
      .select(col("vec_id"), graft.functions.Quantize.toLongsCol(col("embedding")).as("qv"))
    val s = ctx.spans
    val st = new IncrementalDedup.SigStore(spark, sigPath)
    val dedupPairs = st.withLease {
      val loaded = s.time("pipeline.sigstore_load")(st.load().get)
      val inc = s.time("pipeline.dedup_ingest")(IncrementalDedup.ingest(loaded,
        Dedup.minhashSig(docs), buckets = st.buckets, keepRect = true))
      val n = s.time("pipeline.dedup_pairs")(inc.pairs.count())
      try s.time("pipeline.sigstore_save")(
        st.saveIncremental(inc.touched, inc.touchedParts, rect = inc.rectCache))
      finally inc.rectCache.foreach(_.unpersist(false))
      n
    }
    val annStore = new IncrementalAnn.AnnIndexStore(spark, annPath)
    annStore.withLease {
      s.time("pipeline.ann_ingest")(annStore.ingest(vecs, batchId = 1000L))
      s.time("pipeline.ann_maintain")(annStore.maintain())
    }
    val docIds = spark.read.parquet(landing.probeDocs.head.getPath)
      .select("doc_id").limit(3)
    val vecIds = vecs.select("vec_id").limit(2)
    val out = s.time("pipeline.forget")(Forget.run(spark, Some(docIds),
      Some(vecIds), sigPath, annPath, pairsPath, new CommandLog(spark, None),
      SystemClock, context = "perfbench probe"))
    val resident = spark.read.parquet(new File(input, "db/documents.parquet").getPath)
    s.time("pipeline.oov")(TextAnalysis.oovReport(docs, resident).collect())
    val lease = new graft.tables.StoreLease(spark, new File(probe, "lease").getPath, "probe")
    s.time("tables.lease") { lease.acquire(); lease.release() }
    Map(
      "pipeline.sigstore_load_ms" -> s.totalMs("pipeline.sigstore_load"),
      "pipeline.dedup_ingest_ms" -> s.totalMs("pipeline.dedup_ingest"),
      "pipeline.dedup_pairs_ms" -> s.totalMs("pipeline.dedup_pairs"),
      "pipeline.sigstore_save_ms" -> s.totalMs("pipeline.sigstore_save"),
      "pipeline.ann_ingest_ms" -> s.totalMs("pipeline.ann_ingest"),
      "pipeline.ann_maintain_ms" -> s.totalMs("pipeline.ann_maintain"),
      "pipeline.forget_ms" -> s.totalMs("pipeline.forget"),
      "pipeline.forget_cells_touched" -> (out.sig.cellsTouched +
        out.pairs.cellsTouched + out.ann.cellsTouched).toDouble,
      "pipeline.oov_ms" -> s.totalMs("pipeline.oov"),
      "pipeline.probe_pairs" -> dedupPairs.toDouble,
      "tables.lease_ms" -> s.totalMs("tables.lease"))
  }
}
