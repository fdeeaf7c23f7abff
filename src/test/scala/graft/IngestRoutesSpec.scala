package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.IncrementalDedup
import graft.streaming.Streams

/** The arrival dedup drain's two routes — [[IncrementalDedup.sparkRoute]]
  * and the driver-local [[IncrementalDedup.localRoute]] — write the same
  * pair multiset and the same signature store for every batch, and a
  * steady small batch drains with no Spark job. */
class IngestRoutesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Run a ScalaCheck property over `n` drawn cases and fail the suite on
    * the first counterexample. */
  private def check(n: Int)(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private type Doc = (Option[Long], Option[String])

  /** A tiny vocabulary: few distinct bigrams make identical signatures
    * (exact-duplicate piles), shared band keys (near-duplicates) and
    * bucket collisions common. */
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")

  private val genText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    // fewer than 2 tokens, or two empty ones
    1 -> Gen.oneOf("", "alpha", " ").map(Some(_)),
    6 -> Gen.choose(2, 6).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
      .map(ws => Some(ws.mkString(" "))))

  /** A batch of documents with ids drawn from a small range (so a batch
    * repeats ids, and later batches re-send earlier ids), an
    * exact-duplicate pile of one text, and doc_id-less rows that carry
    * no signature (a null doc_id with one is the contract error, tested
    * on its own below). */
  private val genBatch: Gen[Seq[Doc]] = for {
    n <- Gen.choose(0, 10)
    docs <- Gen.listOfN(n, for {
      id <- Gen.choose(1L, 30L)
      t <- genText
    } yield (Option(id), t))
    pile <- Gen.choose(0, 5)
    pileText <- genText
    pileIds <- Gen.listOfN(pile, Gen.choose(31L, 60L))
    unkeyed <- Gen.listOfN(2, Gen.oneOf[Option[String]](None, Some("eps")))
  } yield docs ++ pileIds.map(i => (Option(i), pileText)) ++
    unkeyed.map(t => (Option.empty[Long], t))

  /** Batches in arrival order; some re-send an earlier batch whole (an
    * at-least-once replay). */
  private val genBatches: Gen[Seq[Seq[Doc]]] = for {
    k <- Gen.choose(1, 4)
    bs <- Gen.listOfN(k, genBatch)
    replay <- Gen.oneOf(false, true)
  } yield if (replay) bs :+ bs.head else bs

  /** (bucket-cap mode, maxBucket): no cap, or a small one in either mode. */
  private val genCap: Gen[(String, Int)] = Gen.oneOf(
    Gen.const(("throw", 1000)),
    Gen.oneOf("throw", "truncate").flatMap(m =>
      Gen.choose(1, 3).map(b => (m, b))))

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-ingest").toString + "/" + name

  /** `docs` as one parquet file of the stream's schema; its path. */
  private def writeBatch(docs: Seq[Doc]): Path = {
    val dir = new Path(tmp("batch"))
    GraftSqlBridge.writeParquetFile(spark, dir,
      docs.map { case (d, t) => Row(d.orNull, t.orNull) })(
      Encoders.row(docSchema))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath).find(_.getName.endsWith(".parquet")).get
  }

  private def withCap[T](mode: String)(body: => T): T = {
    val key = "spark.graft.bucketCap.mode"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Sorted rows of a parquet directory, with its column names. */
  private def rowsOf(dir: String): (Seq[String], Seq[String]) = {
    val df = spark.read.parquet(dir)
    (df.columns.toSeq, df.collect().map(_.mkString(",")).toSeq.sorted)
  }

  private def storeOf(path: String): (Seq[String], Seq[String], String) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new String(Files.readAllBytes(Paths.get(path, "_graft_meta.json")),
      "UTF-8")
    val files = fs.listStatus(new Path(path)).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(files.length === 1, files.toSeq) // one cell, one file
    val (cols, rows) = rowsOf(path)
    (cols, rows, meta)
  }

  /** The outcome of one batch through a route: Right(pairs dir) or the
    * error message. */
  private def viaSpark(store: IncrementalDedup.SigStore, f: Path,
      pairs: String, maxBucket: Int): Either[String, String] =
    try {
      store.withLease(IncrementalDedup.sparkRoute(store,
        spark.read.schema(docSchema).parquet(f.toString), pairs,
        maxBucket)(()))
      Right(pairs)
    } catch { case e: Exception => Left(rootMessage(e)) }

  private def rootMessage(e: Throwable): String = {
    val m = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).filter(_ != null)
    Seq("one row per doc_id", "exceeds maxBucket")
      .find(k => m.exists(_.contains(k))).getOrElse(e.toString)
  }

  test("both routes write the same pairs and the same store on drawn " +
      "arrivals: piles, near-duplicates, short and null texts, repeated " +
      "and replayed ids, bucket caps in both modes, from a bootstrap") {
    check(20)(Prop.forAll(genBatches, genCap) { case (batches, (mode, cap)) =>
      withCap(mode) {
        val ref = tmp("ref")
        val loc = tmp("loc")
        val refStore = new IncrementalDedup.SigStore(spark, ref)
        val locStore = new IncrementalDedup.SigStore(spark, loc)
        val results = batches.zipWithIndex.iterator.map { case (b, i) =>
          val f = writeBatch(b)
          val pairsRef = tmp(s"pairs-ref-$i")
          val pairsLoc = tmp(s"pairs-loc-$i")
          val want = viaSpark(refStore, f, pairsRef, cap)
          val took = locStore.withLease(IncrementalDedup.localRoute(spark,
            locStore, Seq(f), docSchema, pairsLoc, maxBucket = cap)(()))
          val ok = want match {
            case Right(_) =>
              took && rowsOf(pairsRef) == rowsOf(pairsLoc) &&
                storeOf(ref) == storeOf(loc)
            case Left(err) =>
              // ingest raises: the local route declines, having written
              // nothing, so the Spark route raises the same error
              !took && !Files.exists(Paths.get(pairsLoc)) &&
                viaSpark(locStore, f, pairsLoc, cap) == Left(err)
          }
          (ok, want.isRight, s"batch $i of $batches: $want took=$took")
        }
        // a raising batch ends the chain, as it stops a drain
        val (done, rest) = results.span(_._2)
        val all = done.toSeq ++ rest.take(1).toSeq
        all.find(!_._1).fold(Prop.passed)(r => Prop.falsified :| r._3)
      }
    })
  }

  test("a signed document with a null doc_id declines to the Spark " +
      "route, which raises the one-row-per-doc contract error") {
    val f = writeBatch(Seq((Some(1L), Some("alpha beta")),
      (None, Some("gamma delta gamma"))))
    val st = new IncrementalDedup.SigStore(spark, tmp("sigs"))
    val pairs = tmp("pairs")
    assert(!st.withLease(IncrementalDedup.localRoute(spark, st, Seq(f),
      docSchema, pairs)(())))
    assert(!Files.exists(Paths.get(pairs)))
    assert(viaSpark(st, f, pairs, 1000) === Left("one row per doc_id"))
  }

  test("a vanished batch file is skipped, as ignoreMissingFiles skips it") {
    val keep = writeBatch(Seq((Some(1L), Some("alpha beta")),
      (Some(2L), Some("alpha beta"))))
    val gone = writeBatch(Seq((Some(3L), Some("alpha beta"))))
    gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gone, false)
    val st = new IncrementalDedup.SigStore(spark, tmp("sigs"))
    val pairs = tmp("pairs")
    assert(st.withLease(IncrementalDedup.localRoute(spark, st,
      Seq(keep, gone), docSchema, pairs)(())))
    assert(rowsOf(pairs)._2 === Seq("1,2"))
    assert(st.load().get.count() === 2L)
  }

  /** A fan-out-`fanOut` store of `n` distinct signatures, saved by Spark. */
  private def bigStore(path: String, n: Long, fanOut: Int)
      : IncrementalDedup.SigStore = {
    val st = new IncrementalDedup.SigStore(spark, path)
    val ms = (0 until 8).map(k => md5(concat(lit(s"$k|"),
      col("id").cast("string"))).as(s"m$k"))
    st.withLease(st.save(spark.range(n).select(col("id").as("doc_id") +: ms: _*)
      .withColumn("sig_key", concat_ws("|", (0 until 8).map(k => col(s"m$k")): _*))
      .withColumn("rep", col("doc_id")), fanOut))
    st
  }

  test("a store over LocalMaxRows, or at fan-out above 1, takes the Spark " +
      "route") {
    val f = writeBatch(Seq((Some(1L), Some("alpha beta"))))
    val over = bigStore(tmp("over"), IncrementalDedup.LocalMaxRows, 1)
    val pairs = tmp("pairs")
    // store rows + one batch row: one over the bound
    assert(!over.withLease(IncrementalDedup.localRoute(spark, over, Seq(f),
      docSchema, pairs)(())))
    assert(!Files.exists(Paths.get(pairs)))
    val wide = bigStore(tmp("wide"), 10, 2)
    assert(!wide.withLease(IncrementalDedup.localRoute(spark, wide, Seq(f),
      docSchema, pairs)(())))
    assert(!Files.exists(Paths.get(pairs)))
    // the same batch against a small fan-out-1 store is taken
    val small = bigStore(tmp("small"), 10, 1)
    assert(small.withLease(IncrementalDedup.localRoute(spark, small, Seq(f),
      docSchema, pairs)(())))
  }

  /** Spark jobs started while `body` runs, whatever their job group (the
    * stream runs its batches under a group of its own). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    GraftSqlBridge.drainListenerBus(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try { body; GraftSqlBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }

  /** One arrival file of `n` documents under `src`. */
  private def land(src: String, name: String, ids: Range): Unit = {
    val f = writeBatch(ids.map(i => (Option(i.toLong),
      Option(s"w${i % 40} w${i % 7} w${i % 3} w${i % 11}"))))
    Files.copy(Paths.get(f.toUri), Paths.get(src, name))
    ()
  }

  test("a steady small-batch drain runs no Spark job; over a fan-out-2 " +
      "store the same drain takes the Spark route") {
    val src = tmp("src")
    Files.createDirectories(Paths.get(src))
    val base = tmp("run")
    land(src, "a.parquet", 1 until 251)
    Streams.incrementalDedupStream(spark, src, docSchema, s"$base/sigs",
      s"$base/cp", s"$base/pairs")
    land(src, "b.parquet", 251 until 501)
    val jobs = jobsDuring(Streams.incrementalDedupStream(spark, src,
      docSchema, s"$base/sigs", s"$base/cp", s"$base/pairs"))
    assert(jobs === 0)
    assert(new IncrementalDedup.SigStore(spark, s"$base/sigs").load().get
      .count() === 500L)
    assert(spark.read.parquet(s"$base/pairs").count() > 0L)

    val wide = tmp("wide")
    bigStore(s"$wide/sigs", 10, 2)
    val wideJobs = jobsDuring(Streams.incrementalDedupStream(spark, src,
      docSchema, s"$wide/sigs", s"$wide/cp", s"$wide/pairs"))
    assert(wideJobs > 0)
    assert(new IncrementalDedup.SigStore(spark, s"$wide/sigs").buckets === 2)
    assert(new IncrementalDedup.SigStore(spark, s"$wide/sigs").load().get
      .count() === 510L)
  }
}
