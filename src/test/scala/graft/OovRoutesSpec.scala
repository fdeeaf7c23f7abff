package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.executor.CommandLog
import graft.maintenance.Compaction
import graft.model.SystemClock
import graft.pipeline.{OovQc, TextAnalysis}
import graft.scheduler.{ArrivalConfig, ArrivalPass}
import graft.streaming.Streams

/** The arrival OOV QC's two routes — [[OovQc.sparkRoute]] and the
  * driver-local [[OovQc.localRoute]] — write `oovReport(batch,
  * resident)` row for row, against a vocabulary [[OovQc.VocabStore]]
  * keeps until the resident corpus's files change; a steady batch reads
  * no resident row and runs no Spark job. */
class OovRoutesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def check(n: Int)(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))

  private type Doc = (Option[Long], Option[String], Option[String])

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-oov").toString + "/" + name

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `docs` as one new parquet file in `dir`; its path. */
  private def writeDocs(dir: String, docs: Seq[Doc]): Path = {
    val before = if (Files.exists(Paths.get(dir)))
      fsOf(dir).listStatus(new Path(dir)).map(_.getPath).toSet
      else Set.empty[Path]
    GraftSqlBridge.writeParquetFile(spark, new Path(dir),
      docs.map { case (d, s, t) => Row(d.orNull, s.orNull, t.orNull) })(
      Encoders.row(docSchema))
    fsOf(dir).listStatus(new Path(dir)).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet") && !before(p)).get
  }

  /** Tokens the resident corpus speaks: ASCII, accented, CJK, an emoji
    * and U+FFFD (whose UTF-8 and UTF-16 orders differ from the emoji's). */
  private val known = Vector("the", "a", "fox", "naïve", "日本", "😀",
    "�")
  private val unknown = Vector("zz", "qq", "ñu", "語", "🦊")

  /** Null, empty and all-space texts, and 1-6 words joined by runs of
    * 1-3 spaces, with or without a leading or trailing space. */
  private def genText(words: Vector[String]): Gen[Option[String]] =
    Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.oneOf("", " ", "   ").map(Some(_)),
      6 -> (for {
        n <- Gen.choose(1, 6)
        ws <- Gen.listOfN(n, Gen.oneOf(words))
        seps <- Gen.listOfN(n - 1, Gen.oneOf(" ", " ", "  ", "   "))
        lead <- Gen.oneOf("", " ")
        trail <- Gen.oneOf("", " ")
      } yield Some(lead + ws.head +
        seps.zip(ws.tail).map(p => p._1 + p._2).mkString + trail)))

  private val genSource: Gen[Option[String]] =
    Gen.oneOf(None, Some("web"), Some("feed"), Some("é"), Some("�"),
      Some("😀src"), Some("allnew"))

  private def genDoc(words: Vector[String]): Gen[Doc] = for {
    id <- Gen.frequency(1 -> Gen.const(None),
      6 -> Gen.choose(1L, 12L).map(Some(_)))
    src <- genSource
    text <- genText(words)
  } yield (id, src,
    // the source "allnew" speaks only out-of-vocabulary tokens
    if (src.contains("allnew")) text.map(_ => unknown.take(3).mkString(" "))
    else text)

  private val genResident: Gen[Seq[Seq[Doc]]] =
    Gen.choose(1, 3).flatMap(k => Gen.listOfN(k,
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, genDoc(known)))))

  private val genBatch: Gen[Seq[Doc]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genDoc(known ++ unknown)))

  /** A written report: its rows in file order and its (name, type) pairs. */
  private def reportOf(dir: String): (Seq[Row], Seq[(String, DataType)]) = {
    val df = spark.read.parquet(dir)
    (df.collect().toSeq, df.schema.map(f => f.name -> f.dataType))
  }

  private def expected(batch: DataFrame, resident: String)
      : (Seq[Row], Seq[(String, DataType)]) = {
    val df = TextAnalysis.oovReport(batch.select("doc_id", "source", "text"),
      spark.read.parquet(resident))
    (df.collect().toSeq, df.schema.map(f => f.name -> f.dataType))
  }

  private def vocabOf(resident: String): Set[String] =
    TextAnalysis.vocabulary(spark.read.parquet(resident).select("text"))
      .collect().map(_.getString(0)).toSet

  test("both routes write oovReport(batch, resident) on drawn corpora: " +
      "null, empty, all-space and space-run texts, null sources and " +
      "doc_ids, repeated and non-ASCII tokens, an all-OOV source, over a " +
      "flat or partitioned resident corpus") {
    check(25)(Prop.forAll(genResident, genBatch, Gen.oneOf(false, true)) {
      (resident, batch, nested) =>
        val res = tmp("resident")
        resident.foreach(d => writeDocs(if (nested) s"$res/part=0" else res, d))
        val store = new OovQc.VocabStore(spark, tmp("vocab"))
        val vocab = store.resolve(res)
        val f = writeDocs(tmp("batch"), batch)
        val b = spark.read.schema(docSchema).parquet(f.toString)
        val (sparkOut, localOut) = (tmp("spark"), tmp("local"))
        OovQc.sparkRoute(vocab, b, new Path(sparkOut))
        val took = OovQc.localRoute(spark, vocab, Seq(f), docSchema,
          new Path(localOut))
        val want = expected(b, res)
        val tokens = vocab.tokens.toArray.toSet
        Prop(vocab.rebuilt && took && tokens == vocabOf(res) &&
          reportOf(sparkOut) == want && reportOf(localOut) == want) :|
          s"resident=$resident batch=$batch nested=$nested took=$took " +
            s"want=$want spark=${reportOf(sparkOut)} " +
            s"local=${if (took) reportOf(localOut) else "-"}"
    })
  }

  test("a vanished batch file is skipped, as ignoreMissingFiles skips it") {
    val res = tmp("resident")
    writeDocs(res, Seq((Some(1L), Some("web"), Some("the fox"))))
    val vocab = new OovQc.VocabStore(spark, tmp("vocab")).resolve(res)
    val dir = tmp("batch")
    val keep = writeDocs(dir, Seq((Some(2L), Some("web"), Some("the zz"))))
    val gone = writeDocs(dir, Seq((Some(3L), Some("feed"), Some("qq"))))
    fsOf(dir).delete(gone, false)
    val out = tmp("local")
    assert(OovQc.localRoute(spark, vocab, Seq(keep, gone), docSchema,
      new Path(out)))
    assert(reportOf(out) ===
      expected(spark.read.parquet(keep.toString), res))
  }

  test("a batch over the ceiling takes the Spark route, which agrees " +
      "with the local one") {
    val res = tmp("resident")
    writeDocs(res, Seq((Some(1L), Some("web"), Some("the fox the")),
      (Some(2L), Some("feed"), Some("a naïve fox"))))
    val vocab = new OovQc.VocabStore(spark, tmp("vocab")).resolve(res)
    val f = writeDocs(tmp("batch"), Seq((Some(5L), Some("web"),
      Some("the zz fox")), (Some(6L), None, Some("qq qq"))))
    val out = tmp("over")
    // vocabulary (4 rows) plus batch (2 rows), one over the bound
    assert(vocab.rows === 4L)
    assert(!OovQc.localRoute(spark, vocab, Seq(f), docSchema,
      new Path(out), maxRows = 5L))
    assert(!Files.exists(Paths.get(out)))
    val (sparkOut, localOut) = (tmp("spark"), tmp("local"))
    OovQc.sparkRoute(vocab, spark.read.parquet(f.toString), new Path(sparkOut))
    assert(OovQc.localRoute(spark, vocab, Seq(f), docSchema,
      new Path(localOut), maxRows = 6L))
    assert(reportOf(sparkOut) === reportOf(localOut))
    assert(reportOf(localOut) ===
      expected(spark.read.parquet(f.toString), res))
  }

  /** The resolve of `store` against `res` agrees with the corpus on disk;
    * whether it rebuilt. */
  private def resolved(store: OovQc.VocabStore, res: String): Boolean = {
    val v = store.resolve(res)
    assert(v.tokens.toArray.toSet === vocabOf(res))
    v.rebuilt
  }

  test("the kept vocabulary is rebuilt when the resident corpus gains a " +
      "file, has a part file rewritten in place, or is compacted — and " +
      "only then") {
    val res = tmp("resident")
    val first = writeDocs(res, Seq((Some(1L), Some("web"), Some("the fox"))))
    val store = new OovQc.VocabStore(spark, tmp("vocab"))
    assert(resolved(store, res))
    assert(!resolved(store, res))
    // a new file
    writeDocs(res, Seq((Some(2L), Some("web"), Some("a naïve 日本"))))
    assert(resolved(store, res))
    assert(!resolved(store, res))
    // the first part file rewritten in place under its name
    val other = writeDocs(tmp("rewrite"),
      Seq((Some(1L), Some("web"), Some("the fox jumps over"))))
    fsOf(res).delete(first, false)
    FileUtil.copy(fsOf(res), other, fsOf(res), first, false,
      spark.sparkContext.hadoopConfiguration)
    assert(resolved(store, res))
    assert(vocabOf(res).contains("jumps"))
    assert(!resolved(store, res))
    // compaction merges both files into one
    val bytes = Streams.listDataStatuses(spark, res).map(_.getLen).sum
    assert(Compaction.compact(spark, res, targetBytes = bytes * 4).merged >= 1)
    assert(Streams.listDataStatuses(spark, res).size === 1)
    assert(resolved(store, res))
    assert(!resolved(store, res))
  }

  test("a crash between a vocabulary's write and its swap never serves " +
      "the old stamp") {
    val res = tmp("resident")
    writeDocs(res, Seq((Some(1L), Some("web"), Some("the fox"))))
    val path = tmp("vocab")
    val store = new OovQc.VocabStore(spark, path)
    assert(resolved(store, res))
    // the corpus changes; its vocabulary generation is written (here by
    // another store) but the swap never happens
    writeDocs(res, Seq((Some(2L), Some("web"), Some("a naïve"))))
    def crashAfterWrite(): Unit = {
      val other = tmp("other")
      new OovQc.VocabStore(spark, other).resolve(res)
      FileUtil.copy(fsOf(other), new Path(other), fsOf(path),
        new Path(path + ".tmp"), false, spark.sparkContext.hadoopConfiguration)
      ()
    }
    crashAfterWrite()
    // the complete tmp is promoted: its stamp is the corpus's, so kept
    assert(!resolved(store, res))
    // the same crash, then the corpus changes again before the next
    // batch: the promoted generation's stamp is stale, so rebuilt
    writeDocs(res, Seq((Some(3L), Some("feed"), Some("zz"))))
    crashAfterWrite()
    writeDocs(res, Seq((Some(4L), Some("feed"), Some("qq"))))
    assert(resolved(store, res))
    // a write that died before its stamp: the tmp is dropped, the live
    // generation's stamp is stale, so rebuilt
    writeDocs(res, Seq((Some(5L), Some("feed"), Some("ñu"))))
    val torn = new Path(path + ".tmp")
    fsOf(path).mkdirs(torn)
    fsOf(path).create(new Path(torn, "_SUCCESS"), true).close()
    assert(resolved(store, res))
    assert(!Files.exists(Paths.get(path + ".tmp")))
  }

  /** Spark jobs started while `body` runs, whatever their job group. */
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

  /** Every resident data file overwritten with garbage of its length,
    * its modification time restored: the stamp is unchanged, and any
    * read of the corpus fails. */
  private def garble(res: String): Unit =
    Streams.listDataStatuses(spark, res).foreach { st =>
      val out = fsOf(res).create(st.getPath, true)
      out.write(Array.fill(st.getLen.toInt)(7.toByte)); out.close()
      fsOf(res).setTimes(st.getPath, st.getModificationTime, -1L)
    }

  test("a steady arrival batch reads no resident row and runs no Spark " +
      "job; the oov_qc detail names the route and the vocabulary's fate") {
    val base = tmp("pass")
    val res = s"$base/db/documents.parquet"
    writeDocs(res, (1L to 40L).map(i =>
      (Some(i), Some("web"), Some(s"the quick fox number $i"))))
    val landing = s"$base/landing/documents"
    def land(ids: Seq[Long]): Unit = {
      writeDocs(landing, ids.map(i => (Some(i), Some(if (i % 2 == 0) "web"
        else "feed"), Some(if (i % 2 == 0) s"the fox number ${i - 100}" else
        s"zz$i qq wobble"))))
      ()
    }
    val cfg = ArrivalConfig(landing = s"$base/landing",
      dbs = Map("corpus" -> s"$base/db"), checkpointRoot = s"$base/ckpt",
      sigStorePath = s"$base/sigs", dedupOut = s"$base/pairs",
      annStorePath = s"$base/ann")
    def oovStage() = ArrivalPass.run(spark, cfg, new CommandLog(spark, None),
      SystemClock).stages.find(_.stage == "oov_qc").get
    land(101L to 110L)
    val boot = oovStage()
    assert(boot.status === "ran" && boot.detail.contains("route=local") &&
      boot.detail.contains("vocab=rebuilt"), boot.detail)
    // the resident corpus can no longer be read; its stamp is unchanged
    garble(res)
    land(111L to 120L)
    val steady = oovStage()
    assert(steady.status === "ran" && steady.detail.contains("route=local") &&
      steady.detail.contains("vocab=kept"), steady.detail)
    val flags = spark.read.parquet(s"$base/ckpt/oov")
      .select("source", "flagged").distinct().collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(flags === Map("web" -> false, "feed" -> true))

    // the same steady drain, alone, runs no Spark job
    land(121L to 130L)
    val store = new OovQc.VocabStore(spark, s"$base/ckpt/oov_vocab")
    val files = Streams.listDataStatuses(spark, landing)
    val schema = ArrivalPass.landingSchema(spark, landing, files)
    val jobs = jobsDuring(Streams.drain(spark, landing, schema,
        s"$base/ckpt/oov_ckpt", "oov_qc", None, SystemClock, None,
        () => ()) { (batch, id) =>
      assert(OovQc.writeReport(spark, store.resolve(res), batch,
        new Path(s"$base/ckpt/oov/batch_id=$id")) === "local")
      ()
    })
    assert(jobs === 0)
    assert(spark.read.parquet(s"$base/ckpt/oov").count() === 6L)
  }

  test("the landing schema is read from one footer with no Spark job, " +
      "equal to Spark's inference; a partitioned landing keeps Spark's") {
    val dir = tmp("landing")
    writeDocs(dir, Seq((Some(1L), Some("web"), Some("a"))))
    writeDocs(dir, Seq((Some(2L), None, Some("b"))))
    val vecs = tmp("vecs")
    spark.range(3).selectExpr("id AS vec_id",
      "array(CAST(id AS FLOAT), 1.0F) AS embedding")
      .coalesce(1).write.parquet(vecs)
    Seq(dir, vecs).foreach { d =>
      val files = Streams.listDataStatuses(spark, d)
      var schema: StructType = null
      assert(jobsDuring {
        schema = ArrivalPass.landingSchema(spark, d, files)
      } === 0)
      assert(schema === spark.read.parquet(d).schema)
    }
    val parted = tmp("parted")
    writeDocs(s"$parted/day=1", Seq((Some(1L), Some("web"), Some("a"))))
    val schema = ArrivalPass.landingSchema(spark, parted,
      Streams.listDataStatuses(spark, parted))
    assert(schema.fieldNames.toSeq === Seq("doc_id", "source", "text", "day"))
  }
}
