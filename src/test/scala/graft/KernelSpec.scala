package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every kernel built through the one `functions.Kernel` wrapper, checked
  * the same four ways: whole-stage codegen and the interpreted path give
  * the same rows, plan text names the kernel, a wrong input type fails
  * analysis naming the kernel, and a null input gives null. The
  * declarative twins (KernelTwinsSpec, ShinglesSpec, MinhashSigSpec,
  * CodeDistsSpec, WinnowSpec) pin what each kernel computes. */
class KernelSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** One kernel case: input columns `c0, c1, ...` of `types`, `rows`
    * holding at least one null input, and `wrong` input columns that
    * must fail analysis. */
  private case class Case(label: String, kernel: String,
      types: Seq[DataType], rows: Seq[Row], wrong: Seq[Column])(
      val build: Seq[Column] => Column)

  private val strs = ArrayType(StringType)
  private val longs = ArrayType(LongType)
  private val floats = ArrayType(FloatType)
  private val book = Seq((0, Array(0L, 0L)), (1, Array(3L, 4L)), (2, Array(1L, 1L)))
  private val text = Seq(Row("a b  c a b"), Row(""), Row(null), Row("héllo 日本語 wörld"))
  private val tokens = Seq(Row(Seq("a", "b", "a", "Zz", "12", "é")), Row(Seq()),
    Row(null), Row(Seq("x", null, "y")))

  private val cases = Seq(
    Case("l2_code_dists", "l2_code_dists", Seq(longs),
      Seq(Row(Seq(1L, 2L)), Row(Seq()), Row(null)), Seq(lit(Array(1.0, 2.0)))) {
      c => CodeDists.l2Col(c(0), book)
    },
    Case("pq_code_dists", "pq_code_dists", Seq(longs, IntegerType),
      Seq(Row(Seq(1L, 2L), 0), Row(Seq(5L, -1L), 1), Row(Seq(), 1),
        Row(null, 0), Row(Seq(1L, 2L), null)),
      Seq(lit(Array(1L)), lit(0L))) {
      c => CodeDists.l2SubCol(c(0), c(1), Seq(book, book.reverse.take(2)))
    },
    Case("l2_code_pair", "l2_code_pair", Seq(longs, longs),
      Seq(Row(Seq(1L, 2L), Seq(4L, 6L)), Row(Seq(), Seq()),
        Row(null, Seq(1L)), Row(Seq(1L), null)),
      Seq(lit(Array(1)), lit(Array(1)))) {
      c => CodeDists.l2PairCol(c(0), c(1))
    },
    Case("pair_expand(pairsLong)", "pair_expand", Seq(longs),
      Seq(Row(Seq(3L, 1L, 2L)), Row(Seq(7L)), Row(Seq()), Row(null)),
      Seq(lit(Array("a")))) {
      c => PairExpand.pairsCol(c(0))
    },
    Case("pair_expand(pairsUnseen)", "pair_expand",
      Seq(ArrayType(StructType(Seq(StructField("doc_id", LongType),
        StructField("prev_key", StringType))))),
      Seq(Row(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "a"), Row(4L, null))),
        Row(Seq()), Row(null)),
      Seq(lit(Array(1L)))) {
      c => PairExpand.pairsUnseenCol(c(0))
    },
    Case("pair_expand(pairsStrTagged)", "pair_expand", Seq(strs),
      Seq(Row(Seq("s1", "s2", "s3")), Row(Seq()), Row(null)),
      Seq(lit(Array(1L)))) {
      c => PairExpand.pairsStrTaggedCol(c(0))
    },
    Case("quantize_i8(toLongs)", "quantize_i8", Seq(floats),
      Seq(Row(Seq(0.5f, -3f, 0.01f, 2f)), Row(Seq()), Row(null)),
      Seq(lit(Array(0.5)))) {
      c => Quantize.toLongsCol(c(0))
    },
    Case("quantize_i8(toFloats)", "quantize_i8", Seq(floats),
      Seq(Row(Seq(0.5f, -3f, 0.01f, 2f)), Row(Seq()), Row(null)),
      Seq(lit(Array(0.5)))) {
      c => Quantize.toFloatsCol(c(0))
    },
    Case("token_type_stats", "token_type_stats", Seq(strs), tokens.take(3),
      Seq(lit("a b"))) {
      c => TokenStats.typeStatsCol(c(0))
    },
    Case("token_word_stats", "token_word_stats", Seq(strs), tokens.take(3),
      Seq(lit("a b"))) {
      c => TokenStats.wordStatsCol(c(0))
    },
    Case("minhash_sig", "minhash_sig", Seq(strs), tokens.take(3),
      Seq(lit(Array(1L)))) {
      c => MinhashSig.sigCol(c(0))
    },
    Case("bottom_hashes", "bottom_hashes", Seq(strs), tokens.take(3),
      Seq(lit("a"))) {
      c => BottomHashes.bottomKCol(c(0), 2)
    },
    Case("hashed_counts", "hashed_counts", Seq(strs), tokens,
      Seq(lit(Array(1L)))) {
      c => HashedCounts.countsCol(c(0), 4)
    },
    Case("shingle_ngrams", "shingle_ngrams", Seq(StringType), text,
      Seq(lit(1))) {
      c => Shingles.ngramsCol(c(0), 2, skipEmpty = true, distinct = true)
    },
    Case("char_ngrams", "char_ngrams", Seq(StringType), text,
      Seq(lit(Array("a")))) {
      c => Shingles.charNgramsCol(c(0), 2, distinct = false)
    },
    Case("winnow_fingerprint", "winnow_fingerprint", Seq(StringType),
      text :+ Row("the quick brown fox jumps over the lazy dog"),
      Seq(lit(1L))) {
      c => Winnow.fingerprintCol(c(0), 3, 2, 4)
    })

  private def inputs(s: SparkSession, k: Case): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(k.rows, 2),
      StructType(k.types.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t) }))

  private def applied(s: SparkSession, k: Case): DataFrame = {
    val df = inputs(s, k)
    df.select(k.build(df.columns.toSeq.map(col)).as("out"))
  }

  private lazy val interpreted = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  cases.foreach { k =>
    test(s"${k.label}: whole-stage codegen and the interpreted path agree") {
      val gen = applied(spark, k)
      assert(gen.queryExecution.executedPlan.toString.contains("*("),
        "the kernel runs inside whole-stage codegen")
      val int = applied(interpreted, k)
      assert(!int.queryExecution.executedPlan.toString.contains("*("))
      assert(gen.collect().toSeq === int.collect().toSeq)
    }

    test(s"${k.label}: plan text names the kernel") {
      val plan = applied(spark, k).queryExecution.executedPlan.toString
      assert(plan.contains(k.kernel + "("), plan)
    }

    test(s"${k.label}: a wrong input type fails analysis, naming the kernel") {
      val e = intercept[AnalysisException] {
        spark.range(1).select(k.build(k.wrong))
      }
      assert(e.getMessage.contains(s"${k.kernel} requires ("), e.getMessage)
    }

    test(s"${k.label}: a null input gives null") {
      val nullIn = k.rows.map(_.toSeq.contains(null))
      assert(nullIn.contains(true))
      Seq(spark, interpreted).foreach { s =>
        applied(s, k).collect().toSeq.zip(nullIn).foreach { case (r, n) =>
          assert(r.isNullAt(0) === n, r)
        }
      }
    }
  }

  test("GraftExtensions: the extension route and register expose the " +
      "same SQL functions") {
    val injected = ArrayBuffer.empty[String]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    val s = spark.newSession()
    def names = s.catalog.listFunctions().collect().map(_.name).toSet
    val before = names
    GraftExtensions.register(s)
    assert(injected.toSet === names -- before)
    assert(injected.sorted ===
      Seq("float_dot", "shingle_ngrams", "winnow_fingerprint"))
  }

  test("GraftExtensions.register sets the nanosecond-timestamp mapping") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.set(key, "false")
    GraftExtensions.register(s)
    assert(s.conf.get(key) === "true")
  }
}
