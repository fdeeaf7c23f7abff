package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Winnow

/** Kernel-level invariants of the rolling-hash winnowing fingerprint
  * (the oracle pins tx07 on the fixture; this pins the ALGORITHM). */
class WinnowSpec extends AnyFunSuite {
  import SparkTestSession._

  private def direct(s: String, k: Int, w: Int, max: Int): Seq[Long] = {
    // naive reference: per-window polynomial recompute + per-window min
    val bytes = s.getBytes("UTF-8")
    val nh = bytes.length - k + 1
    if (nh < w) return Seq.empty
    val hs = (0 until nh).map { i =>
      (0 until k).foldLeft(0L)((a, j) =>
        (a * Winnow.B + (bytes(i + j) & 0xff)) % Winnow.M)
    }
    (0 to nh - w).map(i => hs.slice(i, i + w).min)
      .distinct.sorted.take(max)
  }

  private def kernel(s: String, k: Int, w: Int, max: Int): Seq[Long] =
    Winnow.fingerprint(UTF8String.fromString(s), k, w, max)
      .toLongArray().toSeq

  test("rolling recurrence equals direct polynomial recompute") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // all-equal hashes (deque ties)
      "abababababababababababababab",     // period-2 (dedup of minima)
      (0 until 200).map(i => ('a' + i % 26).toChar).mkString,
      "x" * 23,                            // exactly k+w-1: ONE full window
    )
    // maxPieces <= 0 asks for no pieces: empty, never a throw
    for (t <- texts; k <- Seq(4, 8); w <- Seq(3, 16); mp <- Seq(8, 0, -1)) {
      assert(kernel(t, k, w, mp) === direct(t, k, w, mp),
        s"text=$t k=$k w=$w maxPieces=$mp")
    }
  }

  test("property: kernel equals naive reference on random strings/k/w") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // includes repeats and multi-byte chars (the kernel hashes BYTES)
    val genText: Gen[String] = for {
      n <- Gen.choose(0, 120)
      cs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar, 3 -> Gen.const('a'), 1 -> Gen.const('é')))
    } yield cs.mkString
    // maxPieces spans BOTH recorder tiers: the bounded insertion array
    // (≤64) and the unbounded buffer (winnowPairs' Int.MaxValue)
    val genMax = Gen.oneOf(Gen.choose(1, 12), Gen.const(65),
      Gen.const(Int.MaxValue))
    val prop = Prop.forAll(genText, Gen.choose(1, 10), Gen.choose(1, 20),
      genMax) { (t, k, w, mp) =>
      kernel(t, k, w, mp) == direct(t, k, w, mp)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("documents shorter than k+w-1 have no full window -> empty") {
    assert(kernel("x" * 22, 8, 16, 8) === Seq.empty)
    assert(kernel("", 8, 16, 8) === Seq.empty)
  }

  test("shared substrings guarantee shared fingerprint pieces") {
    // winnowing's contract: any common stretch of >= k+w-1 bytes yields at
    // least one common minimum, wherever it sits in either document
    val common = "zqjxkvwpyzqjxkvwpyzqjxkvwpy" // 27 >= 8+16-1
    val a = "left padding then " + common + " and a tail"
    val b = common + " entirely different remainder here"
    val fa = kernel(a, 8, 16, 64).toSet
    val fb = kernel(b, 8, 16, 64).toSet
    assert(fa.intersect(fb).nonEmpty)
  }

  test("winnow_fingerprint is callable from the SQL surface") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "t")
      .createOrReplaceTempView("winnow_probe")
    val got = spark
      .sql("SELECT winnow_fingerprint(t, 8, 16, 8) AS fp FROM winnow_probe")
      .collect().head.getSeq[Long](0)
    assert(got === direct("the quick brown fox jumps over the lazy dog",
      8, 16, 8))
  }

  test("expression runs inside the DataFrame layer with codegen") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "t")
      .select(col("id"), Winnow.fingerprintCol(col("t")).as("fp"))
    val got = df.collect().head.getSeq[Long](1)
    assert(got === direct("the quick brown fox jumps over the lazy dog",
      8, 16, 8))
  }
}
