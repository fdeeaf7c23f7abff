package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Hashed-feature token counts in one pass — the kernel form of tx20's
  * training fold
  * {{{
  * aggregate(l, array_repeat(0L, S),
  *   (acc, t) -> transform(acc, (v, i) -> v +
  *     IF(i = cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint) % S,
  *        1L, 0L)))
  * }}}
  * i.e. slot = first-8-hex-chars-of-md5 as uint32, mod S (tx15's md5-slot
  * convention), count per slot.
  *
  * Identical results (HashedCountsSpec pins the fold equality): the first
  * 8 lowercase-hex chars of md5 are exactly the digest's first 4 bytes,
  * so the kernel takes the uint32 big-endian value of those bytes — no
  * hex string, no conv parse. A null token adds nothing (in the fold,
  * `i = NULL` is NULL and IF(NULL,..) takes the else branch — every slot
  * gets +0), and a null input array yields NULL.
  *
  * Why a kernel: the fold is O(|l| × S) INTERPRETED lambda evaluations
  * and recomputes md5(t) once per slot — S=16 digests per token; the
  * kernel is one digest and one increment per token, inside whole-stage
  * codegen (the [[MinhashSig]] argument — this projection runs over every
  * training/eval document). */
object HashedCounts {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static kernel invoked from interpreted eval and generated code. */
  def counts(l: ArrayData, slots: Int): ArrayData = {
    val out = new Array[Long](slots)
    val md = digest.get()
    val n = l.numElements()
    var i = 0
    while (i < n) {
      if (!l.isNullAt(i)) {
        md.reset()
        md.update(l.getUTF8String(i).getBytes)
        val d = md.digest()
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        out((v % slots).toInt) += 1L
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over an ARRAY<STRING> token column. */
  def countsCol(c: Column, slots: Int): Column = {
    require(slots >= 1, s"hashed_counts needs slots >= 1, got $slots")
    Kernel.col(this, "counts", "hashed_counts",
      Seq(c -> ArrayType(StringType)),
      ArrayType(LongType, containsNull = false), slots)
  }
}
