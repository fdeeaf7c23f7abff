package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row k=8 seeded-md5 minhash signature over an in-row shingle
  * array — the codegen'd kernel form of
  * `array_min(transform(sh, t -> md5(concat('<k>', '|', t))))` × 8,
  * the STREAMING signature shape (a streaming groupBy would be a
  * watermark-requiring aggregation; a per-row projection is
  * mode-agnostic).
  *
  * Bit-identical to the declarative spelling AND to the batch
  * explode+groupBy form: the digest is MD5 over the UTF-8 bytes of
  * `"<k>|" ⊔ shingle` rendered as lowercase hex — exactly Spark's
  * `md5(concat(...))` — and the min is taken under UTF8String binary
  * order, which for ASCII hex equals `array_min`'s string order.
  * MinhashSigSpec pins both equalities.
  *
  * Why a kernel: the HOF spelling walks an interpreted expression tree
  * 8× per SHINGLE on every streamed document, forever; here the eight
  * running minima fold in one pass with a thread-local digest. */
object MinhashSig {
  final val K = 8

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = HEX((bytes(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = HEX(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private val seeds: Array[Array[Byte]] =
    (0 until K).map(k => s"$k|".getBytes("UTF-8")).toArray

  /** Static kernel: [m0..m7] minima, or an EMPTY array for an empty
    * shingle set (matching "no shingles → no signature"). */
  def sig(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val mins = new Array[UTF8String](K)
    val md = digest.get()
    var i = 0
    while (i < n) {
      val tok = sh.getUTF8String(i).getBytes
      var k = 0
      while (k < K) {
        md.reset()
        md.update(seeds(k))
        md.update(tok)
        val h = hex(md.digest())
        if (mins(k) == null || h.compareTo(mins(k)) < 0) mins(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.asInstanceOf[Array[Any]])
  }

  /** Column form over an ARRAY<STRING> shingle column. */
  def sigCol(c: Column): Column =
    Kernel.col(this, "sig", "minhash_sig", Seq(c -> ArrayType(StringType)),
      ArrayType(StringType, containsNull = false))
}
