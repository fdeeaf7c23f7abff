package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bottom-k distinct md5 sketch of an in-row shingle array, joined with
  * '|' — the kernel form of tx04's document fingerprint
  * `array_join(slice(array_sort(array_distinct(
  *   transform(sh, t -> md5(t)))), 1, k), '|')`.
  *
  * One pass, bounded state: each shingle's digest goes through a k-slot
  * ordered set (insert if below the current k-th smallest; duplicates of
  * PRESENT elements are rejected by the set, duplicates of EVICTED
  * elements compare ≥ the k-th smallest and never re-enter), so the
  * kernel holds k strings — never the full hash array the declarative
  * spelling materializes, sorts and slices. md5 is rendered lowercase
  * hex exactly like Spark's `md5()`, so results are bit-identical
  * (KernelTwinsSpec pins the twin).
  *
  * Why a kernel: the HOF spelling pays an interpreted lambda + a boxed
  * index + a digest-allocation PER SHINGLE of every document, then an
  * O(n log n) sort of hashes it throws away — this is the
  * document-fingerprint path, which runs over every streamed doc
  * forever (the [[MinhashSig]] argument). */
object BottomHashes {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Static kernel: '|'-joined k smallest distinct md5 hex digests. */
  def bottomK(sh: ArrayData, k: Int): UTF8String = {
    val md = digest.get()
    val set = new java.util.TreeSet[String]()
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(sh.getUTF8String(i).getBytes)
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < d.length) {
        sb.append(HEX((d(j) >> 4) & 0xf)); sb.append(HEX(d(j) & 0xf))
        j += 1
      }
      val h = sb.toString
      if (set.size < k) set.add(h)
      else if (h.compareTo(set.last()) < 0) {
        if (set.add(h)) set.remove(set.last())
      }
      i += 1
    }
    UTF8String.fromString(String.join("|", set))
  }

  /** Column form over an ARRAY<STRING> shingle column. */
  def bottomKCol(c: Column, k: Int): Column = {
    require(k >= 1, s"bottom_hashes needs k >= 1, got $k")
    Kernel.col(this, "bottomK", "bottom_hashes",
      Seq(c -> ArrayType(StringType)), StringType, k)
  }
}
