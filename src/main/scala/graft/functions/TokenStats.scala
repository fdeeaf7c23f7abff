package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row type statistics of a token array in ONE hash pass —
  * `[n_types, Σ count(t)²]` — the codegen'd kernel form of
  * `size(array_distinct(l))` plus
  * `aggregate(transform(array_distinct(l), v -> size(filter(l, x -> x = v))),
  *    0L, (acc, c) -> acc + c*c)`.
  *
  * The declarative spelling is the repo's one QUADRATIC per-row shape: a
  * full filter pass per distinct type, O(types × tokens) interpreted
  * lambda evals per document — harmless on 300-char fixtures, ruinous on
  * a 100k-token document (tx12's scaladoc already rejects this shape for
  * entropy; tx10 carried it for Simpson's index). One HashMap pass gives
  * both numbers in O(tokens). */
object TokenStats {

  /** Static kernel: [n_types, sum of squared type counts]. */
  def typeStats(l: ArrayData): ArrayData = {
    val n = l.numElements()
    val m = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val t = l.getUTF8String(i)
      val c = m.get(t)
      if (c == null) m.put(t, Array(1L)) else c(0) += 1
      i += 1
    }
    var ss = 0L
    val it = m.values().iterator()
    while (it.hasNext) { val c = it.next()(0); ss += c * c }
    new GenericArrayData(Array(m.size.toLong, ss))
  }

  /** Column form over an ARRAY<STRING> token column. */
  def typeStatsCol(c: Column): Column = stats("typeStats", "token_type_stats", c)

  private def stats(method: String, name: String, c: Column): Column =
    Kernel.col(this, method, name, Seq(c -> ArrayType(StringType)),
      ArrayType(LongType, containsNull = false))

  /** Static kernel: `[Σ char-length, #tokens containing an ASCII
    * letter]` — the Gopher mean-word-length and alpha-word inputs in one
    * pass (the declarative spelling folds an interpreted lambda per
    * token for the sum and runs an RLIKE regex per token for the alpha
    * test; an ASCII letter is a single byte and multi-byte UTF-8 units
    * all have the high bit set, so a byte scan is exact). */
  def wordStats(l: ArrayData): ArrayData = {
    val n = l.numElements()
    var sumLen = 0L
    var nAlpha = 0L
    var i = 0
    while (i < n) {
      val t = l.getUTF8String(i)
      sumLen += t.numChars()
      val b = t.getBytes
      var j = 0
      var hit = false
      while (j < b.length && !hit) {
        val c = b(j)
        hit = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
        j += 1
      }
      if (hit) nAlpha += 1
      i += 1
    }
    new GenericArrayData(Array(sumLen, nAlpha))
  }

  /** Column form over an ARRAY<STRING> token column. */
  def wordStatsCol(c: Column): Column = stats("wordStats", "token_word_stats", c)
}
