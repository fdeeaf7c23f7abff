package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** In-bucket candidate-pair expansion in one pass — the kernel form of
  * the nested-HOF spelling shared by the LSH banding (dd03 tier), the
  * winnowing detector (dd07) and the pHash banding (mm09):
  * {{{
  * flatten(transform(ids, (x, i) ->
  *   transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))
  * }}}
  * i.e. all i < j ordered pairs of a (sorted, capped) bucket member
  * list, optionally filtered by the banding's already-seen suppression
  * (`x.prev_key = y.prev_key` pairs dropped).
  *
  * Emission order is i-major / j-ascending — exactly the flatten order —
  * so `explode` output is row-for-row identical (PairExpandSpec pins
  * both variants against their declarative twins).
  *
  * Why a kernel: bucket caps bound the OUTPUT (≤ cap²/2 pairs per
  * bucket), but the HOF spelling pays interpreted lambda eval + boxed
  * index + per-element struct/slice allocation on every emitted pair —
  * ~10 µs/pair across every dedup chain's candidate stage (the
  * [[MinhashSig]] argument). The kernel emits rows from a tight loop
  * inside whole-stage codegen. */
object PairExpand {

  /** All i < j pairs of an ARRAY<BIGINT> member list. */
  def pairsLong(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val a = ids.toLongArray()
    val out = new Array[Any](n * (n - 1) / 2)
    var p = 0
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(p) = new GenericInternalRow(Array[Any](a(i), a(j)))
        p += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All i < j pairs of an ARRAY<STRUCT<doc_id BIGINT, prev_key STRING>>
    * member list whose prev_key DIFFERS (the banding's suppression of
    * pairs an earlier band already emitted). Field access is by ordinal:
    * 0 = doc_id, 1 = prev_key. A NULL prev_key on EITHER side drops the
    * pair — SQL null semantics of the declarative twin
    * `filter(p -> NOT (x.prev_key = y.prev_key))`, where any null
    * comparison yields null and the filter rejects it. (Not reachable
    * from dd03, whose prev_key is always derived non-null, but the
    * expression is general-purpose and accepts nullable struct fields.) */
  def pairsUnseen(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val doc = new Array[Long](n)
    val key = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) {
      val r = ids.getStruct(i, 2)
      doc(i) = r.getLong(0)
      key(i) = r.getUTF8String(1)
      i += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[Any](n)
    i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        if (key(i) != null && key(j) != null && !key(i).equals(key(j)))
          buf += new GenericInternalRow(Array[Any](doc(i), doc(j)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(buf.toArray)
  }

  private val EMPTY = org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8

  /** All i < j pairs of an ARRAY<STRING> member list followed by one
    * (x, '') total marker per member — the kernel form of the
    * source-overlap spelling
    * `concat(flatten(transform(srcs, (x,i) -> transform(slice(srcs, i+2,
    * size(srcs)), y -> struct(x, y)))), transform(srcs, x ->
    * struct(x, '')))`, which runs once per corpus shingle. */
  def pairsStrTagged(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val a = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) { a(i) = ids.getUTF8String(i); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2 + n)
    var p = 0
    i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(p) = new GenericInternalRow(Array[Any](a(i), a(j)))
        p += 1; j += 1
      }
      i += 1
    }
    i = 0
    while (i < n) {
      out(p) = new GenericInternalRow(Array[Any](a(i), EMPTY))
      p += 1; i += 1
    }
    new GenericArrayData(out)
  }

  private def pairsOf(a: String, b: String, t: DataType) = ArrayType(
    StructType(Seq(StructField(a, t, nullable = false),
      StructField(b, t, nullable = false))), containsNull = false)

  private def expand(method: String, c: Column, in: DataType,
      out: DataType): Column =
    Kernel.col(this, method, "pair_expand", Seq(c -> in), out)

  /** Column form: ARRAY<BIGINT> ids → ARRAY<STRUCT<doc_a, doc_b>>. */
  def pairsCol(c: Column): Column = expand("pairsLong", c,
    ArrayType(LongType), pairsOf("doc_a", "doc_b", LongType))

  /** Column form: ARRAY<STRUCT<doc_id, prev_key>> →
    * ARRAY<STRUCT<doc_a, doc_b>> with same-prev_key pairs suppressed. */
  def pairsUnseenCol(c: Column): Column = expand("pairsUnseen", c,
    ArrayType(StructType(Seq(StructField("doc_id", LongType),
      StructField("prev_key", StringType)))),
    pairsOf("doc_a", "doc_b", LongType))

  /** Column form: ARRAY<STRING> srcs →
    * ARRAY<STRUCT<src_a, src_b>> pairs + (x, '') total markers. */
  def pairsStrTaggedCol(c: Column): Column = expand("pairsStrTagged", c,
    ArrayType(StringType), pairsOf("src_a", "src_b", StringType))
}
