package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fixed-scale int8 scalar quantization of a float vector — the codegen'd
  * kernel form of
  * `transform(embedding, x -> greatest(-127, least(127,
  *    floor(CAST(x AS DOUBLE) * 64.0 + 0.5))))`
  * (per-element floor-to-nearest at scale 64, clamped to ±127 — the
  * sim06/sim07/sim08/sim09 code space). Bit-identical to the declarative
  * spelling: JVM float→double widening IS Spark's cast, `math.floor` on
  * the double IS Spark's floor, and the clamp happens on the exact
  * integer. Returns BIGINT codes (the trainers' space) or their FLOAT
  * rendering (sim06's FloatDot scoring path) — each code is a small
  * integer, exact in both types.
  *
  * Why a kernel: every vector of the corpus passes through this
  * projection at the head of every similarity chain, and the HOF
  * spelling evaluates an interpreted lambda per ELEMENT (dims × corpus
  * evals) — the same overhead class Shingles/CodeDists removed.
  */
object Quantize {

  /** Static kernel: quantize to BIGINT codes. */
  def toLongs(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val q = math.floor(v.getFloat(i).toDouble * 64.0 + 0.5)
      out(i) = math.max(-127L, math.min(127L, q.toLong))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Static kernel: the same codes, rendered as floats. */
  def toFloats(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val q = math.floor(v.getFloat(i).toDouble * 64.0 + 0.5)
      out(i) = math.max(-127L, math.min(127L, q.toLong)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  private def quantize(method: String, c: Column, code: DataType): Column =
    Kernel.col(this, method, "quantize_i8", Seq(c -> ArrayType(FloatType)),
      ArrayType(code, containsNull = false))

  def toLongsCol(c: Column): Column = quantize("toLongs", c, LongType)

  def toFloatsCol(c: Column): Column = quantize("toFloats", c, FloatType)
}
