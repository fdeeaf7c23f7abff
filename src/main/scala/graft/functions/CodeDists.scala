package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Integer-exact squared-L2 distance structs against a LITERAL centroid
  * table — the codegen'd kernel form of
  * `transform(array(<centroid structs>), c -> struct(
  *    aggregate(zip_with(qv, c.c, (x,y) -> (x-y)*(x-y)), 0L, (a,x) -> a+x)
  *    AS dist2, c.cluster AS cluster))`.
  *
  * Returns the SAME `ARRAY<STRUCT<dist2: BIGINT, cluster: INT>>` in the
  * same centroid order, so every downstream consumer — `array_min` for
  * the Lloyd assignment (struct comparison is lexicographic: (dist2,
  * cluster), the oracle's exact tiebreak), `array_sort`+`slice` for the
  * multi-probe ranking, `explode` for the PQ distance frame — is
  * untouched.
  *
  * Why a kernel: the HOF spelling evaluates k·dims interpreted lambda
  * calls per row, per Lloyd pass (k=8..16, dims=8..64, 3 passes per
  * trainer, several trainers per query chain) — the same ~µs-per-element
  * expression-eval overhead the Shingles kernel removed from the dedup
  * chains, here sitting inside every sim07/sim08/sim09/dd09 assignment.
  * The kernel is a tight long-arithmetic loop inside whole-stage codegen
  * (centroids ride along as a plan reference object, k·dims longs; held
  * as Seq constants of the [[Kernel]] so plan equality stays structural).
  */
object CodeDists {

  private val elemType = StructType(Seq(
    StructField("dist2", LongType, nullable = false),
    StructField("cluster", IntegerType, nullable = false)))

  private val arrayType = ArrayType(elemType, containsNull = false)
  private val codes = ArrayType(LongType)

  /** Static kernel: distances of `qv` against every centroid, in order. */
  def l2(qv: ArrayData, clusters: Array[Int],
      cents: Array[Array[Long]]): ArrayData = {
    val q = qv.toLongArray()
    val out = new Array[Any](cents.length)
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var s = 0L
      var j = 0
      while (j < q.length) { val d = q(j) - c(j); s += d * d; j += 1 }
      out(i) = new GenericInternalRow(Array[Any](s, clusters(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Static kernel, per-subspace form: codebook `sub` picked per row. */
  def l2Sub(qv: ArrayData, sub: Int, clusters: Array[Array[Int]],
      cents: Array[Array[Array[Long]]]): ArrayData =
    l2(qv, clusters(sub), cents(sub))

  /** Column form: distance structs of an ARRAY<BIGINT> code column
    * against one literal codebook (cluster id, centroid) list. */
  def l2Col(qv: Column, centroids: Seq[(Int, Array[Long])]): Column =
    Kernel.col(this, "l2", "l2_code_dists", Seq(qv -> codes), arrayType,
      centroids.map(_._1).toIndexedSeq,
      centroids.map(_._2.toIndexedSeq).toIndexedSeq)

  /** Column form: per-subspace codebooks, selected by the `sub` column
    * (0-based) — the PQ trainer's shape. */
  def l2SubCol(qv: Column, sub: Column,
      codebooks: Seq[Seq[(Int, Array[Long])]]): Column =
    Kernel.col(this, "l2Sub", "pq_code_dists",
      Seq(qv -> codes, sub -> IntegerType), arrayType,
      codebooks.map(_.map(_._1).toIndexedSeq).toIndexedSeq,
      codebooks.map(_.map(_._2.toIndexedSeq).toIndexedSeq).toIndexedSeq)

  /** Static kernel: squared-L2 between two code vectors — the pairwise
    * form (both sides are columns, e.g. a probe row against a cell
    * row), same tight long loop as [[l2]]. */
  def l2Pair(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    var s = 0L
    var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }

  /** Column form of [[l2Pair]] — the ranking metric of the store-backed
    * IVF search (exact integer arithmetic: engines and runs can never
    * disagree on an ordering). */
  def l2PairCol(a: Column, b: Column): Column =
    Kernel.col(this, "l2Pair", "l2_code_pair", Seq(a -> codes, b -> codes),
      LongType)
}
