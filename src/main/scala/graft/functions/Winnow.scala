package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash winnowing fingerprint (the MOSS/winnowing scheme): Rabin-
  * Karp polynomial hashes over every k-BYTE window of the document,
  * computed with the O(n) ROLLING recurrence
  * `h' = ((h − c_out·B^(k−1))·B + c_in) mod M`, then the minimum hash of
  * each w consecutive window-hashes (sliding min via a monotonic deque,
  * also O(n)), deduplicated and returned as the `maxPieces` smallest
  * minima ascending — a compact, alignment-robust document fingerprint:
  * two documents sharing any k-byte stretch of length ≥ k+w−1 share a
  * fingerprint piece regardless of where it sits in either document.
  *
  * Kernel notes:
  *  - hashes BYTES (B=257 > any byte, M=1e9+7 keeps `h·B + c` < 2^40 —
  *    exact in long arithmetic). For ASCII text the oracle reproduces the
  *    identical values per character; the byte formulation is the
  *    byte-BPE-style choice for arbitrary input.
  *  - O(n) per document and embarrassingly parallel — the per-row cost a
  *    100 TB fingerprint pass needs (the naive per-window recompute is
  *    O(n·k); an interpreted higher-order-function formulation adds a
  *    ~100× constant on top — see FloatDot's scaladoc).
  */
object Winnow {
  final val M = 1000000007L
  final val B = 257L

  /** Static kernel invoked from both interpreted eval and generated code.
    *
    * Round-19 per-task batching (guide §1.2 step 2 — per-task work, after
    * the job shape is right): the r18 kernel allocated two O(n) arrays per
    * ROW (all n−k+1 window hashes + a deque sized like them — ~12 bytes/
    * byte of document, pure GC churn) and recorded every window's minimum
    * through a boxing `TreeSet.add` (one boxed Long + O(log m) tree walk
    * per POSITION, though the min persists ~w positions, so almost every
    * add was a duplicate re-insert). Rewritten single-pass with O(w)
    * state: the rolling hash feeds a w-slot ring + circular monotonic
    * deque directly, and the `maxPieces` smallest DISTINCT minima are kept
    * in a bounded ascending insertion array (≤ maxPieces longs; after
    * warm-up nearly every window exits on one `m >= best(bn-1)` compare).
    * Output is bit-identical: same hashes, same window minima, same
    * smallest-distinct-ascending selection (WinnowSpec pins the kernel
    * against a reference recompute). */
  def fingerprint(s: UTF8String, k: Int, w: Int, maxPieces: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val nh = n - k + 1
    if (nh < w || maxPieces <= 0) return new GenericArrayData(Array.empty[Long])
    var bk = 1L // B^(k-1) mod M
    var j = 0
    while (j < k - 1) { bk = bk * B % M; j += 1 }
    // position p's hash lives at ring(p % w): the deque only ever holds
    // positions in [p−w, p], and the one slot p overwrites (p−w) is
    // never hash-read after the overwrite — the pop-back loop runs
    // BEFORE the ring write, and the head eviction / min record compare
    // positions, then read only survivors > p−w
    val ring = new Array[Long](w)
    val dq = new Array[Int](w + 1) // circular; w+1 live positions max
    var head = 0
    var tail = 0 // monotonic counters; slot = counter % (w+1)
    // two recorder tiers, both fed only on min-CHANGE (the min persists
    // ~w positions, so this alone drops ~w× of the record calls):
    //  - small maxPieces (the fingerprint queries, 8): bounded ascending
    //    insertion array — after warm-up nearly every change exits on
    //    one `m >= best(bn−1)` compare, zero allocation;
    //  - unbounded (winnowPairs passes Int.MaxValue for ALL distinct
    //    minima): growable long buffer of the change values, one
    //    sort + in-place dedup at the end — primitive longs throughout,
    //    never a boxed tree node.
    val bounded = maxPieces <= 64
    val best = if (bounded) new Array[Long](maxPieces) else null
    var bn = 0
    var buf = if (bounded) null else new Array[Long](64)
    var bufN = 0
    var lastMin = -1L // hashes are in [0, M); −1 never collides
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + (bytes(i) & 0xff)) % M; i += 1 }
    var p = 0
    while (p < nh) {
      if (p > 0)
        h = ((h - (bytes(p - 1) & 0xff) * bk % M + M) % M * B +
          (bytes(p + k - 1) & 0xff)) % M
      while (tail > head && ring(dq((tail - 1) % (w + 1)) % w) >= h)
        tail -= 1
      ring(p % w) = h
      dq(tail % (w + 1)) = p
      tail += 1
      if (dq(head % (w + 1)) <= p - w) head += 1
      if (p >= w - 1) {
        val m = ring(dq(head % (w + 1)) % w)
        if (m != lastMin) {
          lastMin = m
          if (bounded) {
            if (bn < maxPieces || m < best(bn - 1)) {
              var lo = 0
              while (lo < bn && best(lo) < m) lo += 1
              if (lo == bn || best(lo) != m) {
                var q = math.min(bn, maxPieces - 1)
                while (q > lo) { best(q) = best(q - 1); q -= 1 }
                best(lo) = m
                if (bn < maxPieces) bn += 1
              }
            }
          } else {
            if (bufN == buf.length)
              buf = java.util.Arrays.copyOf(buf, buf.length * 2)
            buf(bufN) = m
            bufN += 1
          }
        }
      }
      p += 1
    }
    if (bounded)
      new GenericArrayData(
        if (bn == maxPieces) best else java.util.Arrays.copyOf(best, bn))
    else {
      java.util.Arrays.sort(buf, 0, bufN)
      var o = 0
      var q = 0
      while (q < bufN) {
        if (o == 0 || buf(o - 1) != buf(q)) { buf(o) = buf(q); o += 1 }
        q += 1
      }
      val len = math.min(maxPieces.toLong, o.toLong).toInt
      new GenericArrayData(java.util.Arrays.copyOfRange(buf, 0, len))
    }
  }

  /** Column form: winnowing fingerprint of a string column. */
  def fingerprintCol(c: Column, k: Int = 8, w: Int = 16,
      maxPieces: Int = 8): Column =
    GraftSqlBridge.column(
      WinnowFingerprint(GraftSqlBridge.expression(c), k, w, maxPieces))
}

/** Catalyst expression wrapper: stays inside whole-stage codegen by
  * emitting a direct static call to the compiled kernel (the standard
  * pattern for kernels too large to inline as generated Java). */
case class WinnowFingerprint(child: Expression, k: Int, w: Int,
    maxPieces: Int) extends UnaryExpression {
  require(k >= 1 && w >= 1 && maxPieces >= 1,
    s"winnow_fingerprint needs positive k/w/maxPieces, got $k/$w/$maxPieces")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "winnow_fingerprint"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " +
        child.dataType.simpleString)
  }

  override def nullSafeEval(s: Any): Any =
    Winnow.fingerprint(s.asInstanceOf[UTF8String], k, w, maxPieces)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Winnow.fingerprint($c, $k, $w, $maxPieces);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
