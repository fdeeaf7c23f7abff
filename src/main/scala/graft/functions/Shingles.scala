package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a document in ONE byte-level pass — the
  * codegen'd kernel form of
  * `transform(sequence(0, size(l)-n), i -> array_join(slice(l, i+1, n), ' '))`
  * over `l = split(text, ' ')` (optionally empty-token-filtered first,
  * optionally `array_distinct`-ed after).
  *
  * Semantics are IDENTICAL to the declarative spellings they replace
  * (pinned by ShinglesSpec element-for-element):
  *  - `skipEmpty = false` reproduces `split(text, ' ')`, which KEEPS
  *    empty tokens including trailing ones (regex split, limit -1);
  *    every n-gram is then, by construction, the original text's byte
  *    slice from `start(tok_i)` to `end(tok_{i+n-1})` — the delimiter
  *    is a single 0x20 byte, which can never appear inside a multi-byte
  *    UTF-8 sequence, so the kernel just records space positions and
  *    emits slices: zero string building;
  *  - `skipEmpty = true` reproduces `filter(split(text, ' '), x -> x <> '')`
  *    (the tx19/dd12/dd13 tokenization): surviving tokens are no longer
  *    contiguous in the source, so each n-gram is assembled once into a
  *    byte buffer (token bytes + single 0x20 separators) — still one
  *    O(bytes) pass, no per-element lambda eval;
  *  - `distinct = true` keeps first occurrences in order, matching
  *    `array_distinct`;
  *  - fewer than n tokens → empty array, matching the `size(l) >= n`
  *    guards (explode of the empty array emits no row, so callers can
  *    drop the separate pre-filter).
  *
  * Why a kernel: the higher-order-function spelling runs INTERPRETED
  * (lambda eval per element with boxed indices and per-element
  * concat/array_join allocation) and measured ~2.2 s for sf0.1's 5k-doc
  * corpus — ~10 µs per shingle on a 1.5 MB input, pure expression-eval
  * overhead. The kernel stays inside whole-stage codegen, the same
  * argument as [[Winnow]]/FloatDot. At 100 TB this projection runs once
  * per corpus scan in every dedup chain, so the constant matters.
  */
object Shingles {

  /** Static kernel invoked from both interpreted eval and generated code. */
  def ngrams(s: UTF8String, n: Int, skipEmpty: Boolean,
      distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token spans: starts(j) inclusive, ends(j) exclusive
    var nSpaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) nSpaces += 1; i += 1 }
    val maxTok = nSpaces + 1
    val starts = new Array[Int](maxTok)
    val ends = new Array[Int](maxTok)
    var nTok = 0
    var tokStart = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        if (!skipEmpty || i > tokStart) {
          starts(nTok) = tokStart; ends(nTok) = i; nTok += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    val nGr = nTok - n + 1
    if (nGr <= 0) return new GenericArrayData(Array.empty[Any])
    def gram(j: Int): UTF8String =
      if (!skipEmpty) {
        // contiguous in the source: delimiters are single 0x20 bytes
        UTF8String.fromBytes(bytes, starts(j), ends(j + n - 1) - starts(j))
      } else {
        var sz = n - 1
        var k = j
        while (k < j + n) { sz += ends(k) - starts(k); k += 1 }
        val out = new Array[Byte](sz)
        var p = 0
        k = j
        while (k < j + n) {
          if (k > j) { out(p) = 0x20; p += 1 }
          val tl = ends(k) - starts(k)
          System.arraycopy(bytes, starts(k), out, p, tl)
          p += tl
          k += 1
        }
        UTF8String.fromBytes(out)
      }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](nGr * 2)
      var j = 0
      while (j < nGr) { seen.add(gram(j)); j += 1 }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var p = 0
      while (it.hasNext) { out(p) = it.next(); p += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](nGr)
      var j = 0
      while (j < nGr) { out(j) = gram(j); j += 1 }
      new GenericArrayData(out)
    }
  }

  /** Word bigrams, keep-empty tokenization: [[ngrams]] with n = 2. */
  def bigrams(s: UTF8String, distinct: Boolean): ArrayData =
    ngrams(s, 2, skipEmpty = false, distinct = distinct)

  /** CHARACTER (codepoint) n-grams in one byte pass — the kernel form of
    * `transform(sequence(1, length(text) - n + 1), i -> substring(text, i, n))`
    * (+ `array_distinct` when `distinct`), tx08's trigram spelling.
    * `substring` counts CODEPOINTS, so the kernel records codepoint byte
    * offsets once and emits byte slices between them — multi-byte UTF-8
    * text produces exactly the declarative grams (CharNgramsSpec pins
    * this on mixed ASCII/CJK/emoji inputs). Fewer than n codepoints →
    * empty array, matching the callers' `length(text) >= n` guards.
    * Why a kernel: the HOF spelling interprets a lambda + allocates a
    * boxed index and a substring PER CHARACTER of every document on the
    * tx08 lang-id path (~10 µs/element, the [[MinhashSig]] argument). */
  def charNgrams(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var cp = 0
    var i = 0
    while (i < len) {
      i += UTF8String.numBytesForFirstByte(bytes(i)); cp += 1
    }
    val nGr = cp - n + 1
    if (nGr <= 0) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](cp + 1)
    i = 0
    var j = 0
    while (i < len) {
      off(j) = i; j += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    off(cp) = len
    def gram(k: Int): UTF8String =
      UTF8String.fromBytes(bytes, off(k), off(k + n) - off(k))
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](nGr * 2)
      var k = 0
      while (k < nGr) { seen.add(gram(k)); k += 1 }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var p = 0
      while (it.hasNext) { out(p) = it.next(); p += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](nGr)
      var k = 0
      while (k < nGr) { out(k) = gram(k); k += 1 }
      new GenericArrayData(out)
    }
  }

  /** Column form: all word-bigram shingles of a text column, in order
    * (split keep-empty tokenization). */
  def bigramsCol(c: Column): Column = ngramsCol(c, 2,
    skipEmpty = false, distinct = false)

  /** Column form: DISTINCT word-bigram shingles (first occurrence order,
    * split keep-empty tokenization). */
  def distinctBigramsCol(c: Column): Column = ngramsCol(c, 2,
    skipEmpty = false, distinct = true)

  /** Column form: word n-gram shingles with explicit tokenization. */
  def ngramsCol(c: Column, n: Int, skipEmpty: Boolean,
      distinct: Boolean): Column = {
    require(n >= 1, s"shingle_ngrams needs n >= 1, got $n")
    grams("ngrams", "shingle_ngrams", c, n, skipEmpty, distinct)
  }

  /** Column form: character (codepoint) n-grams. */
  def charNgramsCol(c: Column, n: Int, distinct: Boolean): Column = {
    require(n >= 1, s"char_ngrams needs n >= 1, got $n")
    grams("charNgrams", "char_ngrams", c, n, distinct)
  }

  private def grams(method: String, name: String, c: Column,
      consts: Any*): Column =
    Kernel.col(this, method, name, Seq(c -> StringType),
      ArrayType(StringType, containsNull = false), consts: _*)
}
