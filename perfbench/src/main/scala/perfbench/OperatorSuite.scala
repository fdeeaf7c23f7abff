package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** The operator layer: a fixed list of registered queries
  * (`graft.SparkEntry.allQueries`) that reaches every custom kernel in
  * `graft.functions` plus `operators/` and `streaming/`, and direct calls to
  * each kernel. The list, with each query's expected row count and content
  * hash per scale, is `operator_suite.tsv` next to this harness. Traced runs
  * of `many_small_tables` run it after their measured passes. */
object OperatorSuite {
  /** The queries' cost is mostly per Spark job at this scale. */
  val Sf = 0.01

  final case class Expected(query: String, sf: Double, rows: Long, hash: String)

  /** The listed queries, in file order; `rows`/`hash` are the expected
    * output at scale `sf`. */
  def expected(sf: Double): Seq[Expected] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/operator_suite.tsv"), "UTF-8")
    val all = try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => Expected(a(0), a(1).toDouble, a(2).toLong, a(3)))
      .toList finally src.close()
    val names = all.map(_.query).distinct
    names.map(n => all.find(e => e.query == n && e.sf == sf)
      .getOrElse(Expected(n, sf, -1L, "no digest committed at this scale")))
  }

  val Tables: Seq[String] = graft.tables.Tables.all

  /** An order-insensitive content hash: every row rendered with doubles
    * rounded to 6 decimals (the oracle comparison's rounding), rows sorted. */
  def contentHash(rows: Seq[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => cell(f.toDouble)
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    Fs.sha256(rows.map(r => r.toSeq.map(cell).mkString("|")).sorted.mkString("\n"))
  }

  /** Writes each listed query's result as parquet under `out/<query>/`
    * with the queries' oracle SQL in `out/oracle_sql.json`, the layout
    * `tools/check_oracle.py` compares against DuckDB, and prints the
    * digest lines for `operator_suite.tsv`. */
  def emit(ctx: Ctx, out: File): Unit = {
    val spark = ctx.spark
    val sf = ctx.sf.getOrElse(Sf)
    val dir = ctx.tables(Sf, Tables: _*).getPath
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val list = expected(sf)
    val oracle = list.flatMap(e => byName(e.query).oracle.map(e.query -> _))
    list.foreach { e =>
      val df = byName(e.query).run(spark, dir)
      val rows = df.collect().toSeq
      df.write.mode("overwrite").parquet(new File(out, e.query).getPath)
      println(s"${e.query}\t$sf\t${rows.size}\t${contentHash(rows)}")
    }
    val w = new java.io.PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try w.print(Json.value(oracle.toMap)) finally w.close()
  }

  def prepare(ctx: Ctx): Unit = ctx.tables(Sf, Tables: _*)

  /** Runs each listed query twice in list order, cold then warm, checks
    * both results against the committed digest and times the warm one;
    * then calls every kernel directly. Returns the layer metrics and the
    * number of query executions attempted and failed. */
  def probe(ctx: Ctx): (Map[String, Double], Long, Long, Seq[String]) = {
    val spark = ctx.spark
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val list = expected(ctx.sf.getOrElse(Sf))
    val dir = ctx.tables(Sf, Tables: _*).getPath
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    def exec(e: Expected): Option[Double] = {
      val t0 = System.nanoTime()
      val got = try byName.get(e.query).map(_.run(spark, dir).collect().toSeq)
        catch { case ex: Exception =>
          notes += s"${e.query} threw ${ex.getClass.getSimpleName}: ${ex.getMessage}"
          None
        }
      val sec = (System.nanoTime() - t0) / 1e9
      got match {
        case Some(rows) if rows.size == e.rows && contentHash(rows) == e.hash => Some(sec)
        case Some(rows) =>
          notes += s"${e.query}: ${rows.size} rows hash ${contentHash(rows)}, " +
            s"expected ${e.rows} rows hash ${e.hash}"
          None
        case None =>
          if (!byName.contains(e.query)) notes += s"${e.query} is not registered"
          None
      }
    }
    val runs = list.map(e => (e.query, exec(e), exec(e)))
    val failed = runs.map(r => Seq(r._2, r._3).count(_.isEmpty)).sum
    val warm = runs.collect { case (q, _, Some(s)) => q -> s }
    val cold = runs.flatMap(_._2)
    val layers = warm.map { case (q, s) => s"operators.query_s.$q" -> s }.toMap ++ (
      if (warm.isEmpty) Map.empty[String, Double] else Map(
        "operators.query_geomean_s" -> Stats.geomean(warm.map(_._2)),
        "operators.query_ms_p50" -> Stats.median(warm.map(_._2)) * 1000.0,
        "operators.suite_s" -> warm.map(_._2).sum,
        "operators.cold_suite_s" -> cold.sum)) ++
      Kernels.gauges(spark, dir)
    (layers, 2L * list.size, failed.toLong, notes.toSeq)
  }
}

/** Direct calls to each custom Catalyst kernel's evaluation function on the
  * driver, in the style of the program's own kernel micro-gauges: no Spark
  * job, only the kernel. Inputs come from the generated documents and
  * embeddings. Each gauge reports the median ns per input row of five
  * repetitions. */
object Kernels {
  private def nsPerRow(rows: Int)(body: => Long): Double = {
    var sink = 0L
    // untimed until the JIT has compiled the kernel: at least 200 ms
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 200000000L) sink += body
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / rows
    }
    if (sink == 42L) println("") // keeps the results observable
    Stats.median(reps)
  }

  def gauges(spark: org.apache.spark.sql.SparkSession, dir: String): Map[String, Double] = {
    import spark.implicits._
    val texts = graft.tables.Tables.documents(spark, dir).select("text").as[String]
      .collect().map(UTF8String.fromString)
    val tokens: Array[ArrayData] = texts.map(t => new GenericArrayData(
      t.toString.split(" ").map(w => UTF8String.fromString(w): Any)))
    val shingles: Array[ArrayData] = texts.map(t => Shingles.ngrams(t, 3, true, true))
    val vecs: Array[Array[Float]] = graft.tables.Tables.embeddings(spark, dir)
      .select("embedding").as[Array[Float]].collect()
    val floats: Array[ArrayData] = vecs.map(v => new GenericArrayData(v.map(x => x: Any)))
    val codes: Array[ArrayData] = vecs.map(v => new GenericArrayData(
      v.grouped(8).map(g => g.foldLeft(0L)((acc, x) =>
        (acc << 8) | ((math.round(x * 127).toLong & 0xff))): Any).toArray))
    val cents: Array[Array[Long]] = codes.take(16).map(_.toLongArray())
    val clusters = cents.indices.toArray
    val ids: Array[ArrayData] = texts.indices.map(i =>
      new GenericArrayData((0 until 2 + i % 14).map(j => (i * 31L + j): Any).toArray)).toArray
    val luma = {
      val rnd = new java.util.Random(7)
      Array.fill(64) { val b = new Array[Byte](64 * 64); rnd.nextBytes(b); b }
    }
    val dot = FloatDot(Literal(null), Literal(null))
    def loop[A](xs: Array[A])(f: A => Long): Long = {
      var s = 0L; var i = 0
      while (i < xs.length) { s += f(xs(i)); i += 1 }
      s
    }
    Map(
      "functions.winnow.ns_per_row" -> nsPerRow(texts.length)(
        loop(texts)(Winnow.fingerprint(_, 8, 16, 8).numElements())),
      "functions.shingles.ns_per_row" -> nsPerRow(texts.length)(
        loop(texts)(Shingles.ngrams(_, 3, true, true).numElements())),
      "functions.char_ngrams.ns_per_row" -> nsPerRow(texts.length)(
        loop(texts)(Shingles.charNgrams(_, 5, true).numElements())),
      "functions.minhash_sig.ns_per_row" -> nsPerRow(shingles.length)(
        loop(shingles)(MinhashSig.sig(_).numElements())),
      "functions.bottom_hashes.ns_per_row" -> nsPerRow(shingles.length)(
        loop(shingles)(BottomHashes.bottomK(_, 16).numBytes())),
      "functions.token_stats.ns_per_row" -> nsPerRow(tokens.length)(
        loop(tokens)(t => TokenStats.typeStats(t).numElements() +
          TokenStats.wordStats(t).numElements())),
      "functions.hashed_counts.ns_per_row" -> nsPerRow(tokens.length)(
        loop(tokens)(HashedCounts.counts(_, 1024).numElements())),
      "functions.pair_expand.ns_per_row" -> nsPerRow(ids.length)(
        loop(ids)(PairExpand.pairsLong(_).numElements())),
      "functions.code_dists.ns_per_row" -> nsPerRow(codes.length)(
        loop(codes)(CodeDists.l2(_, clusters, cents).numElements())),
      "functions.phash.ns_per_row" -> nsPerRow(luma.length)(
        loop(luma)(PHash.phash64(_, 64, 64))),
      "functions.float_dot.ns_per_row" -> nsPerRow(floats.length)(
        loop(floats)(a => dot.nullSafeEval(a, a).asInstanceOf[Double].toLong)))
  }
}
