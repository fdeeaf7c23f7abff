package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{FloatDot, Kernel, Shingles, Winnow}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions so `spark.sql("... float_dot(a, b) ...")`
  * works (and so any SQL-generating layer — e.g. the check-command
  * builder — can embed them). Activate with:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
}

object GraftExtensions {

  /** One SQL function: `signature` is its usage, `exprs` leading
    * arguments are expressions and the rest are literals that may be left
    * off, taking `defaults` (whose types they must have). `make` gets the
    * expressions followed by the literal values. */
  private final case class SqlFunction(signature: String, cls: Class[_],
      exprs: Int, defaults: Seq[Any])(make: PartialFunction[Seq[Any], Expression]) {
    val name: String = signature.takeWhile(_ != '(')

    def build(children: Seq[Expression]): Expression = {
      val n = children.length
      if (defaults.isEmpty) require(n == exprs,
        s"$name requires exactly $exprs arguments, got $n")
      else require(n >= exprs && n <= exprs + defaults.length,
        s"$signature takes $exprs-${exprs + defaults.length} arguments, got $n")
      val literals = defaults.zipWithIndex.map { case (d, j) =>
        children.lift(exprs + j) match {
          case None => d
          case Some(Literal(v, _)) if v != null && v.getClass == d.getClass => v
          case Some(other) =>
            val kind = d match { case _: Boolean => "a boolean"; case _ => "an int" }
            throw new IllegalArgumentException(
              s"$name argument ${exprs + j + 1} must be $kind literal, got $other")
        }
      }
      make(children.take(exprs) ++ literals)
    }
  }

  private def col(e: Any) = GraftSqlBridge.column(e.asInstanceOf[Expression])

  /** Every SQL function graft registers, by either route. */
  private val functions = Seq(
    SqlFunction("float_dot(a, b)", classOf[FloatDot], 2, Nil) {
      case Seq(a: Expression, b: Expression) => FloatDot(a, b)
    },
    SqlFunction("winnow_fingerprint(text[, k, w, maxPieces])",
        classOf[Kernel], 1, Seq(8, 16, 8)) {
      case Seq(t, k: Int, w: Int, m: Int) =>
        GraftSqlBridge.expression(Winnow.fingerprintCol(col(t), k, w, m))
    },
    // defaults: the word-bigram keep-empty non-distinct form
    SqlFunction("shingle_ngrams(text[, n, skipEmpty, distinct])",
        classOf[Kernel], 1, Seq(2, false, false)) {
      case Seq(t, n: Int, skip: Boolean, distinct: Boolean) =>
        GraftSqlBridge.expression(Shingles.ngramsCol(col(t), n, skip, distinct))
    })

  /** Same registration for a session that already exists (builder
    * extensions are ignored by getOrCreate when a session is live). Also
    * sets the session's nanosecond-timestamp mapping, as
    * [[SessionDefaults]] does at build, so a session graft is installed on
    * later reads TIMESTAMP(NANOS) lake tables too. */
  def register(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    functions.foreach(f =>
      GraftSqlBridge.registerTempFunction(spark, f.name, f.build))
  }
}
