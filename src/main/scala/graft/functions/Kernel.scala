package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** The one Catalyst expression over graft's static kernels: `name(children)`
  * evaluates `owner.method(children..., consts...)`, where `owner` names
  * the kernel's Scala object (its static forwarders) and `consts` are the
  * kernel's constant arguments. Every `*Col` builder in this package
  * builds one through [[Kernel.col]].
  *
  *  - Plan text shows `name(children, consts)`; `sql` and generated
  *    column names show `name(children)`.
  *  - Each child must have its `inputTypes` entry's type, compared
  *    ignoring nullability and struct field names; anything else fails
  *    analysis with a message naming the kernel. Nothing is cast.
  *  - A null child gives null, and the kernel is not called.
  *  - Generated code is the direct static call `owner.method(...)`, so
  *    the kernel runs inside whole-stage codegen. The interpreted path
  *    invokes the same method, looked up once per instance.
  *  - `consts` are immutable Scala values (`Int`, `Boolean`, nested
  *    `IndexedSeq`s), so plan equality stays structural; they become the
  *    method's parameter types (`int[]`, `long[][]`, ...) once per
  *    instance. A primitive constant is inlined in generated code, an
  *    array one rides along as a reference object.
  */
case class Kernel(name: String, owner: String, method: String,
    children: Seq[Expression], inputTypes: Seq[DataType],
    dataType: DataType, consts: Seq[Any]) extends Expression {

  override def prettyName: String = name
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ consts.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == inputTypes.length &&
        children.zip(inputTypes).forall { case (c, t) =>
          GraftSqlBridge.sameShape(c.dataType, t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (${inputTypes.map(_.sql).mkString(", ")}), got " +
        s"(${children.map(_.dataType.sql).mkString(", ")})")

  @transient private lazy val target: Method = {
    val arity = children.length + consts.length
    Class.forName(owner).getMethods.filter(m => m.getName == method &&
        Modifier.isStatic(m.getModifiers) && m.getParameterCount == arity)
      .toSeq match {
      case Seq(m) => m
      case ms => throw new IllegalStateException(
        s"$name: ${ms.size} static methods $owner.$method of arity $arity")
    }
  }

  @transient private lazy val constTypes =
    target.getParameterTypes.toSeq.drop(children.length)

  @transient private lazy val constArgs: Array[AnyRef] =
    consts.zip(constTypes).map { case (v, t) => Kernel.toJava(v, t) }.toArray

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + constArgs.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(constArgs, 0, args, children.length, constArgs.length)
    try target.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val constCode = constArgs.toSeq.zip(constTypes).map {
      case (v, t) if t.isPrimitive => v.toString
      case (v, t) => ctx.addReferenceObj("const", v, t.getCanonicalName)
    }
    val args = (gens.map(_.value.toString) ++ constCode).mkString(", ")
    val call = s"${ev.value} = $owner.$method($args);"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val body = gens.zip(children).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((g, c), inner) =>
          s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object Kernel {

  /** `name(args)` as a column: the static `method` of the kernel object
    * `owner` over the argument columns, each of which must have the type
    * paired with it, then `consts`; the result has type `dataType`. */
  def col(owner: AnyRef, method: String, name: String,
      args: Seq[(Column, DataType)], dataType: DataType,
      consts: Any*): Column =
    GraftSqlBridge.column(Kernel(name, owner.getClass.getName.stripSuffix("$"),
      method, args.map(a => GraftSqlBridge.expression(a._1)), args.map(_._2),
      dataType, consts.toList))

  /** A constant as a value of the Java parameter type `t`: nested
    * sequences become (nested) arrays of `t`'s component type. */
  private def toJava(v: Any, t: Class[_]): AnyRef = v match {
    case s: Seq[_] if t.isArray =>
      val a = java.lang.reflect.Array.newInstance(t.getComponentType, s.length)
      s.iterator.zipWithIndex.foreach { case (x, i) =>
        java.lang.reflect.Array.set(a, i, toJava(x, t.getComponentType)) }
      a
    case x => x.asInstanceOf[AnyRef]
  }
}
