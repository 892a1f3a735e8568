package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable,
  TaggingExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, ObjectType, StructType}

/** One native function: `name(args)` computed by the static kernel
  * method `kernel.method(args)`, with result type `dataType`.
  *
  * Why a kernel and not a UDF or a higher-order function: a Scala UDF
  * converts each array to a `Seq` per call, and `transform`/`aggregate`
  * lambdas run interpreted and disqualify their whole projection from
  * whole-stage codegen (an `array_min(slice(...))` windowing chain cost
  * ~300× the kernel). A kernel reads `ArrayData`/`UTF8String` in place.
  *
  * The call is Spark's `StaticInvoke` (under a [[KernelResult]] tag),
  * which runs the same static method in whole-stage codegen and in
  * interpreted eval, so the kernel is the one place the function's work
  * is written. A null argument gives a null result without calling the
  * kernel; `returnNullable` says the kernel may also return null (a
  * boxed value for a primitive `dataType`), otherwise the result is null
  * only for a null argument.
  *
  * Each argument carries the type it must have (`expects`), checked at
  * analysis: a wrong type would misread `UnsafeArrayData` slots row by
  * row (an `array<double>` read as floats) or fail inside a task. All
  * fields are values, so equal calls are equal plans and one common
  * subexpression.
  */
case class KernelCall(name: String, kernel: Class[_], method: String,
    override val dataType: DataType, returnNullable: Boolean,
    args: Seq[Expression], expects: Seq[DataType]) extends RuntimeReplaceable {
  require(args.length == expects.length, s"$name: one expected type per argument")

  override lazy val replacement: Expression = KernelResult(name,
    StaticInvoke(kernel, dataType, method, args, returnNullable = returnNullable))

  override def prettyName: String = name
  override def children: Seq[Expression] = args
  override protected def stringArgs: Iterator[Any] = args.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    args.zip(expects).collectFirst {
      case (a, t) if !KernelCall.accepts(t, a.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$name expects ${t.simpleString}, got ${a.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(args = c)
}

/** A [[KernelCall]] as it runs: `child` (the `StaticInvoke`) under the
  * function's name, evaluated and code-generated as `child` itself.
  * `StaticInvoke` declares itself null-intolerant, so the optimizer
  * would infer `isnotnull(arg)` filters from every filter or join
  * condition over a kernel call; this tag, like the hand-written
  * native expressions before it, declares nothing, so the plans keep
  * the filters they had. */
case class KernelResult(name: String, child: Expression)
    extends UnaryExpression with TaggingExpression {
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object KernelCall {

  /** Whether a value of type `actual` may be passed where `expected` is
    * declared: the same type, except that an expected array that may
    * hold nulls also takes one that may not, and struct fields compare
    * by position and type, not by name. */
  private def accepts(expected: DataType, actual: DataType): Boolean = (expected, actual) match {
    case (ArrayType(e, eNulls), ArrayType(a, aNulls)) => (eNulls || !aNulls) && accepts(e, a)
    case (StructType(e), StructType(a)) =>
      e.length == a.length && e.zip(a).forall(f => accepts(f._1.dataType, f._2.dataType))
    case _ => expected == actual
  }

  /** One argument of a declaration. */
  sealed trait Arg
  /** A column and the type it must have. */
  final case class Typed(column: Column, expect: DataType) extends Arg
  /** An Int parameter, rejected when the function is declared unless it
    * is positive. */
  final case class Positive(what: String, value: Int) extends Arg
  /** A constant built where the call is declared; the kernel receives it
    * by reference. */
  final case class Const(value: AnyRef) extends Arg

  /** `name(args)` as a call of the static method `method` of the Scala
    * object `kernel`. */
  def call(kernel: AnyRef, name: String, method: String, dataType: DataType,
      returnNullable: Boolean = false)(args: Arg*): Column = {
    val (values, expects) = args.map {
      case Typed(c, t) => (toExpression(c), t)
      case Positive(what, v) =>
        require(v > 0, s"$name: $what must be positive, got $v")
        (Literal(v), IntegerType)
      case Const(v) =>
        val t = ObjectType(v.getClass)
        (Literal(v, t), t)
    }.unzip
    toColumn(KernelCall(name, kernel.getClass, method, dataType, returnNullable,
      values, expects))
  }
}
