package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** One argument slot of a [[KernelFn]]: its SQL spelling, for the analysis
  * error, the check a resolved argument must pass, and, for a foldable
  * argument, the check its value must pass (`None` when it is valid, else
  * why not). Equality is by spelling alone, so two plans holding the same
  * row compare equal.
  */
final case class Arg(sql: String)(val accepts: Expression => Boolean,
    val invalid: Any => Option[String] = _ => None)

/** One row of the kernel table ([[Registry.kernels]]): the SQL name, the
  * object whose static method computes it, the argument checks, the result
  * type, and whether the result may be null for non-null arguments
  * (`alwaysNullable`) or only when an argument is null.
  */
final case class KernelFn(name: String, target: Class[_], method: String,
    args: Seq[Arg], dataType: DataType, alwaysNullable: Boolean = false)

/** A native SQL function whose whole work is one static method of a Scala
  * object: null in gives null out, and otherwise the method's result.
  *
  * Why an `Expression` and not a UDF: the call stays inside whole-stage
  * codegen — the generated source calls the object's static forwarder
  * (`graft.functions.Hash60Kernels.hashArray(...)`) directly, with no
  * converter or serialization around it. Eval and codegen are Spark's own
  * `StaticInvoke`; this wrapper keeps the function's own name in plans and
  * errors, and rejects a mistyped argument at analysis.
  */
case class Kernel(fn: KernelFn, children: Seq[Expression]) extends Expression {

  @transient private lazy val invoke =
    StaticInvoke(fn.target, fn.dataType, fn.method, children, returnNullable = fn.alwaysNullable)

  override def prettyName: String = fn.name
  override def toString: String = s"$prettyName(${children.mkString(", ")})"
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.alwaysNullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == fn.args.length && fn.args.zip(children).forall { case (a, c) => a.accepts(c) })
      fn.args.zip(children).iterator
        .flatMap { case (a, c) => if (c.foldable) a.invalid(c.eval()) else None }
        .nextOption()
        .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(why =>
          TypeCheckResult.TypeCheckFailure(s"${fn.name}: $why"))
    else TypeCheckResult.TypeCheckFailure(
      s"${fn.name} requires ${fn.args.map(_.sql).mkString("(", ", ", ")")}, " +
        s"got ${children.map(_.dataType.simpleString).mkString("(", ", ", ")")}")

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = invoke.genCode(ctx)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}
