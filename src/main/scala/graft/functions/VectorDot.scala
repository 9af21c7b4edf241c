package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays (`array<float>` or
  * `array<double>`), as a Catalyst expression with whole-stage codegen.
  *
  * Why an `Expression` and not a UDF or higher-order `aggregate(zip_with(...))`:
  * the HOF form is evaluated by the interpreter one lambda call per element
  * (~64 calls/row for our embeddings), and a Scala UDF breaks codegen and
  * pays serialization. This compiles to a tight Java loop inside the
  * enclosing WholeStageCodegen stage — the preference order SURVEY.md §4
  * commits to for the vector extension surface.
  *
  * Determinism contract: a STRICT LEFT FOLD of `(double)a[i] * (double)b[i]`
  * with a 0.0 init — the same order as `Similarity.dotDuck`'s
  * `list_reduce(list_prepend(0.0, ...))`, so results are bit-identical to the
  * DuckDB oracle. float→double widening is exact; IEEE ops are deterministic.
  *
  * Null semantics — exactly the HOF/oracle forms': null if either array is
  * null, if the lengths differ (zip_with/list_zip pad the short side with
  * NULL and the fold propagates it), or if any element is null. A truncated
  * or malformed embedding therefore surfaces as NULL instead of a
  * plausible-but-wrong partial dot product.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  // fixed once the expression is resolved; avoids re-matching per row in the
  // interpreted path
  @transient private lazy val leftType: DataType = elemType(left).get
  @transient private lazy val rightType: DataType = elemType(right).get

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float|double> arguments, got ${left.dataType} / ${right.dataType}")

  override def nullable: Boolean = true

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (leftType, rightType)
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += get(a, ta, i) * get(b, tb, i)
      i += 1
    }
    s
  }

  private def genGet(v: String, t: DataType, i: String): String = t match {
    case FloatType => s"((double) $v.getFloat($i))"
    case _ => s"$v.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (leftType, rightType)
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${genGet(a, ta, i)} * ${genGet(b, tb, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}
