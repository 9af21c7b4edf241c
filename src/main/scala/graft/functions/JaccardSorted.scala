package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Set Jaccard similarity of two SORTED `array<bigint>` columns as one
  * merge pass, with whole-stage codegen — the fused replacement for
  * `size(array_intersect(a, b)) / size(array_union(a, b))` on the dedup
  * verification hot path.
  *
  * Why an `Expression`: the declarative form materializes TWO intermediate
  * arrays per candidate pair (intersect builds a hash set and an output
  * array, union another) only to take their sizes. For LSH verification —
  * every surviving candidate pair pays this on ~100-element token arrays —
  * a single O(n+m) merge over the already-sorted inputs does the same
  * counting with zero allocation. Same preference-order rationale as
  * [[VectorDot]].
  *
  * PRECONDITION: both arrays ascending-sorted (the dedup pipelines store
  * token/shingle hashes as `array_sort(transform(...))`, so this holds by
  * construction). Duplicate values are counted once per side — the merge
  * skips runs — so the result equals the SET semantics of
  * `array_intersect`/`array_union` even on non-distinct input. On unsorted
  * input the result is unspecified; this is a pipeline-internal primitive,
  * not a general SQL surface, and says so in its name.
  *
  * Null semantics: null if either array is null or contains a null element
  * (a malformed token array surfaces as NULL, mirroring [[VectorDot]]), and
  * null for two empty arrays — where the declarative form under ANSI mode
  * (Spark 4 default) RAISES DIVIDE_BY_ZERO instead. For every non-degenerate
  * input the two agree bit-for-bit (spec-pinned); on the degenerate one the
  * fused form degrades safely under a τ-threshold filter.
  */
case class JaccardSorted(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted requires array<bigint> arguments, got ${left.dataType} / ${right.dataType}")

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = b.numElements()
    var i = 0; var j = 0
    var inter = 0L; var uni = 0L
    while (i < n && j < m) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i); val y = b.getLong(j)
      uni += 1
      if (x == y) {
        inter += 1
        while (i < n && !a.isNullAt(i) && a.getLong(i) == x) i += 1
        while (j < m && !b.isNullAt(j) && b.getLong(j) == x) j += 1
      } else if (x < y) {
        while (i < n && !a.isNullAt(i) && a.getLong(i) == x) i += 1
      } else {
        while (j < m && !b.isNullAt(j) && b.getLong(j) == y) j += 1
      }
    }
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getLong(i); uni += 1
      while (i < n && !a.isNullAt(i) && a.getLong(i) == v) i += 1
    }
    while (j < m) {
      if (b.isNullAt(j)) return null
      val v = b.getLong(j); uni += 1
      while (j < m && !b.isNullAt(j) && b.getLong(j) == v) j += 1
    }
    if (uni == 0L) null else inter.toDouble / uni
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val uni = ctx.freshName("uni")
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $inter = 0L; long $uni = 0L;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  $uni++;
         |  if ($x == $y) {
         |    $inter++;
         |    while ($i < $n && !$a.isNullAt($i) && $a.getLong($i) == $x) $i++;
         |    while ($j < $m && !$b.isNullAt($j) && $b.getLong($j) == $x) $j++;
         |  } else if ($x < $y) {
         |    while ($i < $n && !$a.isNullAt($i) && $a.getLong($i) == $x) $i++;
         |  } else {
         |    while ($j < $m && !$b.isNullAt($j) && $b.getLong($j) == $y) $j++;
         |  }
         |}
         |while (!${ev.isNull} && $i < $n) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $v = $a.getLong($i); $uni++;
         |  while ($i < $n && !$a.isNullAt($i) && $a.getLong($i) == $v) $i++;
         |}
         |while (!${ev.isNull} && $j < $m) {
         |  if ($b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $v = $b.getLong($j); $uni++;
         |  while ($j < $m && !$b.isNullAt($j) && $b.getLong($j) == $v) $j++;
         |}
         |if ($uni == 0L) ${ev.isNull} = true;
         |if (!${ev.isNull}) {
         |  ${ev.value} = ((double) $inter) / $uni;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}
