package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `minhash_sig(g array<bigint>, nPerms int) -> array<bigint>` — the full
  * MinHash signature of one document's distinct-token-hash array in ONE
  * codegen'd kernel call: `sig[k] = min over h in g of
  * ((37k+11)·(h mod M) + 101k+7) mod M`, M = 2³¹−1 — bit-identical to the
  * r17 formulation (explode to (doc_id, h) rows → 96 `min` aggregate
  * columns) and to the DuckDB oracle's `list_transform`/`list_min` form.
  *
  * Why an `Expression` (r18 optimization, guide §2.4/§4): the explode+agg
  * formulation paid one corpus-wide Exchange (the signature hash
  * aggregation) plus per-exploded-row evaluation of 96 separate aggregate
  * update expressions — ~tokens × 96 codegen'd column updates through the
  * hash-aggregate machinery. As a map-side kernel the signature needs NO
  * shuffle at all and the tokens × nPerms affine loop runs as one tight
  * JVM loop per document (the [[LevWithin]] static-kernel pattern).
  * Products stay < 2⁴³ — same 64-bit headroom argument as before.
  *
  * Null semantics (mirrors the explode+agg form on real data): NULL array
  * → NULL; null ELEMENTS are skipped exactly as an aggregate `min` skips
  * null updates; an EMPTY (or all-null) array returns NULL — callers must
  * filter those documents out, which reproduces the explode form's
  * behavior of dropping token-less docs from the signature relation
  * (pinned in DedupSpec).
  */
case class MinhashSig(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires (array<bigint>, foldable int), got ${left.dataType} / ${right.dataType}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    MinhashSig.sig(l.asInstanceOf[ArrayData], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, n) => {
      s"""
         |${ev.value} = graft.functions.MinhashSig.sig($g, $n);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MinhashSig =
    copy(left = newLeft, right = newRight)
}

object MinhashSig {
  /** Mersenne prime 2³¹−1 — the permutation modulus (same constant as
    * [[graft.pipeline.Dedup.M]] and the oracle SQL).
    */
  val M = 2147483647L

  /** The kernel — public static forwarder target for generated code. */
  def sig(g: ArrayData, nPerms: Int): ArrayData = {
    val n = g.numElements()
    val out = new Array[Long](nPerms)
    java.util.Arrays.fill(out, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!g.isNullAt(i)) {
        seen = true
        val hm = g.getLong(i) % M
        var k = 0
        while (k < nPerms) {
          val v = ((37L * k + 11L) * hm + 101L * k + 7L) % M
          if (v < out(k)) out(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(out)
  }
}

/** `simhash_sig(g array<bigint>) -> bigint` — the 64-bit SimHash of one
  * document's distinct-token-hash array in one codegen'd kernel call:
  * bit j is set iff the count of hashes with bit j set exceeds half the
  * hash count (`2·ones(j) > n`, the +1/−1 majority) — bit-identical to
  * the r17 formulation (explode → 64 `sum` aggregate columns + majority
  * projection) and to the oracle's `list_transform` majority. Same
  * shuffle-elimination rationale and null semantics as [[MinhashSig]]:
  * null elements skipped, empty/all-null array → NULL (callers filter,
  * mirroring the explode form dropping token-less docs).
  */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<bigint>, got $t")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(g: Any): Any =
    SimhashSig.sig(g.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g => {
      val boxed = ctx.freshName("boxed")
      s"""
         |Object $boxed = graft.functions.SimhashSig.sig($g);
         |${ev.isNull} = ($boxed == null);
         |if (!${ev.isNull}) {
         |  ${ev.value} = ((java.lang.Long) $boxed).longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

object SimhashSig {
  /** The kernel — public static forwarder target for generated code.
    * Returns a boxed Long or null (empty/all-null input).
    */
  def sig(g: ArrayData): Any = {
    val n = g.numElements()
    val ones = new Array[Int](64)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!g.isNullAt(i)) {
        cnt += 1
        val h = g.getLong(i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) ones(j) += 1
          j += 1
        }
      }
      i += 1
    }
    if (cnt == 0) null
    else {
      var sh = 0L
      var j = 0
      while (j < 64) {
        if (2 * ones(j) > cnt) sh |= (1L << j)
        j += 1
      }
      java.lang.Long.valueOf(sh)
    }
  }
}
