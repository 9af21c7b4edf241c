package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `lev_within(a, b, k) -> boolean`: is the code-point Levenshtein distance
  * of `a` and `b` at most `k`? The BOUNDED form of the edit-distance check
  * on the fuzzy-join verification hot path, as a native codegen'd
  * expression.
  *
  * Why an `Expression`: `levenshtein(a, b) <= 2` on a 30M-row candidate
  * stream computes the full |a|x|b| DP per pair and allocates per call;
  * Spark's own threshold form `levenshtein(a, b, 2) >= 0` measured 4x
  * SLOWER still (r9, sf0.1). A bound-k check only needs the 2k+1-wide DP
  * band (cells outside it are > k by construction), can cap every stored
  * value at k+1, byte-compares ASCII directly, and exits on the first
  * all-above-k band row — ~5x fewer cells and no boxing. Same
  * preference-order rationale as [[VectorDot]]/[[JaccardSorted]].
  *
  * Semantics: EXACTLY `levenshtein(a, b) <= k` (classic unit-cost edit
  * distance over code points — multi-byte strings take a slow path that
  * matches Spark's own definition; spec-pinned against `levenshtein` on
  * random unicode inputs). `k < 0` is false for non-null inputs (no
  * distance is negative); null if any argument is null.
  */
case class LevWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "lev_within"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lev_within requires (string, string, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    LevWithin.within(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.functions.LevWithin.within($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LevWithin =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object LevWithin {

  private val rows = new ThreadLocal[Array[Array[Int]]] {
    override def initialValue(): Array[Array[Int]] =
      Array(new Array[Int](256), new Array[Int](256))
  }

  /** Banded bound check, called from both interpreted and generated code
    * (the codegen emits a call to this static forwarder). ASCII pairs run
    * the byte-band fast path; anything multi-byte falls back to the same
    * full DP Spark's `levenshtein` defines, over code points.
    */
  def within(a: UTF8String, b: UTF8String, kRaw: Int): Boolean = {
    if (kRaw < 0) return false
    val n = a.numBytes()
    val m = b.numBytes()
    // pure-ASCII iff byte count == char count; the common (and hot) case
    if (a.numChars() != n || b.numChars() != m)
      return a.levenshteinDistance(b) <= kRaw
    // distance never exceeds max(n, m): clamping k there keeps the band
    // arithmetic (i + k, k + 1) overflow-free for any int bound
    val k = math.min(kRaw, math.max(n, m))
    if (math.abs(n - m) > k) return false
    if (n == 0 || m == 0) return math.max(n, m) <= k
    val cap = k + 1 // every stored value saturates here; cap acts as +inf
    // r18: thread-cached DP rows — two fresh arrays per call cost ~2M
    // allocations on a 1M-pair verify stream; every cell the band reads
    // is written first, so reuse needs no clearing
    val scratch = rows.get()
    var (prev, cur) =
      if (scratch(0).length >= m + 1) (scratch(0), scratch(1))
      else {
        scratch(0) = new Array[Int](math.max(m + 1, 256))
        scratch(1) = new Array[Int](math.max(m + 1, 256))
        (scratch(0), scratch(1))
      }
    var j = 0
    while (j <= m) { prev(j) = if (j <= cap) j else cap; j += 1 }
    var i = 1
    while (i <= n) {
      val from = math.max(1, i - k)
      val to = math.min(m, i + k)
      // cells left of the band are above k by construction
      cur(from - 1) = if (from == 1 && i <= cap) math.min(i, cap) else cap
      var rowMin = cap
      val ca = a.getByte(i - 1)
      j = from
      while (j <= to) {
        val cost = if (ca == b.getByte(j - 1)) 0 else 1
        // prev(j) is outside the previous row's band when j == i + k;
        // its stored value is then cap already, so no guard is needed
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > cap) v = cap
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (to < m) cur(to + 1) = cap // right border for the next row's ins
      if (rowMin > k) return false // the band can only grow from here
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m) <= k
  }
}
