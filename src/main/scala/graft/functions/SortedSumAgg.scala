package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Deterministic double sum: collect, sort ascending, strict-left-fold from
  * 0.0 — as a `TypedImperativeAggregate`, the production form of the
  * `aggregate(array_sort(collect_list(x)), 0D, (a, x) -> a + x)` HOF
  * pattern the engine uses wherever a double sum must be bit-identical to
  * the DuckDB oracle (`list_reduce(list_prepend(0.0, list_sort(...)))`).
  *
  * Why: a plain `sum(double)` accumulates in partition order — correct but
  * unreproducible across partitionings/engines. The HOF form fixes the
  * order but pays an interpreted lambda call per element at eval, plus
  * Spark's generic array machinery in `collect_list` + `array_sort`. This
  * aggregate keeps a primitive-double buffer (8 bytes/value serialized for
  * the partial-merge shuffle), and eval is one `Arrays.sort` + a tight
  * fold loop.
  *
  * Determinism: the buffer is a MULTISET of the non-null inputs — update
  * and merge order cannot change it — and eval folds in ascending order.
  * Tie order among equal doubles cannot affect the sum (the accumulator is
  * never -0.0 after the 0.0 init), so the result is a pure function of the
  * multiset: bit-identical to the HOF form and to the oracle (asserted in
  * SortedSumSpec). Empty/all-null groups yield 0.0, exactly like the fold
  * init.
  *
  * State is group-size-bounded — the callers (PageRank contributions:
  * in-degree; χ² terms: cells) document why that is bounded in context —
  * but "bounded in context" is a caller promise, not a property of the
  * aggregate: on a power-law graph a hub node's in-degree is effectively
  * unbounded. [[SortedSumAgg.MaxBufferSize]] turns that silent OOM into a
  * clear error (64 Mi values ≈ 512 MB/group). Groups that can exceed it
  * need a bounded-state alternative: pairwise/Kahan compensated summation
  * trades bit-exact cross-engine reproducibility for O(1) state, or
  * pre-bucket the values (the `corpus_source_report` integer-midpoint
  * trick) so the sum is an exact integer.
  * SQL surface: `sorted_sum(x DOUBLE) -> DOUBLE`, installed by
  * [[graft.GraftExtensions]].
  */
case class SortedSumAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Double]]
  with UnaryLike[Expression] {

  override def prettyName: String = "sorted_sum"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"sorted_sum requires DOUBLE, got $t")
  }

  override def createAggregationBuffer(): ArrayBuffer[Double] = ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Double], input: InternalRow): ArrayBuffer[Double] = {
    val v = child.eval(input)
    if (v != null) {
      SortedSumAgg.checkCapacity(buf.size + 1)
      buf += v.asInstanceOf[Double]
    }
    buf
  }

  override def merge(a: ArrayBuffer[Double], b: ArrayBuffer[Double]): ArrayBuffer[Double] = {
    SortedSumAgg.checkCapacity(a.size + b.size)
    a ++= b
    a
  }

  override def eval(buf: ArrayBuffer[Double]): Any = {
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    var s = 0.0
    var i = 0
    while (i < arr.length) { s += arr(i); i += 1 }
    s
  }

  override def serialize(buf: ArrayBuffer[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ArrayBuffer[Double](n)
    var i = 0
    while (i < n) { buf += bb.getDouble; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SortedSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SortedSumAgg =
    copy(child = newChild)
}

object SortedSumAgg {
  /** Hard cap on per-group buffered values (64 Mi doubles ≈ 512 MB). A
    * group larger than this would have OOM'd the executor anyway; the cap
    * makes the failure a named error pointing at the bounded-state
    * alternatives instead of a heap dump.
    */
  val MaxBufferSize: Int = 1 << 26

  private[functions] def checkCapacity(needed: Int): Unit =
    if (needed > MaxBufferSize) {
      throw new IllegalStateException(
        s"sorted_sum group exceeds $MaxBufferSize buffered values; a group this " +
          "large needs a bounded-state sum (pairwise/Kahan, or integer " +
          "pre-bucketing) instead of the exact sorted fold")
    }
}
