package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The K-Minimum-Values buffer both KMV aggregates share: the K smallest
  * DISTINCT 60-bit hashes of the group, as a mutable bounded ordered set.
  * The production form of [[KmvSketch]] (same state, bit-identical result):
  * the per-row cost is O(log K) instead of the Aggregator's O(K)
  * copy-and-sort, and the buffer serializes to `8·|state|` bytes for the
  * map-side-combine shuffle.
  *
  * Determinism: the state is a pure set function of the input — insertion
  * and merge order cannot change it — so every result derived from it is
  * exactly reproducible in the DuckDB oracle. The two aggregates differ
  * only in `eval`.
  */
abstract class KmvBufferAgg
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  protected val K: Int = KmvSketch.K

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires BIGINT hashes, got $t")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  /** Keep the K smallest distinct values: TreeSet dedups (`add` is a no-op
    * on duplicates) and `pollLast` evicts the largest once over capacity.
    */
  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (buf.size < K) { buf.add(h); () }
    else if (h < buf.last && buf.add(h)) { buf.pollLast(); () }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b.forEach(h => insert(a, h))
    a
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.forEach(h => { bb.putLong(h); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.add(bb.getLong))
    buf
  }
}

/** `kmv_distinct(hash BIGINT) -> DOUBLE`: the KMV distinct-count estimate
  * of [[KmvSketch]] — exact below K distinct hashes, else
  * `(K−1)·2^60/h_K` — agreeing bit-for-bit with the Aggregator (asserted in
  * KmvSketchSpec).
  */
case class KmvSketchAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0) extends KmvBufferAgg {

  override def prettyName: String = "kmv_distinct"
  override def dataType: DataType = DoubleType

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < K) buf.size.toDouble
    else (K - 1).toDouble * KmvSketch.HashSpace / buf.last

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

/** `kmv_sketch(hash BIGINT) -> ARRAY<BIGINT>`: the sketch SET itself,
  * sorted ascending, instead of the estimate.
  *
  * This is the aggregate that makes KMV SET ALGEBRA a plain partial+final
  * aggregation: per-group sketches feed union (K smallest of two merged
  * sketches), intersection (inclusion–exclusion), and Jaccard estimates
  * downstream (`corpus_source_overlap_kmv`) — with O(K) state per group and
  * map-side combine, where the window-rank formulation shuffles and sorts
  * the group's entire distinct-hash universe to keep 64 rows of it. The
  * DuckDB oracle's rank-K prefix (`row_number ≤ K` over distinct hashes)
  * reproduces the array element-for-element. The estimator contract
  * downstream: a sketch shorter than K IS the group's full distinct set
  * (exact); at length K the K-th minimum drives `(K−1)·2^60/h_K`.
  */
case class KmvSketchSetAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0) extends KmvBufferAgg {

  override def prettyName: String = "kmv_sketch"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = Array.ofDim[Long](buf.size)
    var i = 0
    buf.forEach(h => { out(i) = h; i += 1 }) // TreeSet iterates ascending
    ArrayData.toArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchSetAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchSetAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchSetAgg =
    copy(child = newChild)
}
