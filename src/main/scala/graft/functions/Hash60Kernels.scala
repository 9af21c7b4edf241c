package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd kernels for the md5-based 60-bit token hashing that the dedup
  * and classifier pipelines apply per element inside `transform(...)` /
  * explode+groupBy shapes (r18 optimization, guide §4): the declarative
  * forms evaluated `conv(substring(md5(w), 1, 15), 16, 10)` as an
  * interpreted (CodegenFallback) lambda per token — one MessageDigest
  * construction, one 32-char hex string, and one string→long parse per
  * element. These kernels compute the identical 60-bit value (the first
  * 15 hex chars of md5 = the top 60 bits of the digest) straight from the
  * digest bytes, with a thread-cached MessageDigest, one call per row.
  * Hash60KernelSpec pins each kernel value-identical to the declarative
  * form it replaces.
  */
object Hash60Kernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(utf8) as an unsigned 60-bit long —
    * digest bytes 0..6 (56 bits) then the high nibble of byte 7.
    */
  def hash60(utf8: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(utf8)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v << 4) | ((h(7) & 0xff) >>> 4)
  }

  /** `hash60_array` kernel: element-wise [[hash60]]; null elements map to
    * null elements (the lambda-form semantics).
    */
  def hashArray(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        out(i) = hash60(arr.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val BucketCountType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  private def countsToRows(counts: Array[Long]): ArrayData = {
    var nz = 0
    var b = 0
    while (b < counts.length) { if (counts(b) > 0) nz += 1; b += 1 }
    val out = new Array[Any](nz)
    var o = 0
    b = 0
    while (b < counts.length) {
      if (counts(b) > 0) {
        out(o) = new GenericInternalRow(Array[Any](b.toLong, counts(b)))
        o += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** `md5_bucket_counts` kernel: per-row histogram of
    * `hash60(w) & (buckets-1)` over the array's non-null elements,
    * emitted as (bucket, cnt) rows in ascending bucket order — exactly
    * the per-row slice of the explode → md5 → mask → groupBy-count shape
    * it replaces (`buckets` must be a positive power of two, which the
    * registered function checks at analysis; the mask semantics match the
    * `& (buckets-1)` the SQL applied).
    */
  def bucketCounts(arr: ArrayData, buckets: Int): ArrayData = {
    val counts = new Array[Long](buckets)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = (hash60(arr.getUTF8String(i).getBytes) & (buckets - 1)).toInt
        counts(b) += 1
      }
      i += 1
    }
    countsToRows(counts)
  }

  /** `trigram_bucket_counts` kernel: the fastText-shape char-3-gram
    * bucket histogram of one string — code-point trigrams (matching
    * `split(s, '')`'s Java-regex code-point semantics), each hashed with
    * [[hash60]] over its UTF-8 bytes and masked — replacing the
    * interpreted char-array gram lambda + per-gram md5 + 5M-row
    * explode/groupBy of the multi-class classifier's feature pass.
    * Strings under 3 code points produce no grams (the `size(cs) < 3`
    * guard).
    */
  def trigramCounts(s: UTF8String, buckets: Int): ArrayData = {
    val counts = new Array[Long](buckets)
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    var i = 0
    while (i + 2 < n) {
      val sb = new java.lang.StringBuilder(6)
      sb.appendCodePoint(cps(i)).appendCodePoint(cps(i + 1)).appendCodePoint(cps(i + 2))
      val b = (hash60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        & (buckets - 1)).toInt
      counts(b) += 1
      i += 1
    }
    countsToRows(counts)
  }
}

