package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Byte-histogram quality signals (cf. the reference's cleaning stage,
  * q2_ecommerce_analysis.py:38-75, which drops malformed rows — this is the
  * corpus-scale analogue: drop byte-degenerate documents).
  *
  * `byte_entropy_milli(string) -> bigint`: floor(1000 * H) where H is the
  * Shannon entropy in bits/byte of the UTF-8 byte histogram. The standard
  * cheap pretraining-quality heuristic next to the Gopher rules: natural
  * prose sits ~3.5-5 bits/byte; boilerplate / single-char floods fall below
  * ~2.5; compressed-or-random binary pasted into text pushes past ~6.
  *
  * `byte_distinct_count(string) -> bigint`: number of distinct byte values
  * in the UTF-8 encoding — the alphabet-width companion signal (a 300-byte
  * doc written with 6 distinct bytes is a flood regardless of its entropy).
  *
  * Why native kernels: one O(n) pass per row inside whole-stage codegen —
  * at 100 TB this must be a map-only scan column, never an explode(byte) +
  * groupBy (that shape shuffles one row PER BYTE). The milli-quantized
  * BIGINT keeps the oracle compare integer-exact; both engines compute the
  * identical ln-ladder with terms added in ascending byte order (float sums
  * are order-sensitive, so the order is part of the contract — the DuckDB
  * twin sums `list(c*ln(c) ORDER BY byte)`).
  */
object ByteStats {
  private val Ln2 = math.log(2.0)

  /** floor(1000 * Shannon entropy bits/byte). Empty input -> 0. Terms are
    * accumulated in ascending byte-value order — the DuckDB oracle twin
    * must (and does) sum in the same order for the quantized value to be
    * reproducible.
    */
  def entropyMilli(s: UTF8String): Long = {
    val n = s.numBytes()
    if (n == 0) return 0L
    val counts = histogram(s)
    var sum = 0.0
    var b = 0
    while (b < 256) {
      val c = counts(b)
      if (c > 1) sum += c * math.log(c.toDouble) // ln(1) == 0: skip c == 1
      b += 1
    }
    // H = (ln n - (1/n) * sum c ln c) / ln 2. Clamped at 0: for a
    // single-distinct-byte document (ln n - (n ln n)/n == 0 exactly in real
    // math) the floating sum can land one ulp ABOVE ln n, and floor of that
    // tiny negative would return -1, breaking the documented [0, 8000]
    // bound (the DuckDB twin mirrors the clamp with greatest(0, ...)).
    math.max(0L,
      math.floor(1000.0 * (math.log(n.toDouble) - sum / n) / Ln2).toLong)
  }

  def distinctCount(s: UTF8String): Long = {
    val counts = histogram(s)
    var d = 0
    var b = 0
    while (b < 256) { if (counts(b) > 0) d += 1; b += 1 }
    d.toLong
  }

  private def histogram(s: UTF8String): Array[Int] = {
    val counts = new Array[Int](256)
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      counts(s.getByte(i) & 0xFF) += 1
      i += 1
    }
    counts
  }
}
