package graft.functions

/** `zstd_inflate(binary) -> binary`: decompress a Zstandard payload — ALL
  * frames of a concatenated stream (RFC 8878 §3: a stream is any number
  * of appended frames), which is the shape `.zst`-shipped corpora
  * actually arrive in (zstd's own `cat` semantics, the gzip-member twin).
  *
  * Why a native kernel: the same hot-path rationale as [[Gunzip]] —
  * decompression belongs inside whole-stage codegen on the scan→parse
  * path, one static call per row, no `mapPartitions` encode/decode
  * fence. The kernel rides Spark's OWN bundled zstd-jni binding (the
  * library Spark already uses for shuffle/parquet codecs), streamed
  * through `ZstdInputStream`; multi-frame inputs concatenate because the
  * reader loops frames until input is exhausted, while
  * `setContinuous(false)` makes a TRUNCATED final frame reject instead
  * of returning a short read; the native decoder verifies magic, block
  * structure, and
  * any per-frame content checksum, and every failure surfaces as a named
  * IllegalArgumentException instead of silent garbage.
  */
object ZstdInflate {

  /** All frames decompressed and concatenated; called from both
    * interpreted and generated code.
    */
  def inflate(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 2))
    try {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(bytes)).setContinuous(false)
      try {
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          n = in.read(buf)
        }
      } finally in.close()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"zstd: corrupt stream: ${e.getMessage}")
    }
    out.toByteArray
  }
}
