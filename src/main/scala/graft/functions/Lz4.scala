package graft.functions

/** `lz4_inflate(binary) -> binary`: decompress an LZ4 FRAME stream (the
  * `.lz4` file format, lz4 Frame spec v1.6.x) — all frames of a
  * concatenated input, the gzip-member / zstd-frame cat semantics. With
  * gzip, zstd, and splittable bz2 this completes the big-four landing
  * codecs ML data drops actually ship with (`.jsonl.lz4` / `.tar.lz4`
  * are the fast-path choice for rsync-scale snapshots).
  *
  * Same hot-path rationale as [[Gunzip]] / [[ZstdInflate]]: a native
  * kernel keeps decompression inside whole-stage codegen on the
  * scan→parse path, one static call per row. The kernel is Spark's OWN
  * bundled lz4-java (`net.jpountz.lz4`, the library Spark already uses
  * for shuffle/event-log codecs) via `LZ4FrameInputStream`, which
  * validates magic, frame-descriptor header checksum (xxHash32), block
  * structure, and any content checksum; failures surface as a named
  * IllegalArgumentException instead of silent garbage.
  */
object Lz4Inflate {

  /** All frames decompressed and concatenated; called from both
    * interpreted and generated code.
    */
  def inflate(bytes: Array[Byte]): Array[Byte] = {
    // zero frames -> zero bytes (the zstd/gzip cat-semantics edge; the
    // frame reader itself rejects an input with no magic to read)
    if (bytes.isEmpty) return Array.emptyByteArray
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 2))
    try {
      // second arg false = do NOT stop at the first frame's end marker;
      // keep reading appended frames until the underlying input is
      // exhausted (the documented concatenated-.lz4 shape)
      val in = new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(bytes), false)
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
        throw new IllegalArgumentException(s"lz4: corrupt stream: ${e.getMessage}")
    }
    out.toByteArray
  }
}

/** `lz4_deflate(binary) -> binary`: compress a payload into one LZ4
  * frame — the sink-side twin of [[Lz4Inflate]], per-member grain like
  * [[ZstdDeflate]]. The CONTENT CHECKSUM is enabled for the same reason
  * the zstd sink enables its frame checksum: LZ4 blocks carry no
  * per-block integrity, so the frame-level xxHash32 is what catches a
  * flipped bit before it decodes to silent garbage.
  */
object Lz4Deflate {

  /** One frame, 64 KB independent blocks, content checksum on; called
    * from both interpreted and generated code.
    */
  def deflate(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length / 2))
    val fo = new net.jpountz.lz4.LZ4FrameOutputStream(
      out,
      net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB,
      bytes.length.toLong,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.CONTENT_CHECKSUM)
    try {
      fo.write(bytes)
    } finally fo.close()
    out.toByteArray
  }
}
