package graft.functions

/** `zstd_deflate(binary) -> binary`: compress a payload into one
  * Zstandard frame — the sink-side twin of [[ZstdInflate]]. Compressing
  * in the projection (instead of a codec at the file layer) is how a
  * pipeline ships `.zst` blobs whose grain it controls — per-document
  * members of a landing bucket, per-record payloads of an export — the
  * same per-member layout the gzip/WARC path uses so a 100 TB export
  * stays splittable at member boundaries.
  *
  * The frame checksum is ENABLED: a flipped bit inside an entropy-coded
  * block can otherwise decode to silent garbage, and the checksum is the
  * real-world mechanism that catches it (ZstdInflateSpec pins exactly
  * that corruption reject through [[ZstdInflate]]).
  */
object ZstdDeflate {

  /** One frame, default level, frame checksum on; called from both
    * interpreted and generated code.
    */
  def deflate(bytes: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setChecksum(true)
      ctx.compress(bytes)
    } finally ctx.close()
  }
}
