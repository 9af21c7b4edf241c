package graft.functions

/** `gunzip(binary) -> binary`: decompress a gzip payload — ALL members of
  * a multi-member stream, concatenated, which is gzip's own `cat`
  * semantics and the shape compressed text corpora (WET/WARC dumps,
  * `.jsonl.gz` drops) actually arrive in.
  *
  * Why a native kernel: decompression belongs INSIDE whole-stage codegen
  * on the scan→parse hot path (one virtual call per row into a static
  * kernel), not in a `mapPartitions` that breaks the codegen span and
  * forces a Dataset encode/decode around every batch — the same
  * preference-order rationale as [[LevWithin]]/[[VectorDot]]. The kernel
  * is a full RFC 1952 reader: header FLG fields (FEXTRA/FNAME/FCOMMENT/
  * FHCRC) honored, raw-deflate inflation via `java.util.zip.Inflater`,
  * and BOTH trailer integrity checks verified per member (CRC-32 of the
  * uncompressed bytes and ISIZE mod 2^32) — a corrupted archive throws
  * with a named error instead of yielding silent garbage.
  */
object Gunzip {

  /** One decompressed gzip member plus the offset where the next starts. */
  private final case class Member(data: Array[Byte], nextOffset: Int)

  /** Parse ONE member starting at `off`: RFC 1952 header (FLG extras
    * honored), raw-deflate body, verified CRC-32 + ISIZE trailer.
    */
  private def member(bytes: Array[Byte], off: Int): Member = {
    require(off + 18 <= bytes.length, s"gzip: truncated member at byte $off")
    require((bytes(off) & 0xff) == 0x1f && (bytes(off + 1) & 0xff) == 0x8b,
      s"gzip: bad magic at byte $off")
    require(bytes(off + 2) == 8, s"gzip: unsupported compression method ${bytes(off + 2)}")
    val flg = bytes(off + 3) & 0xff
    require((flg & 0xe0) == 0, s"gzip: reserved FLG bits set ($flg)")
    var pos = off + 10 // past MTIME(4), XFL, OS
    if ((flg & 4) != 0) { // FEXTRA: XLEN little-endian + payload
      require(pos + 2 <= bytes.length, "gzip: truncated FEXTRA length")
      pos += 2 + ((bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8))
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 2) != 0) pos += 2 // FHCRC
    require(pos < bytes.length, "gzip: truncated header")
    val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
    inf.setInput(bytes, pos, bytes.length - pos)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    val consumed =
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished())
            throw new IllegalArgumentException("gzip: truncated deflate stream")
          out.write(buf, 0, n)
        }
        inf.getBytesRead.toInt
      } catch { case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"gzip: corrupt deflate stream: ${e.getMessage}")
      } finally inf.end() // reject paths must release native zlib state too
    val data = out.toByteArray
    val tr = pos + consumed
    require(tr + 8 <= bytes.length, "gzip: truncated trailer")
    def le32(o: Int): Long =
      ((bytes(o) & 0xffL)) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    require(crc.getValue == le32(tr),
      "gzip: CRC-32 mismatch (member decompressed to different bytes than written)")
    require((data.length.toLong & 0xffffffffL) == le32(tr + 4),
      "gzip: ISIZE mismatch")
    Member(data, tr + 8)
  }

  /** Every member's decompressed payload, in stream order — the per-record
    * unit for gzip-per-record containers (the Common Crawl WARC shape).
    */
  def members(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < bytes.length) {
      val m = member(bytes, pos)
      out += m.data
      pos = m.nextOffset
    }
    out.result()
  }

  /** All members concatenated — gzip `cat` semantics; called from both
    * interpreted and generated code.
    */
  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val ms = members(bytes)
    if (ms.length == 1) ms.head
    else {
      val out = new Array[Byte](ms.map(_.length).sum)
      var off = 0
      ms.foreach { m => System.arraycopy(m, 0, out, off, m.length); off += m.length }
      out
    }
  }
}
