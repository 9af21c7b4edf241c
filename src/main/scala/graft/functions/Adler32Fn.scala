package graft.functions

/** `adler32(binary) -> bigint` — the zlib Adler-32 checksum
  * (`s2·65536 + s1`, both mod 65521) via the JDK's
  * [[java.util.zip.Adler32]], surfaced for the SQL fixture emitters.
  *
  * Why (r18 optimization, guide §4): the PDF and PNG zlib-stream emitters
  * computed the checksum arithmetically inside `aggregate(sequence(...))`
  * higher-order functions — two interpreted (CodegenFallback) per-byte
  * lambda folds per row, each re-parsing every data byte out of the hex
  * string with `conv(substring(...))` (~hundreds of interpreted expression
  * evaluations per document, measured as the dominant per-pass cost of
  * `pdf_text_extract` / `pdf_filter_chain_extract` / `mm_real_png*`).
  * This kernel computes the identical value in one codegen'd call.
  * Writer/reader independence is preserved and strengthened: the emitted
  * checksum now comes from the JDK's zlib implementation while the decode
  * side's `Inflater` verifies it independently — a wrong checksum still
  * lands as a loud reject, and the oracle recomputes the expected text
  * from the raw bytes either way (EmitterKernelSpec pins value equality
  * against the arithmetic SQL fold).
  */
object Adler32Fn {
  def checksum(bytes: Array[Byte]): Long = {
    val a = new java.util.zip.Adler32()
    a.update(bytes, 0, bytes.length)
    a.getValue
  }
}
