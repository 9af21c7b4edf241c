package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `ascii85_armor(binary) -> string` — the ISO 32000-1 §7.4.3 base-85
  * coding of a byte string: 4-byte big-endian groups to 5 `!`..`u`
  * digits, the final partial group of n bytes zero-padded and emitted as
  * its top n+1 digits. NO `z` shortcut (the shortcut is optional
  * compression; straight digits keep the emitted length a constant
  * function of the input length, which the fixture skeletons rely on)
  * and NO `~>` EOD (the caller appends it, keeping the marker visible in
  * the emitter SQL).
  *
  * Why (r18 optimization, guide §4): `pdf_filter_chain_extract`'s ASCII85
  * leg assembled these digits arithmetically in SQL — per 4-byte group
  * one interpreted `aggregate` fold over hex-pair `conv` parses plus five
  * interpreted `chr`/`concat` digit constructions, ~85 groups per
  * document. One codegen'd kernel call emits identical bytes.
  * Independence is kept: the production decoder (`Pdf.ascii85Decode`,
  * golden-pinned in PdfSpec against spec-fixed vectors) and the
  * independently written test mirror (`Ascii85TestCodec`) both check this
  * encoder — EmitterKernelSpec pins byte equality against the mirror and
  * against the retired arithmetic SQL form.
  */
object Ascii85Armor {
  def armor(data: Array[Byte]): UTF8String = {
    val n = data.length
    val full = n / 4
    val rem = n % 4
    val out = new Array[Byte](full * 5 + (if (rem > 0) rem + 1 else 0))
    var o = 0
    var i = 0
    while (i < full) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (data(i * 4 + j) & 0xffL); j += 1 }
      var k = 4
      val d = new Array[Int](5)
      while (k >= 0) { d(k) = (v % 85).toInt; v /= 85; k -= 1 }
      k = 0
      while (k < 5) { out(o) = ('!' + d(k)).toByte; o += 1; k += 1 }
      i += 1
    }
    if (rem > 0) {
      var v = 0L
      var j = 0
      while (j < 4) {
        v = (v << 8) | (if (j < rem) data(full * 4 + j) & 0xffL else 0L)
        j += 1
      }
      val d = new Array[Int](5)
      var k = 4
      while (k >= 0) { d(k) = (v % 85).toInt; v /= 85; k -= 1 }
      k = 0
      while (k <= rem) { out(o) = ('!' + d(k)).toByte; o += 1; k += 1 }
    }
    UTF8String.fromBytes(out)
  }
}
