package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd kernels for the heavy per-bit/per-byte inner loops of the
  * media fixture emitters (r18 optimization, guide §4: these walks ran as
  * interpreted — CodegenFallback — higher-order-function lambdas, one
  * expression-tree evaluation per byte/bit per document, measured as the
  * dominant per-pass cost of the `mm_real_jpeg*`, `mm_real_gif`,
  * `mm_ahash_*` rows). Each kernel emits BYTE-IDENTICAL output to the SQL
  * arithmetic it replaced — pinned in EmitterKernelSpec against the
  * retired formulations — and the decode side is unchanged, so a miscoded
  * emitter still lands as a strict-reject missing row or an oracle value
  * mismatch exactly as before.
  */
object FixtureEmitters {

  /** Annex K.3.3.1 DC luminance code strings for categories 0..8, parsed
    * once into (codeValue, codeLength) — MUST stay in lockstep with
    * [[graft.pipeline.MediaCodec.JpegDcLumCodes]] (spec-pinned).
    */
  private[functions] val DcCodes: Array[(Int, Int)] =
    Array("00", "010", "011", "100", "101", "110", "1110", "11110", "111110")
      .map(s => (Integer.parseInt(s, 2), s.length))

  private final class BitBuf {
    private var buf = new Array[Byte](256)
    private var nBits = 0
    def append(value: Int, len: Int): Unit = {
      if ((nBits + len + 7) / 8 >= buf.length)
        buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      var k = len - 1
      while (k >= 0) {
        if (((value >> k) & 1) == 1) buf(nBits / 8) = (buf(nBits / 8) | (0x80 >> (nBits % 8))).toByte
        nBits += 1
        k -= 1
      }
    }
    /** Pad to a byte boundary with 1-bits, then hex with FF→FF00 stuffing. */
    def packStuffedHex(out: StringBuilder): Unit = {
      while (nBits % 8 != 0) append(1, 1)
      var i = 0
      val n = nBits / 8
      while (i < n) {
        val b = buf(i) & 0xff
        if (b == 0xff) out.append("FF00")
        else { out.append(HexDigits(b >> 4)); out.append(HexDigits(b & 0xf)) }
        i += 1
      }
      nBits = 0
      java.util.Arrays.fill(buf, 0.toByte)
    }
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  private def permute(k: Int, orient: Int): Int = orient match {
    case 1 => k
    case 3 => 63 - k
    case 6 => (k % 8) * 8 + 7 - k / 8
    case 8 => (7 - k % 8) * 8 + k / 8
    case o => throw new IllegalArgumentException(s"jpeg_dc_scan_hex: orientation $o unsupported")
  }

  private def category(d: Int): Int = {
    val a = math.abs(d)
    32 - Integer.numberOfLeadingZeros(a) // 0 for d == 0
  }

  /** The DC-only scan emitter. `mode` 0 = baseline (128-reset predictor,
    * per-block EOB), 1 = progressive DC-first at Al=1 (0-reset predictor
    * over the point-transformed values, no EOB), 2 = progressive DC
    * refinement (one raw low bit per block). Returns the scan hex
    * INCLUDING the inter-segment RSTn markers (numbering from FFD0 within
    * the scan, `i mod 8`).
    */
  def jpegDcScanHex(data: Array[Byte], rst: Int, mode: Int, orient: Int): UTF8String = {
    val nBlocks = data.length
    require(orient == 1 || nBlocks == 64,
      s"jpeg_dc_scan_hex: orientation $orient needs exactly 64 blocks, got $nBlocks")
    def v(k: Int): Int = data(if (orient == 1) k else permute(k, orient)) & 0xff
    val out = new StringBuilder(nBlocks * 4)
    val bits = new BitBuf
    val nSegs = nBlocks / rst
    var s = 0
    while (s < nSegs) {
      var k = s * rst
      val end = k + rst
      while (k < end) {
        mode match {
          case 0 =>
            val d = v(k) - (if (k % rst == 0) 128 else v(k - 1))
            emitDc(bits, d)
            bits.append(0xa, 4) // EOB '1010'
          case 1 =>
            val t = (v(k) - 128) >> 1
            val d = t - (if (k % rst == 0) 0 else (v(k - 1) - 128) >> 1)
            emitDc(bits, d)
          case 2 =>
            bits.append((v(k) - 128) & 1, 1)
          case m => throw new IllegalArgumentException(s"jpeg_dc_scan_hex: mode $m unsupported")
        }
        k += 1
      }
      bits.packStuffedHex(out)
      if (s < nSegs - 1) { out.append("FFD"); out.append(('0' + s % 8).toChar) }
      s += 1
    }
    UTF8String.fromString(out.toString)
  }

  private def emitDc(bits: BitBuf, d: Int): Unit = {
    val c = category(d)
    val (code, len) = DcCodes(c)
    bits.append(code, len)
    if (c > 0) bits.append(if (d > 0) d else d + (1 << c) - 1, c)
  }

  /** GIF byte-aligned LZW literal blocks: each document byte becomes the
    * literal code `b mod 128` (8-bit codes under min-code-size 7), laid
    * out as sub-blocks of ≤127 codes each led by a clear code 0x80, the
    * last closed with the end code 0x81. Geometry derives from the input
    * length (full 126-literal sub-blocks + the remainder), identical to
    * the per-block SQL concat it replaces.
    */
  def gifPixelBlocksHex(data: Array[Byte]): UTF8String = {
    val n = data.length
    val out = new StringBuilder(n * 2 + 16)
    def pix(i: Int): Unit = {
      val p = (data(i) & 0xff) % 128
      out.append(HexDigits(p >> 4)); out.append(HexDigits(p & 0xf))
    }
    // exact geometry of the per-block SQL concat: n/126 FULL sub-blocks
    // (len 127 = clear + 126 literals), then the n mod 126 remainder —
    // possibly zero literals — closed with the end code
    var i = 0
    var b = 0
    val fullBlocks = n / 126
    while (b < fullBlocks) {
      out.append("7F80")
      val end = i + 126
      while (i < end) { pix(i); i += 1 }
      b += 1
    }
    val rem = n - i
    val len = rem + 2 // clear + literals + end
    out.append(HexDigits(len >> 4)); out.append(HexDigits(len & 0xf))
    out.append("80")
    while (i < n) { pix(i); i += 1 }
    out.append("81")
    UTF8String.fromString(out.toString)
  }

  /** The 64-bit average hash over 64 stride-sampled payload bytes
    * (stride = len div 64): mean via one fixed ascending double fold +
    * one division, bit j set iff byte_j > mean — the exact IEEE shape of
    * the SQL fold it replaces (`mm_ahash_dedup`'s determinism contract).
    */
  def ahash64Sampled(payload: Array[Byte]): Long = {
    val stride = payload.length / 64
    var sum = 0.0
    var j = 0
    while (j < 64) { sum += (payload(j * stride) & 0xff).toDouble; j += 1 }
    val mean = sum / 64.0
    var ah = 0L
    j = 0
    while (j < 64) {
      if ((payload(j * stride) & 0xff).toDouble > mean) ah += (1L << j)
      j += 1
    }
    ah
  }
}

