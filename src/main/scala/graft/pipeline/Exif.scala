package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.hexOf

/** EXIF / TIFF-IFD metadata extraction — the camera-metadata walk every
  * image-bearing training pipeline runs before filtering or dedup
  * (orientation normalization, capture-time windows, device profiling).
  * Implements the TIFF 6.0 container grammar (Exif 2.3 §4.5.2): the
  * II/MM byte-order mark dispatches EVERY multi-byte read, IFD entries
  * are 12-byte (tag, type, count, value-or-offset) records in ascending
  * tag order, values wider than 4 bytes live behind offsets, ASCII
  * values are NUL-terminated, and private IFDs hang off pointer tags
  * (0x8769 → Exif IFD). Accepts both the bare TIFF stream and the JPEG
  * shape — an APP1 segment tagged `Exif\0\0` found by a marker walk
  * (JPEG segment lengths are ALWAYS big-endian regardless of the TIFF
  * endianness inside). Malformed input rejects loudly: bad byte-order
  * mark, truncated IFDs, out-of-bounds value offsets, unterminated
  * strings.
  *
  * Scale shape: map-only per-blob parsing (the media-decode dispatch
  * pattern — [[Multimodal]]); at 100 TB the unit of work is the image
  * blob, file-parallel, no shuffle except the output sort.
  *
  * Cited reference behavior: the reference treats inputs as opaque text
  * lines (q1_mapper.py:43-46); a multimodal corpus engine must read the
  * metadata the files carry about themselves.
  */
object Exif extends QueryModule {

  /** Parsed fields of one EXIF payload (the fixture's tag set). */
  final case class ExifMeta(bigEndian: Boolean, make: String, model: String,
      orientation: Int, dtOriginal: String, pixelX: Long)

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff

  /** One entry's raw 4-byte value field, plus typed readers. */
  private final class Reader(b: Array[Byte], big: Boolean) {
    def u16(o: Int): Int = {
      require(o >= 0 && o + 2 <= b.length, s"exif: u16 read past end at $o")
      if (big) (u8(b, o) << 8) | u8(b, o + 1) else (u8(b, o + 1) << 8) | u8(b, o)
    }
    def u32(o: Int): Long = {
      require(o >= 0 && o + 4 <= b.length, s"exif: u32 read past end at $o")
      if (big) ((u8(b, o).toLong << 24) | (u8(b, o + 1) << 16) | (u8(b, o + 2) << 8) | u8(b, o + 3))
      else ((u8(b, o + 3).toLong << 24) | (u8(b, o + 2) << 16) | (u8(b, o + 1) << 8) | u8(b, o))
    }
    def ascii(ofs: Long, count: Long): String = {
      require(count >= 1 && ofs >= 0 && ofs + count <= b.length,
        s"exif: ASCII value [$ofs, +$count) out of bounds")
      // the declared count includes the terminator and any NUL padding;
      // the value ends at the FIRST NUL (TIFF 6.0 ASCII semantics)
      var end = ofs.toInt
      while (end < ofs + count && b(end) != 0) end += 1
      require(end < ofs + count, "exif: ASCII value not NUL-terminated")
      new String(b, ofs.toInt, end - ofs.toInt, "US-ASCII")
    }
  }

  /** Byte sizes of the TIFF value types this walk resolves (type 1 BYTE,
    * 2 ASCII, 3 SHORT, 4 LONG — the Exif baseline set).
    */
  private val TypeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4)

  /** Walk one IFD: (tag → (type, count, value-field offset)) plus the
    * next-IFD offset. Entries must be in ascending tag order (TIFF 6.0
    * §2) — real writers comply and the requirement catches walks that
    * lost framing.
    */
  private def ifd(r: Reader, b: Array[Byte], ofs: Long): Map[Int, (Int, Long, Int)] = {
    require(ofs >= 8 && ofs + 2 <= b.length, s"exif: IFD offset $ofs out of bounds")
    val n = r.u16(ofs.toInt)
    require(ofs + 2 + 12L * n + 4 <= b.length, s"exif: IFD at $ofs truncated ($n entries)")
    var lastTag = -1
    (0 until n).map { i =>
      val e = (ofs + 2 + 12 * i).toInt
      val tag = r.u16(e)
      require(tag > lastTag, s"exif: IFD entries out of tag order at 0x${tag.toHexString}")
      lastTag = tag
      val typ = r.u16(e + 2)
      require(TypeSize.contains(typ), s"exif: unsupported value type $typ for tag 0x${tag.toHexString}")
      tag -> ((typ, r.u32(e + 4), e + 8))
    }.toMap
  }

  /** Resolve an entry's value start: inline when it fits 4 bytes, else
    * behind the offset the value field holds.
    */
  private def valueStart(r: Reader, typ: Int, count: Long, valueField: Int): Long = {
    val width = TypeSize(typ) * count
    if (width <= 4) valueField.toLong else r.u32(valueField)
  }

  /** Parse a bare TIFF stream or a JPEG with an `Exif\0\0` APP1 segment. */
  def parse(bytes: Array[Byte]): ExifMeta = {
    val tiff =
      if (bytes.length >= 2 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8) app1Tiff(bytes)
      else bytes
    require(tiff.length >= 8, "exif: shorter than a TIFF header")
    val big = (u8(tiff, 0), u8(tiff, 1)) match {
      case (0x4d, 0x4d) => true
      case (0x49, 0x49) => false
      case _ => throw new IllegalArgumentException("exif: bad byte-order mark")
    }
    val r = new Reader(tiff, big)
    require(r.u16(2) == 42, "exif: TIFF magic 42 missing")
    val ifd0 = ifd(r, tiff, r.u32(4))
    def asciiTag(m: Map[Int, (Int, Long, Int)], tag: Int): String = {
      val (typ, count, vf) = m.getOrElse(tag,
        throw new IllegalArgumentException(f"exif: required tag 0x$tag%04x missing"))
      require(typ == 2, f"exif: tag 0x$tag%04x is not ASCII")
      r.ascii(valueStart(r, typ, count, vf), count)
    }
    val (oTyp, oCount, oVf) = ifd0.getOrElse(0x0112,
      throw new IllegalArgumentException("exif: Orientation missing"))
    require(oTyp == 3 && oCount == 1, "exif: Orientation must be one SHORT")
    val (pTyp, pCount, pVf) = ifd0.getOrElse(0x8769,
      throw new IllegalArgumentException("exif: Exif IFD pointer missing"))
    require(pTyp == 4 && pCount == 1, "exif: Exif IFD pointer must be one LONG")
    val exifIfd = ifd(r, tiff, r.u32(pVf))
    val (xTyp, xCount, xVf) = exifIfd.getOrElse(0xa002,
      throw new IllegalArgumentException("exif: PixelXDimension missing"))
    require(xTyp == 4 && xCount == 1, "exif: PixelXDimension must be one LONG")
    ExifMeta(big,
      asciiTag(ifd0, 0x010f), asciiTag(ifd0, 0x0110),
      r.u16(oVf), asciiTag(exifIfd, 0x9003), r.u32(xVf))
  }

  /** JPEG marker walk to the `Exif\0\0` APP1 payload (segment lengths
    * big-endian, include the 2 length bytes themselves; standalone
    * markers have none). Stops at SOS/EOI — metadata precedes image data.
    */
  private def app1Tiff(b: Array[Byte]): Array[Byte] =
    app1TiffOpt(b).getOrElse(
      throw new IllegalArgumentException("exif: no Exif APP1 segment found"))

  /** The lenient twin: None when the JPEG simply carries no Exif APP1
    * before image data (normal for web images); malformed marker framing
    * still rejects loudly.
    */
  private def app1TiffOpt(b: Array[Byte]): Option[Array[Byte]] = {
    var pos = 2
    while (pos + 4 <= b.length) {
      require(u8(b, pos) == 0xff, s"exif: jpeg marker framing lost at $pos")
      val marker = u8(b, pos + 1)
      if (marker == 0xd9 || marker == 0xda) return None // image data: no Exif
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        // TEM/RSTn are standalone — no length field
        pos += 2
      } else {
      val len = (u8(b, pos + 2) << 8) | u8(b, pos + 3)
      require(len >= 2 && pos + 2 + len <= b.length, s"exif: segment at $pos truncated")
      if (marker == 0xe1 && len >= 8 &&
        b(pos + 4) == 'E' && b(pos + 5) == 'x' && b(pos + 6) == 'i' &&
        b(pos + 7) == 'f' && b(pos + 8) == 0 && b(pos + 9) == 0)
        return Some(java.util.Arrays.copyOfRange(b, pos + 10, pos + 2 + len))
      pos += 2 + len
      }
    }
    None
  }

  /** Display orientation of a payload, for orientation-normalized
    * hashing ([[graft.pipeline.MediaCodec.orientedAhash64]]): the IFD0
    * 0x0112 SHORT when the payload is a JPEG with an Exif APP1 or a bare
    * TIFF stream; 1 (top-left) when the metadata is simply ABSENT — no
    * APP1, no Orientation tag, or a non-TIFF/JPEG payload (PNG/GIF/BMP/
    * PPM carry no EXIF). A PRESENT but malformed Exif segment still
    * rejects loudly — absence is normal, corruption is not.
    */
  def orientationOf(bytes: Array[Byte]): Int = {
    val tiff: Option[Array[Byte]] =
      if (bytes.length >= 2 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8)
        app1TiffOpt(bytes)
      else if (bytes.length >= 8 &&
        ((u8(bytes, 0) == 0x49 && u8(bytes, 1) == 0x49) ||
          (u8(bytes, 0) == 0x4d && u8(bytes, 1) == 0x4d)))
        Some(bytes)
      else None
    tiff match {
      case None => 1
      case Some(t) =>
        require(t.length >= 8, "exif: shorter than a TIFF header")
        val big = u8(t, 0) == 0x4d
        val r = new Reader(t, big)
        require(r.u16(2) == 42, "exif: TIFF magic 42 missing")
        ifd(r, t, r.u32(4)).get(0x0112) match {
          case None => 1
          case Some((typ, count, vf)) =>
            require(typ == 3 && count == 1, "exif: Orientation must be one SHORT")
            val o = r.u16(vf)
            require(o >= 1 && o <= 8, s"exif: Orientation $o outside 1..8")
            o
        }
    }
  }

  // ---- mm_real_exif: SQL-built genuine payloads, both endians ----

  /** Fixture layout constants (offsets from the TIFF header start):
    * IFD0 at 8 (4 entries), Exif IFD at 62 (2 entries), data area at 92:
    * Make[12] @92, Model[12] @104, DateTimeOriginal[20] @116 — 136 bytes.
    */
  private val MakeOfs = 92
  private val ModelOfs = 104
  private val DtOfs = 116

  /** One 12-byte IFD entry as hex; `valueHex` is the 8-hex-char value
    * field already in the right endianness.
    */
  private def entry(big: Boolean, tag: Int, typ: Int, count: Long, valueHex: String): String = {
    def x16(v: Int) = if (big) "%04X".format(v)
      else "%02X%02X".format(v & 0xff, v >> 8)
    def x32(v: Long) = if (big) "%08X".format(v)
      else "%02X%02X%02X%02X".format(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    x16(tag) + x16(typ) + x32(count) + valueHex
  }

  /** The constant skeleton of one endianness, with `%s` slots for the
    * doc-dependent pieces: orientation value field, pixelX value field,
    * maker digit, model digit, day digits (ASCII hex).
    */
  private def skeleton(big: Boolean): String = {
    def x16(v: Int) = if (big) "%04X".format(v)
      else "%02X%02X".format(v & 0xff, v >> 8)
    def x32(v: Long) = if (big) "%08X".format(v)
      else "%02X%02X%02X%02X".format(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    val hdr = (if (big) "4D4D" else "4949") + x16(42) + x32(8)
    val ifd0 = x16(4) +
      entry(big, 0x010f, 2, 12, x32(MakeOfs)) +
      entry(big, 0x0110, 2, 12, x32(ModelOfs)) +
      entry(big, 0x0112, 3, 1, "%s") + // orientation: SHORT + 2 pad bytes
      entry(big, 0x8769, 4, 1, x32(62)) +
      x32(0)
    val exifIfd = x16(2) +
      entry(big, 0x9003, 2, 20, x32(DtOfs)) +
      entry(big, 0xa002, 4, 1, "%s") + // pixelX: LONG inline
      x32(0)
    val data = hexOf("maker") + "%s" + "00" * 6 +
      hexOf("model") + "%s" + "00" * 6 +
      hexOf("2024:01:") + "%s" + hexOf(" 12:00:00") + "00"
    hdr + ifd0 + exifIfd + data
  }

  /** `mm_real_exif`: genuine EXIF payloads BUILT per document in pure SQL
    * and parsed back through the real TIFF walk — even doc_ids a BARE
    * little-endian (II) TIFF stream, odd doc_ids a big-endian (MM) TIFF
    * wrapped in a real JPEG APP1 segment BEHIND a decoy APP0 (so the
    * marker walk and the always-big-endian JPEG lengths are exercised
    * against the opposite TIFF endianness). Orientation (1 + doc_id%8),
    * PixelXDimension (100 + doc_id%900), maker/model digits, and the
    * capture day are all formulas; the oracle recomputes every parsed
    * field from them without touching TIFF — an endian-dispatch,
    * inline-vs-offset, IFD-chain, or APP1-scan bug lands as a value
    * mismatch or a loud reject.
    */
  def exifIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // fill the skeleton's %s slots, in order, with SQL hex expressions
    def fill(fmt: String, args: Seq[String]): String = {
      val parts = fmt.split("%s", -1)
      require(parts.length == args.length + 1, "slot mismatch")
      parts.zipAll(args, "", "")
        .flatMap { case (lit, a) =>
          Seq(if (lit.isEmpty) null else s"'$lit'", if (a.isEmpty) null else a)
        }
        .filter(_ != null)
        .mkString("concat(", ", ", ")")
    }
    // doc-dependent hex pieces (orientation 1..8 is one nibble; pixel_x
    // 800..1699 needs the 4-digit lpad — bare hex() is variable-width)
    val px = "lpad(hex(800 + doc_id % 900), 4, '0')"
    val orientLe = "concat('0', cast(1 + doc_id % 8 as string), '000000')"
    val orientBe = "concat('000', cast(1 + doc_id % 8 as string), '0000')"
    val pxLe = s"concat(substring($px, 3, 2), substring($px, 1, 2), '0000')"
    val pxBe = s"concat('0000', $px)"
    val makerD = "hex(cast(cast(doc_id % 7 as string) as binary))"
    val modelD = "hex(cast(cast(doc_id % 5 as string) as binary))"
    val dayD = "hex(cast(lpad(cast(1 + doc_id % 28 as string), 2, '0') as binary))"
    val tiffLe = fill(skeleton(big = false), Seq(orientLe, pxLe, makerD, modelD, dayD))
    val tiffBe = fill(skeleton(big = true), Seq(orientBe, pxBe, makerD, modelD, dayD))
    // JPEG wrap for the odd arm: SOI + decoy APP0 (4 junk payload bytes) +
    // APP1 "Exif\0\0" + TIFF; APP1 length = 2 + 6 + 136 = 144, big-endian
    val app1 = s"concat('FFD8', 'FFE00006DEADBEEF', 'FFE1', '0090', '${hexOf("Exif")}0000', $tiffBe)"
    val payloads = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, expr(s"unhex($tiffLe)"))
          .otherwise(expr(s"unhex($app1)")).as("payload"))
    payloads.as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = parse(bytes)
        (id, m.bigEndian, m.make, m.model, m.orientation, m.dtOriginal, m.pixelX)
      }
      .toDF("doc_id", "big_endian", "make", "model", "orientation",
        "dt_original", "pixel_x")
      .select(col("doc_id"), col("big_endian"), col("make"), col("model"),
        col("orientation").cast("int"), col("dt_original"), col("pixel_x"))
      .orderBy("doc_id")
  }

  private val exifIngestSql =
    """SELECT doc_id,
              doc_id % 2 = 1 AS big_endian,
              'maker' || CAST(doc_id % 7 AS VARCHAR) AS make,
              'model' || CAST(doc_id % 5 AS VARCHAR) AS model,
              CAST(1 + doc_id % 8 AS INT) AS orientation,
              '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                || ' 12:00:00' AS dt_original,
              CAST(800 + doc_id % 900 AS BIGINT) AS pixel_x
       FROM documents ORDER BY doc_id"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_real_exif" -> (exifIngest _),
  )

  override def oracle: Map[String, String] = Map(
    "mm_real_exif" -> exifIngestSql,
  )
}
