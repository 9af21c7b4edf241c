package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.byte

/** ZIP archive ingestion — the third container corpora land in (alongside
  * tarballs and WARC dumps: scraped datasets, Kaggle-style drops, and
  * document dumps overwhelmingly ship as `.zip`). A ZIP is read from the
  * END: the End-Of-Central-Directory record locates the central
  * directory, whose records carry the authoritative name/method/CRC/size
  * metadata and the local-header offsets; member data sits behind each
  * local header. Reading via the central directory (not a forward scan)
  * is what makes the walk correct for streamed archives whose local
  * headers defer sizes to data descriptors (flag bit 3 — what
  * `java.util.zip.ZipOutputStream` itself emits on non-seekable sinks).
  *
  * [[entries]] verifies both signatures per member, inflates DEFLATE
  * members through `java.util.zip.Inflater` (raw mode), copies STORED
  * members, and CHECKS the CRC-32 and size of every decompressed payload
  * against the central record — a corrupted member throws with a named
  * error, never yields garbage. Scale: map-only per archive like TAR and
  * WARC; a bucket of archives parallelizes at file grain through
  * `binaryFile`.
  *
  * Reference behavior anchor: the reference ingests loose files via a
  * directory file source (`q4_streaming.ipynb` cell 0); container
  * ingestion generalizes that front door to how large corpora actually
  * arrive.
  */
object Zip extends QueryModule with Container[(String, Array[Byte])] {

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Long =
    (le16(b, off) | (le16(b, off + 2).toLong << 16)) & 0xffffffffL

  private def le64(b: Array[Byte], off: Int): Long =
    le32(b, off) | (le32(b, off + 4) << 32)

  /** Every FILE member as (name, payload), in central-directory order.
    * Directory entries (trailing '/') are skipped. CRC-32 and
    * uncompressed size verified per member; unsupported compression
    * methods and encrypted members reject loudly.
    */
  def entries(bytes: Array[Byte]): IndexedSeq[(String, Array[Byte])] = {
    // EOCD: fixed 22 bytes + a comment of up to 65535 — scan back for the
    // signature, bounded by the maximal comment length
    require(bytes.length >= 22, "zip: shorter than an EOCD record")
    var eocd = -1
    var p = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && p >= floor) {
      if ((bytes(p) & 0xff) == 0x50 && (bytes(p + 1) & 0xff) == 0x4b &&
        (bytes(p + 2) & 0xff) == 0x05 && (bytes(p + 3) & 0xff) == 0x06 &&
        22 + le16(bytes, p + 20) == bytes.length - p) eocd = p
      p -= 1
    }
    require(eocd >= 0, "zip: no end-of-central-directory record")
    // ZIP64 (r12, VERDICT r11 #3): a 20-byte EOCD64 locator sits
    // immediately before the classic EOCD when any of its fields overflow
    // 16/32 bits — which at dataset-drop scale (>4 GiB archives, >65535
    // members) is the COMMON case, and some streaming producers emit the
    // ZIP64 records unconditionally. The classic fields then hold
    // 0xFFFF/0xFFFFFFFF sentinels and the truth lives in the EOCD64 record.
    val loc = eocd - 20
    val zip64 = loc >= 0 && le32(bytes, loc) == 0x07064b50L
    val (count, cdSize, cdOff) =
      if (zip64) {
        require(le32(bytes, loc + 4) == 0 && le32(bytes, loc + 16) == 1,
          "zip: multi-disk zip64 archives unsupported")
        val e64 = le64(bytes, loc + 8)
        require(e64 >= 0 && e64 + 56 <= loc && le32(bytes, e64.toInt) == 0x06064b50L,
          "zip: bad zip64 end-of-central-directory record")
        val q = e64.toInt
        require(le32(bytes, q + 16) == 0 && le32(bytes, q + 20) == 0,
          "zip: multi-disk zip64 archives unsupported")
        val n = le64(bytes, q + 24)
        require(n == le64(bytes, q + 32), "zip: zip64 disk/total entry count mismatch")
        // the archive already fits one byte array, so the count does too
        require(n <= Int.MaxValue, s"zip: zip64 entry count $n exceeds the in-memory bound")
        val (sz, off) = (le64(bytes, q + 40), le64(bytes, q + 48))
        require(off + sz <= e64, "zip: central directory overruns its zip64 EOCD")
        (n.toInt, sz, off)
      } else {
        require(le16(bytes, eocd + 4) == 0 && le16(bytes, eocd + 6) == 0,
          "zip: multi-disk archives unsupported")
        val n = le16(bytes, eocd + 10)
        require(le16(bytes, eocd + 8) == n, "zip: disk/total entry count mismatch")
        require(n != 0xffff && le32(bytes, eocd + 16) != 0xffffffffL,
          "zip: sentinel EOCD fields with no zip64 locator")
        val (sz, off) = (le32(bytes, eocd + 12), le32(bytes, eocd + 16))
        require(off + sz <= eocd, "zip: central directory overruns its EOCD")
        (n, sz, off)
      }

    val out = IndexedSeq.newBuilder[(String, Array[Byte])]
    var cd = cdOff.toInt
    var i = 0
    while (i < count) {
      require(cd + 46 <= eocd, s"zip: central record $i overruns the directory")
      val rec = parseCdRecord(bytes, cd, i)
      if (!rec.name.endsWith("/")) {
        // local header: sizes/CRC here may be zeroed under flag bit 3 —
        // the central record above is authoritative, the LFH only frames
        require(rec.lho + 30 <= bytes.length && le32(bytes, rec.lho.toInt) == 0x04034b50L,
          s"zip: bad local-header signature for '${rec.name}'")
        val l = rec.lho.toInt
        val dataOff = l + 30 + le16(bytes, l + 26) + le16(bytes, l + 28)
        require(dataOff + rec.csize <= bytes.length, s"zip: truncated data for '${rec.name}'")
        out += rec.name -> decodeMember(rec, bytes, dataOff)
      }
      cd += rec.recLen
      i += 1
    }
    out.result()
  }

  /** One parsed central-directory record (ZIP64 sentinels resolved). */
  private[operators] final case class CdRecord(name: String, method: Int,
      crc: Long, csize: Long, usize: Long, lho: Long, recLen: Int)

  /** Parse the central record at `pos` of `cd` (any buffer holding the
    * directory — the whole archive for the in-memory walk, just the CD
    * slab for the seekable file walk). Shared by both walks so the ZIP64
    * sentinel/extra-field logic exists exactly once.
    */
  private def parseCdRecord(cd: Array[Byte], pos: Int, i: Int): CdRecord = {
    require(le32(cd, pos) == 0x02014b50L,
      s"zip: bad central-directory signature for entry $i")
    val flags = le16(cd, pos + 8)
    require((flags & 0x1) == 0, s"zip: entry $i is encrypted")
    val method = le16(cd, pos + 10)
    val crc = le32(cd, pos + 16)
    var csize = le32(cd, pos + 20)
    var usize = le32(cd, pos + 24)
    val nlen = le16(cd, pos + 28)
    val elen = le16(cd, pos + 30)
    val clen = le16(cd, pos + 32)
    var lho = le32(cd, pos + 42)
    val name = new String(cd, pos + 46, nlen, java.nio.charset.StandardCharsets.UTF_8)
    if (usize == 0xffffffffL || csize == 0xffffffffL || lho == 0xffffffffL) {
      // ZIP64 extended-information extra field (id 0x0001): 8-byte values
      // present ONLY for the fields whose 4-byte slot holds the sentinel,
      // in spec order usize, csize, lho-offset
      var x = pos + 46 + nlen
      val xEnd = x + elen
      var found = false
      while (x + 4 <= xEnd && !found) {
        val id = le16(cd, x); val sz = le16(cd, x + 2)
        if (id == 0x0001) {
          var q = x + 4
          if (usize == 0xffffffffL) { usize = le64(cd, q); q += 8 }
          if (csize == 0xffffffffL) { csize = le64(cd, q); q += 8 }
          if (lho == 0xffffffffL) { lho = le64(cd, q); q += 8 }
          require(q <= x + 4 + sz && q <= xEnd,
            s"zip: zip64 extra field too short in '$name'")
          found = true
        } else x += 4 + sz
      }
      require(found, s"zip: sentinel sizes with no zip64 extra field in '$name'")
    }
    // the format parses past 4 GiB, but a MEMBER must still land in one
    // JVM byte array to decode — the per-member in-memory bound (the
    // seekable walk lifts the ARCHIVE-level bound, not this one)
    require(csize <= Int.MaxValue && usize <= Int.MaxValue,
      s"zip: entry $i sizes exceed the in-memory decode bound")
    CdRecord(name, method, crc, csize, usize, lho, 46 + nlen + elen + clen)
  }

  /** Decode one member's payload from `raw` at `off` (STORED copy or raw
    * DEFLATE), then verify the decompressed size AND CRC-32 against the
    * central record. Shared by both walks.
    */
  private def decodeMember(rec: CdRecord, raw: Array[Byte], off: Int): Array[Byte] = {
    val data = rec.method match {
      case 0 => // STORED
        require(rec.csize == rec.usize,
          s"zip: stored entry '${rec.name}' with csize != usize")
        java.util.Arrays.copyOfRange(raw, off, off + rec.csize.toInt)
      case 8 => // DEFLATE
        val inf = new java.util.zip.Inflater(true)
        inf.setInput(raw, off, rec.csize.toInt)
        val buf = new Array[Byte](rec.usize.toInt)
        var got = 0
        try {
          while (got < buf.length && !inf.finished()) {
            val n = inf.inflate(buf, got, buf.length - got)
            require(n > 0 || !inf.needsInput(), s"zip: truncated deflate in '${rec.name}'")
            got += n
          }
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"zip: corrupt deflate in '${rec.name}': ${e.getMessage}")
        } finally inf.end()
        require(got == rec.usize, s"zip: '${rec.name}' inflated to $got of ${rec.usize} bytes")
        buf
      case m =>
        throw new IllegalArgumentException(s"zip: unsupported compression method $m in '${rec.name}'")
    }
    val c = new java.util.zip.CRC32
    c.update(data)
    require(c.getValue == rec.crc,
      f"zip: CRC mismatch in '${rec.name}' (${c.getValue}%08x != ${rec.crc}%08x)")
    data
  }

  /** [[entries]] for a FILE, by seek: reads the tail window (EOCD + up to
    * the max comment + the ZIP64 locator), the EOCD64 record if present,
    * the central-directory slab, and then ONE member's compressed bytes at
    * a time — never the whole archive. This is the >4 GiB dataset-drop
    * path the in-memory walk cannot serve: `binaryFile` caps a content
    * column at 2 GiB and a byte-array walk needs the archive resident,
    * while this walk needs O(tail + directory + one member) memory
    * regardless of archive size. Members keep the per-member in-memory
    * bound; the ARCHIVE-level bound is what this lifts.
    *
    * The returned iterator closes the stream when exhausted or on the
    * first decode failure; callers that abandon it early must not exist
    * (both call sites drain it).
    */
  def entriesFromFile(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Iterator[(String, Array[Byte])] = {
    val len = fs.getFileStatus(path).getLen
    require(len >= 22, s"zip: $path shorter than an EOCD record")
    val in = fs.open(path)
    def closeQuietly(): Unit = try in.close() catch { case _: Throwable => () }
    try {
      val tailLen = math.min(len, 22L + 0xffff + 20L).toInt
      val tailBase = len - tailLen
      val tail = new Array[Byte](tailLen)
      in.readFully(tailBase, tail, 0, tailLen)
      var eocd = -1
      var p = tailLen - 22
      while (eocd < 0 && p >= 0) {
        if ((tail(p) & 0xff) == 0x50 && (tail(p + 1) & 0xff) == 0x4b &&
          (tail(p + 2) & 0xff) == 0x05 && (tail(p + 3) & 0xff) == 0x06 &&
          22 + le16(tail, p + 20) == tailLen - p) eocd = p
        p -= 1
      }
      require(eocd >= 0, s"zip: no end-of-central-directory record in $path")
      val loc = eocd - 20
      val zip64 = loc >= 0 && le32(tail, loc) == 0x07064b50L
      val (count, cdSize, cdOff) =
        if (zip64) {
          require(le32(tail, loc + 4) == 0 && le32(tail, loc + 16) == 1,
            "zip: multi-disk zip64 archives unsupported")
          val e64 = le64(tail, loc + 8)
          require(e64 >= 0 && e64 + 56 <= tailBase + loc,
            "zip: bad zip64 end-of-central-directory record")
          val rec = new Array[Byte](56)
          in.readFully(e64, rec, 0, 56)
          require(le32(rec, 0) == 0x06064b50L,
            "zip: bad zip64 end-of-central-directory record")
          require(le32(rec, 16) == 0 && le32(rec, 20) == 0,
            "zip: multi-disk zip64 archives unsupported")
          val n = le64(rec, 24)
          require(n == le64(rec, 32), "zip: zip64 disk/total entry count mismatch")
          require(n <= Int.MaxValue, s"zip: zip64 entry count $n exceeds the in-memory bound")
          val (sz, off) = (le64(rec, 40), le64(rec, 48))
          require(off + sz <= e64, "zip: central directory overruns its zip64 EOCD")
          (n.toInt, sz, off)
        } else {
          require(le16(tail, eocd + 4) == 0 && le16(tail, eocd + 6) == 0,
            "zip: multi-disk archives unsupported")
          val n = le16(tail, eocd + 10)
          require(le16(tail, eocd + 8) == n, "zip: disk/total entry count mismatch")
          require(n != 0xffff && le32(tail, eocd + 16) != 0xffffffffL,
            "zip: sentinel EOCD fields with no zip64 locator")
          val (sz, off) = (le32(tail, eocd + 12), le32(tail, eocd + 16))
          require(off + sz <= tailBase + eocd, "zip: central directory overruns its EOCD")
          (n, sz, off)
        }
      // one directory record is >= 46 bytes, so a 100 TB bucket's largest
      // plausible directory (millions of members) still fits comfortably
      require(cdSize <= Int.MaxValue, "zip: central directory exceeds the in-memory bound")
      val cd = new Array[Byte](cdSize.toInt)
      in.readFully(cdOff, cd, 0, cd.length)
      val recs = {
        val b = IndexedSeq.newBuilder[CdRecord]
        var pos = 0
        var i = 0
        while (i < count) {
          require(pos + 46 <= cd.length, s"zip: central record $i overruns the directory")
          val r = parseCdRecord(cd, pos, i)
          b += r
          pos += r.recLen
          i += 1
        }
        b.result()
      }
      val base = recs.iterator.filterNot(_.name.endsWith("/")).map { rec =>
        val lfh = new Array[Byte](30)
        require(rec.lho + 30 <= len, s"zip: local header of '${rec.name}' beyond EOF")
        in.readFully(rec.lho, lfh, 0, 30)
        require(le32(lfh, 0) == 0x04034b50L,
          s"zip: bad local-header signature for '${rec.name}'")
        val dataOff = rec.lho + 30 + le16(lfh, 26) + le16(lfh, 28)
        require(dataOff + rec.csize <= len, s"zip: truncated data for '${rec.name}'")
        val raw = new Array[Byte](rec.csize.toInt)
        in.readFully(dataOff, raw, 0, raw.length)
        rec.name -> decodeMember(rec, raw, 0)
      }
      Streams.closeOnExhaust(base, in)
    } catch { case e: Throwable => closeQuietly(); throw e }
  }

  // ---- the front doors: a bucket of `<id>.zip` archives ----
  // `.txt` members become documents (lang `und`, source = member name);
  // the path door seek-walks each archive via [[entriesFromFile]], so a
  // bucket of >4 GiB ZIP64 drops ingests with O(directory + one member)
  // memory per task. Archive grain is the unit of parallelism and of
  // exactly-once tracking in the streaming door (the file-source log).

  protected def label = "zip"
  protected def fileRe = "([0-9]+)\\.zip"
  protected def bytesWalk(bytes: Array[Byte]) = entries(bytes).iterator
  protected def pathWalk(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path) =
    entriesFromFile(fs, path)
  protected def doc(file: String, slot: Int, e: (String, Array[Byte])) =
    if (e._1.endsWith(".txt")) Some((utf8(e._2), "und", e._1)) else None

  /** Fixture geometry: two 48-byte STORED members per document (text
    * bytes [0,48) and [16,64)), FIXED-WIDTH names (`d<12 digits>.txt` /
    * `m<12 digits>.bin`) so every offset in the archive is a constant.
    */
  private val SliceLen = 48
  private val NeedBytes = 64
  private val NameLen = 17
  private val LfhLen = 30 + NameLen + SliceLen // 95
  private val CdRecLen = 46 + NameLen // 63

  /** `zip_ingest`: the `.zip` landing format parsed END TO END. Spark
    * BUILDS a genuine two-member STORED archive per document in pure
    * SQL — little-endian local headers, central directory, and EOCD
    * assembled in hex, with each member's REAL CRC-32 computed by
    * Spark's native `crc32` and byte-swapped into the little-endian
    * fields (the gzip-trailer trick from `warc_ingest`) — and parses it
    * back through [[entries]]: EOCD located from the end, central
    * records walked, local signatures checked, and the CRC of every
    * payload RE-verified by `java.util.zip.CRC32` — so the builder's
    * checksum is load-bearing across two independent implementations.
    * Each member emits name, size, and exact payload byte sum; the
    * oracle recomputes all three from the document bytes per member
    * slot, so a framing, offset, endianness, or CRC bug lands as a value
    * mismatch or a missing row.
    */
  // shared SQL hex-assembly pieces for the zip_ingest / zip64_ingest builders
  // 4-byte little-endian hex of a bigint column expression
  private def le4(e: String) =
    s"array_join(transform(sequence(0, 3), i -> lpad(hex(shiftright($e, 8 * i) & 255), 2, '0')), '')"
  private def le2(v: Int) = "%02X%02X".format(v & 0xff, (v >> 8) & 0xff)
  // 8-byte little-endian hex of a nonnegative Long constant
  private def le8(v: Long) =
    (0 until 8).map(i => "%02X".format((v >> (8 * i)) & 0xff)).mkString
  private def nameSql(prefix: String) =
    s"concat('$prefix', lpad(cast(doc_id as string), 12, '0'), '.txt')"
  // header constants: version 2.0, no flags, STORED, fixed DOS time/date
  private val fixedMeta = le2(20) + le2(0) + le2(0) + le2(0) + le2(0x21)
  private def dataHex(off: Int) = s"substring(h, ${off * 2} + 1, ${SliceLen * 2})"
  private def crcOf(off: Int) = s"crc32(unhex(${dataHex(off)}))"
  private def lfh(prefix: String, off: Int) =
    s"concat('504B0304$fixedMeta', ${le4(crcOf(off))}, " +
      s"'${le2(SliceLen) + le2(0) + le2(SliceLen) + le2(0) + le2(NameLen) + le2(0)}', " +
      s"hex(cast(${nameSql(prefix)} as binary)), ${dataHex(off)})"

  private def cdRec(prefix: String, off: Int, lhoOff: Int) =
    s"concat('504B0102${le2(20)}$fixedMeta', ${le4(crcOf(off))}, " +
      s"'${le2(SliceLen) + le2(0) + le2(SliceLen) + le2(0) + le2(NameLen) + le2(0) + le2(0) + le2(0) + le2(0)}00000000', " +
      s"'${"%02X%02X%02X%02X".format(lhoOff & 0xff, (lhoOff >> 8) & 0xff, (lhoOff >> 16) & 0xff, lhoOff >>> 24)}', " +
      s"hex(cast(${nameSql(prefix)} as binary)))"

  /** Hex SQL for the classic two-member STORED archive of a document. */
  private[graft] lazy val classicZipHexSql: String = {
    val cdOff = 2 * LfhLen
    val eocd = "504B0506" + le2(0) + le2(0) + le2(2) + le2(2) +
      "%02X%02X%02X%02X".format((2 * CdRecLen) & 0xff, 0, 0, 0) +
      "%02X%02X%02X%02X".format(cdOff & 0xff, (cdOff >> 8) & 0xff, 0, 0) + le2(0)
    s"concat(${lfh("d", 0)}, ${lfh("m", 16)}, " +
      s"${cdRec("d", 0, 0)}, ${cdRec("m", 16, LfhLen)}, '$eocd')"
  }

  def zipIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val zipHex = classicZipHexSql
    val files = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(expr(zipHex)).as("payload"))
    files.as[(Long, Array[Byte])].flatMap { case (id, bytes) =>
      entries(bytes).zipWithIndex.map { case ((name, payload), i) =>
        var sum = 0L
        payload.foreach(b => sum += (b & 0xff))
        (id, i, name, payload.length, sum)
      }
    }.toDF("doc_id", "entry_no", "name", "size_bytes", "payload_sum")
      .select(col("doc_id"), col("entry_no").cast("int"), col("name"),
        col("size_bytes").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "entry_no")
  }

  /** ZIP64 central record: sentinel csize/usize/lho + a 28-byte
    * extended-information extra field carrying the real 8-byte values.
    */
  private val Cd64RecLen = 46 + NameLen + 28 // 91

  /** `zip64_ingest`: the ZIP64 record set parsed end to end — the
    * dataset-drop size class (>4 GiB archives, >65535 members) whose
    * producers emit a ZIP64 EOCD record + locator and per-entry
    * extended-information extra fields, with the classic EOCD and
    * central-directory slots holding 0xFFFF/0xFFFFFFFF sentinels. Spark
    * BUILDS a genuine ZIP64 archive per document in pure SQL (the
    * `zip_ingest` hex-assembly with every size/offset routed through the
    * sentinel-and-extra indirection: version-needed 4.5, id-0x0001 extra
    * holding 8-byte usize/csize/lho, the fixed-layout EOCD64 + locator,
    * sentinel classic EOCD) and parses it back through [[entries]] — the
    * locator chase, EOCD64 walk, and extra-field override are all
    * load-bearing: a wrong 8-byte field, a missed sentinel, or a
    * misplaced EOCD64 offset breaks the member framing and lands as a
    * value mismatch, a missing row, or a named reject. The spec
    * additionally round-trips the same bytes through `java.util.zip
    * .ZipFile`, the JDK's independent ZIP64 reader. The oracle recomputes
    * each member's name, size, and payload byte sum from the document
    * bytes per member slot, identical in shape to `zip_ingest`.
    */
  /** Hex SQL for the ZIP64 twin of [[classicZipHexSql]] — every size and
    * offset routed through the sentinel-and-extra indirection.
    */
  private[graft] lazy val zip64ZipHexSql: String = {
    val sentinel = "FFFFFFFF"
    def cdRec64(prefix: String, off: Int, lhoOff: Int) =
      s"concat('504B0102${le2(45)}${le2(45) + fixedMeta.drop(4)}', ${le4(crcOf(off))}, " +
        // csize, usize sentinels; nlen 17, elen 28, clen 0, disk 0, iattr 0
        s"'$sentinel$sentinel${le2(NameLen) + le2(28) + le2(0) + le2(0) + le2(0)}00000000', " +
        s"'$sentinel', " + // local-header offset sentinel
        s"hex(cast(${nameSql(prefix)} as binary)), " +
        // ZIP64 extra: id 0x0001, size 24, then usize/csize/lho as 8-byte LE
        s"'${le2(1) + le2(24) + le8(SliceLen) + le8(SliceLen) + le8(lhoOff)}')"
    val cdOff = 2 * LfhLen
    val cdSize = 2 * Cd64RecLen
    val eocd64Off = cdOff + cdSize
    val eocd64 = "504B0606" + le8(44) + le2(45) + le2(45) +
      "00000000" + "00000000" + le8(2) + le8(2) + le8(cdSize) + le8(cdOff)
    val locator = "504B0607" + "00000000" + le8(eocd64Off) + "01000000"
    val eocd = "504B0506" + le2(0) + le2(0) + "FFFF" + "FFFF" +
      sentinel + sentinel + le2(0)
    s"concat(${lfh("d", 0)}, ${lfh("m", 16)}, " +
      s"${cdRec64("d", 0, 0)}, ${cdRec64("m", 16, LfhLen)}, " +
      s"'$eocd64$locator$eocd')"
  }

  def zip64Ingest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val zipHex = zip64ZipHexSql
    val files = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(expr(zipHex)).as("payload"))
    files.as[(Long, Array[Byte])].flatMap { case (id, bytes) =>
      entries(bytes).zipWithIndex.map { case ((name, payload), i) =>
        var sum = 0L
        payload.foreach(b => sum += (b & 0xff))
        (id, i, name, payload.length, sum)
      }
    }.toDF("doc_id", "entry_no", "name", "size_bytes", "payload_sum")
      .select(col("doc_id"), col("entry_no").cast("int"), col("name"),
        col("size_bytes").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "entry_no")
  }

  /** `zip_files_ingest`: the SEEKABLE archive walk pinned end to end
    * through REAL files. Spark builds a parity-mixed bucket — even
    * doc_ids a classic archive, odd a ZIP64 one (same two members either
    * way, so ONE oracle covers both container shapes and the dispatch is
    * decided by id, not content) — lands each as `<doc_id>.zip` through
    * the task-side Hadoop FS (the bucket-write path a cluster job would
    * use), and then ingests the bucket via [[entriesFromFile]]: path
    * listing, tail-window EOCD scan, ZIP64 locator/EOCD64 seeks,
    * central-directory slab read, per-member LFH seek + bounded read +
    * CRC re-verify. The oracle recomputes every member's name, size, and
    * byte sum from document bytes — a listing, seek-offset, tail-window,
    * or locator bug lands as a missing row or a value mismatch. The walk
    * itself is the >4 GiB-archive code path (`binaryFile` cannot carry
    * that size class), exercised here at fixture scale.
    */
  def zipFilesIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_zipfiles")
    // one parity leg per PROJECTION, unioned — a single when/otherwise
    // carrying BOTH archive-hex expression trees overflows whole-stage
    // codegen into interpreted evaluation (measured at the sf1 probe:
    // ~30 s vs ~1 s for the same work as two compiled projections)
    def leg(parity: Int, hexSql: String) = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(expr(hexSql)).as("payload"))
    // the landing write has no shuffle upstream, so without this the whole
    // bucket writes from few scan tasks — conditional (Scratch.fanOut): a
    // production multi-split union already has the write parallelism
    val payloads = graft.Scratch.fanOut(
      leg(0, classicZipHexSql).unionByName(leg(1, zip64ZipHexSql)))
    Streams.land(payloads.as[(Long, Array[Byte])]
      .map { case (id, bytes) => (s"$id.zip", bytes) }, dir)
    Streams.walkDrops(spark, dir, "^([0-9]+)\\.zip$") { (id, fs, path) =>
      // raw local FS: each positioned read on the CHECKSUMMED local FS
      // re-opens and seeks the .crc twin — a local-test artifact (HDFS/
      // object stores serve positioned reads natively) that dominated
      // this fixture's cost; production paths go through docsFromPaths,
      // which uses the path's own filesystem
      val raw = fs match {
        case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
        case other => other
      }
      entriesFromFile(raw, path).zipWithIndex.map { case ((name, payload), i) =>
        var sum = 0L
        payload.foreach(b => sum += (b & 0xff))
        (id, i, name, payload.length, sum)
      }
    }.toDF("doc_id", "entry_no", "name", "size_bytes", "payload_sum")
      .select(col("doc_id"), col("entry_no").cast("int"), col("name"),
        col("size_bytes").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "entry_no")
  }

  private val zipIngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id, CAST(e AS INT) AS entry_no,
               CASE WHEN e = 0 THEN 'd' ELSE 'm' END
                 || lpad(CAST(doc_id AS VARCHAR), 12, '0') || '.txt' AS name,
               CAST($SliceLen AS INT) AS size_bytes,
               CAST(CASE WHEN e = 0
                 THEN list_sum(list_transform(range(0, $SliceLen), i -> ${byte("i")}))
                 ELSE list_sum(list_transform(range(16, 16 + $SliceLen), i -> ${byte("i")}))
               END AS BIGINT) AS payload_sum
        FROM d, (SELECT unnest(range(0, 2)) AS e)
        ORDER BY doc_id, entry_no"""
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zip_ingest" -> (zipIngest _),
    "zip64_ingest" -> (zip64Ingest _),
    "zip_files_ingest" -> (zipFilesIngest _),
  )

  override def oracle: Map[String, String] = Map(
    "zip_ingest" -> zipIngestSql,
    // byte-identical member set by construction: the ZIP64 indirection
    // (and the parity-mixed file bucket) change the container records,
    // not the members
    "zip64_ingest" -> zipIngestSql,
    "zip_files_ingest" -> zipIngestSql,
  )
}
