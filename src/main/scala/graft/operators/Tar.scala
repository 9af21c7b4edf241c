package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.{byte, gzMemberHex, hexOf}

/** TAR archive ingestion — the other container corpora land in (datasets
  * ship as `.tar` / `.tar.gz` bundles of text files at least as often as
  * WARC). The ustar layout is 512-byte header blocks (NUL-padded name,
  * octal size, a header checksum computed with the checksum field blanked
  * to spaces) + NUL-padded data blocks + two zero blocks at the end.
  *
  * [[entries]] is the record walk (header grammar, octal parse, checksum
  * VERIFIED per entry, non-file entries skipped by typeflag); gzip
  * containers compose through [[graft.functions.Gunzip]] exactly like
  * WARC ([[read]] sniffs the magic) — `.tgz` ingestion is the two
  * kernels chained, nothing new. Scale: the walk is map-only per archive
  * like every landing-path parser; a bucket of archives parallelizes at
  * file grain through `binaryFile`.
  */
object Tar extends QueryModule with Container[(String, Array[Byte])] {

  /** Parse the octal number in `[off, off+len)`: digits terminated by
    * NUL/space (leading spaces legal). Rejects loudly on non-octal
    * content — a corrupt size field must not mis-frame the walk.
    */
  private def octal(bytes: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && bytes(i) == ' ') i += 1
    require(i < end && bytes(i) >= '0' && bytes(i) <= '7',
      s"tar: bad octal field at byte $off")
    var v = 0L
    while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
      v = v * 8 + (bytes(i) - '0')
      require(v <= Int.MaxValue, s"tar: octal field at byte $off too large")
      i += 1
    }
    require(i >= end || bytes(i) == 0 || bytes(i) == ' ',
      s"tar: bad octal terminator at byte $off")
    v
  }

  /** Parse the ustar header block at `pos`: name, declared size, typeflag,
    * with the header checksum VERIFIED (the field counts as 8 spaces in
    * its own sum, per spec). Shared by the in-memory and streaming walks
    * so the header grammar exists exactly once. The caller has already
    * ruled out a zero block.
    */
  private def parseHeader(bytes: Array[Byte], pos: Int): (String, Long, Byte) = {
    var e = pos
    while (e < pos + 100 && bytes(e) != 0) e += 1
    val name = new String(bytes, pos, e - pos, "US-ASCII")
    val size = octal(bytes, pos + 124, 12)
    val stored = octal(bytes, pos + 148, 8)
    var sum = 0L
    var i = pos
    while (i < pos + 512) {
      sum += (if (i >= pos + 148 && i < pos + 156) ' '.toInt else bytes(i) & 0xff)
      i += 1
    }
    require(sum == stored, s"tar: header checksum mismatch for '$name' ($sum != $stored)")
    (name, size, bytes(pos + 156))
  }

  /** Every FILE entry (typeflag '0' or NUL) as (name, payload), in archive
    * order. Directories and special entries are skipped by their declared
    * size; every header checksum is verified; the archive must end with
    * the two zero blocks.
    */
  def entries(bytes: Array[Byte]): IndexedSeq[(String, Array[Byte])] = {
    val out = IndexedSeq.newBuilder[(String, Array[Byte])]
    var pos = 0
    def zeroBlock(o: Int): Boolean = {
      var i = o
      while (i < o + 512 && bytes(i) == 0) i += 1
      i == o + 512
    }
    while (true) {
      require(pos + 512 <= bytes.length, "tar: truncated header block")
      if (zeroBlock(pos)) {
        require(pos + 1024 <= bytes.length && zeroBlock(pos + 512),
          "tar: archive must end with two zero blocks")
        return out.result()
      }
      val (name, size, typeflag) = parseHeader(bytes, pos)
      val dataStart = pos + 512
      require(dataStart.toLong + size <= bytes.length, s"tar: truncated data for '$name'")
      if (typeflag == 0 || typeflag == '0')
        out += name -> java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size.toInt)
      pos = dataStart + (((size + 511) / 512) * 512).toInt
    }
    throw new IllegalStateException("unreachable")
  }

  /** The STREAMING walk: entries from an InputStream, one header block and
    * one FILE payload resident at a time — the larger-than-memory path for
    * every physical shape, because gzip and zstd both decompress
    * incrementally (`binaryFile` caps a content column at 2 GiB; a
    * multi-hundred-GiB `.tar.zst` corpus bundle streams through this walk
    * with O(one member) memory). Non-file entries are skipped by reading
    * past their declared size. Same grammar, checksum verification, and
    * two-zero-block tail requirement as [[entries]] (shared
    * [[parseHeader]]).
    */
  def entriesFromStream(in: java.io.InputStream): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val block = new Array[Byte](512)
      private var pending: (String, Array[Byte]) = null
      private var finished = false
      private def readFully(buf: Array[Byte], len: Int): Unit = {
        var got = 0
        while (got < len) {
          val n = in.read(buf, got, len - got)
          require(n > 0, "tar: truncated stream")
          got += n
        }
      }
      private def skipFully(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val r = in.read(block, 0, math.min(512L, left).toInt)
          require(r > 0, "tar: truncated stream")
          left -= r
        }
      }
      private def isZero: Boolean = { var i = 0; while (i < 512 && block(i) == 0) i += 1; i == 512 }
      private def advance(): Unit =
        while (pending == null && !finished) {
          readFully(block, 512)
          if (isZero) {
            readFully(block, 512)
            require(isZero, "tar: archive must end with two zero blocks")
            finished = true
          } else {
            val (name, size, typeflag) = parseHeader(block, 0)
            val padded = ((size + 511) / 512) * 512
            if (typeflag == 0 || typeflag == '0') {
              val data = new Array[Byte](size.toInt)
              readFully(data, size.toInt)
              skipFully(padded - size)
              pending = name -> data
            } else skipFully(padded)
          }
        }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): (String, Array[Byte]) = {
        advance()
        require(pending != null, "tar: iterator exhausted")
        val e = pending; pending = null; e
      }
    }

  /** [[read]]'s streaming twin: sniff the magic from the stream head and
    * wrap with the matching streaming decompressor ([[Streams.sniffed]] —
    * the shared gzip/zstd/lz4 dispatch), then run the streaming walk.
    * Never dispatches on file name.
    */
  def readStream(in: java.io.InputStream): Iterator[(String, Array[Byte])] =
    entriesFromStream(Streams.sniffed(in))

  /** Parse a tar in any physical shape — gzip (any member layout;
    * [[graft.functions.Gunzip]] verifies and concatenates), zstd
    * (`.tar.zst`, the shape modern corpus bundles ship;
    * [[graft.functions.ZstdInflate]] with its multi-frame cat
    * semantics), lz4 (`.tar.lz4`, the fast-decode snapshot shape;
    * [[graft.functions.Lz4Inflate]], same cat semantics), or plain —
    * sniffed by magic, never by name.
    */
  def read(bytes: Array[Byte]): IndexedSeq[(String, Array[Byte])] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
      entries(graft.functions.Gunzip.gunzip(bytes))
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
      (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd)
      entries(graft.functions.ZstdInflate.inflate(bytes))
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x04 && (bytes(1) & 0xff) == 0x22 &&
      (bytes(2) & 0xff) == 0x4d && (bytes(3) & 0xff) == 0x18)
      entries(graft.functions.Lz4Inflate.inflate(bytes))
    else entries(bytes)

  // ---- the front doors: a bucket of `<id>.tar[.gz|.zst|.lz4]` archives ----
  // `.txt` entries become documents (lang `und`, source = entry name); the
  // path door streams larger-than-memory `.tar.zst` corpus bundles through
  // [[readStream]] with O(one member) memory per task.

  protected def label = "tar"
  protected def fileRe = "([0-9]+)\\.tar(\\.gz|\\.zst|\\.lz4)?"
  protected def bytesWalk(bytes: Array[Byte]) = read(bytes).iterator
  protected def pathWalk(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path) =
    Streams.streamWalk(fs, path)(readStream)
  protected def doc(file: String, slot: Int, e: (String, Array[Byte])) =
    if (e._1.endsWith(".txt")) Some((utf8(e._2), "und", e._1)) else None

  /** Payload slice geometry for the fixture: two 48-byte file entries per
    * document (text bytes [0,48) and [16,64)).
    */
  private val SliceLen = 48
  private val NeedBytes = 64

  /** Hex of a constant header region, and its byte sum (for the Scala-side
    * checksum constant).
    */
  private def fixed(s: String): (String, Long) =
    (hexOf(s), s.getBytes("US-ASCII").map(_ & 0xffL).sum)

  /** `tar_ingest`: the tarball landing format parsed END TO END. Spark
    * BUILDS a genuine two-entry ustar archive per document in pure SQL —
    * NUL-padded names from doc_id, octal size fields, and the REAL header
    * checksum assembled arithmetically (constant region sum precomputed
    * in Scala + the name's byte sum folded per row, rendered as octal
    * ASCII — the Adler/CRC trick's tar sibling) — and parses it back
    * through [[entries]]: checksum verified, octal fields parsed, data
    * offsets walked, zero-block tail required. Each entry emits its name,
    * size, and exact payload byte sum; the oracle recomputes all three
    * from the document bytes per entry slot, so a framing, checksum, or
    * offset bug lands as a value mismatch or a missing row.
    */
  /** Hex SQL for one document's two ustar entries (NO tail — groupable). */
  private lazy val tarPairHexSql: String = {
    // constant header tail after the name field (offsets 100..512), with
    // the checksum field blanked — its real bytes are spliced per row
    val mode = fixed("0000644\u0000")
    val uid = fixed("0000000\u0000")
    val gid = fixed("0000000\u0000")
    val sizeF = fixed("0000000006" + (SliceLen % 8) + " ") // 48 = octal 60
    val mtime = fixed("00000000000 ")
    val typeflag = fixed("0")
    val magic = fixed("ustar\u000000")
    val devs = fixed("0000000\u00000000000\u0000")
    // chksum field itself counts as 8 spaces in the sum
    val constSum = Seq(mode, uid, gid, sizeF, mtime, typeflag, magic, devs)
      .map(_._2).sum + 8 * 32
    val preChksumHex = mode._1 + uid._1 + gid._1 + sizeF._1 + mtime._1
    // after chksum: typeflag, linkname(100 NUL), magic+version, uname(32),
    // gname(32), devmajor+devminor, prefix(155) + pad(12) all NUL
    val postChksumHex = typeflag._1 + "00" * 100 + magic._1 + "00" * 64 +
      devs._1 + "00" * 167
    def entry(nameSql: String, sliceOff: Int) = {
      val nameHex = s"rpad(hex(cast($nameSql as binary)), 200, '0')"
      val nameSum = s"aggregate(sequence(1, length($nameSql)), 0L, (a, i) -> a + ascii(substring($nameSql, i, 1)))"
      val chk = s"($constSum + $nameSum)"
      val oct = s"lpad(conv($chk, 10, 8), 6, '0')"
      val chkHex = s"concat(array_join(transform(sequence(1, 6), i -> concat('3', substring($oct, i, 1))), ''), '0020')"
      val dataHex = s"substring(h, ${sliceOff * 2} + 1, ${SliceLen * 2})"
      s"concat($nameHex, '$preChksumHex', $chkHex, '$postChksumHex', $dataHex, '${"00" * (512 - SliceLen)}')"
    }
    val e1 = entry("concat('doc', doc_id, '.txt')", 0)
    val e2 = entry("concat('meta', doc_id, '.bin')", 16)
    s"concat($e1, $e2)"
  }

  /** [[tarPairHexSql]] + the two-zero-block tail: one complete archive. */
  private lazy val tarHexSql: String =
    s"concat($tarPairHexSql, '${"00" * 1024}')"

  def tarIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tarHex = tarHexSql
    val files = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), unhex(expr(tarHex)).as("payload"))
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

  /** Constant gzip member holding the 1024-byte two-zero-block tail. */
  private lazy val gzTailHex: String = {
    val zeros = new Array[Byte](1024)
    val crc = new java.util.zip.CRC32(); crc.update(zeros)
    val v = crc.getValue
    val crcLe = "%02X%02X%02X%02X".format(
      v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    // stored block: BFINAL|stored, LEN=1024 LE (00 04), NLEN=~1024 LE (FF FB)
    "1F8B0800000000000003" + "010004FFFB" + "00" * 1024 + crcLe + "00040000"
  }

  /** Documents per fixture archive: realistic multi-member bundles AND two
    * orders of magnitude fewer file creations than one-archive-per-doc
    * (the r12 first cut wrote ~10k tiny files per run and spent ~50 s in
    * local-FS overhead per query).
    */
  private val DocsPerArchive = 64

  /** `tar_files_ingest`: the STREAMING walk pinned end to end through
    * REAL files, at the realistic grain — each landed archive bundles
    * [[DocsPerArchive]] documents' entry pairs (identity travels in the
    * ENTRY NAMES, `doc<id>.txt` / `meta<id>.bin`, the way real bundles
    * carry it), grouped by parity so even-group files are plain `.tar`
    * and odd-group files are `.tar.gz` whose gzip stream is one
    * stored-deflate member PER DOCUMENT plus a constant tail member —
    * real multi-member gzip the streaming `GZIPInputStream` leg must
    * concatenate (every member CRC verified). Landed through the
    * task-side Hadoop FS, listed, and re-ingested by path via
    * [[readStream]]; the oracle recomputes every entry's name, size, and
    * byte sum from document bytes — a grouping, member-boundary,
    * streaming-inflate, or name-attribution bug lands as a missing row
    * or a value mismatch.
    */
  def tarFilesIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_tarfiles")
    val pairLen = 2 * 1024 // two (header + one data block) entries
    // one parity leg per PROJECTION, unioned — a single when/otherwise
    // carrying both archive-hex trees overflows whole-stage codegen into
    // interpreted evaluation (see the zip fixture's measured 30x)
    def leg(parity: Int, hexSql: String) = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), (col("doc_id") % 2).as("p"),
        expr(s"doc_id div ${2 * DocsPerArchive}").as("g"),
        expr(hexSql).as("ph"))
    val grouped = leg(0, tarPairHexSql)
      .unionByName(leg(1, gzMemberHex(tarPairHexSql, pairLen)))
      .groupBy("p", "g")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(doc_id, ph))), x -> x.ph), '')")
        .as("body"))
      .select(concat((col("g") * 2 + col("p")).cast("string"),
          when(col("p") === 0, lit(".tar")).otherwise(lit(".tar.gz"))).as("name"),
        unhex(concat(col("body"),
          when(col("p") === 0, lit("00" * 1024)).otherwise(lit(gzTailHex)))).as("payload"))
    Streams.land(grouped.as[(String, Array[Byte])], dir)
    val nameRe = "^(doc|meta)([0-9]+)\\.(txt|bin)$".r
    Streams.walkDrops(spark, dir, "^([0-9]+)\\.tar(\\.gz)?$") { (_, fs, path) =>
      Streams.streamWalk(fs, path)(readStream).map { case (name, payload) =>
        val m = nameRe.findFirstMatchIn(name).getOrElse(
          throw new IllegalArgumentException(s"tar fixture: unattributable entry '$name'"))
        var sum = 0L
        payload.foreach(b => sum += (b & 0xff))
        (m.group(2).toLong, if (m.group(1) == "doc") 0 else 1,
          name, payload.length, sum)
      }
    }.toDF("doc_id", "entry_no", "name", "size_bytes", "payload_sum")
      .select(col("doc_id"), col("entry_no").cast("int"), col("name"),
        col("size_bytes").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "entry_no")
  }

  private val tarIngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id, CAST(e AS INT) AS entry_no,
               CASE WHEN e = 0 THEN 'doc' || doc_id || '.txt'
                    ELSE 'meta' || doc_id || '.bin' END AS name,
               CAST($SliceLen AS INT) AS size_bytes,
               CAST(CASE WHEN e = 0
                 THEN list_sum(list_transform(range(0, $SliceLen), i -> ${byte("i")}))
                 ELSE list_sum(list_transform(range(16, 16 + $SliceLen), i -> ${byte("i")}))
               END AS BIGINT) AS payload_sum
        FROM d, (SELECT unnest(range(0, 2)) AS e)
        ORDER BY doc_id, entry_no"""
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tar_ingest" -> (tarIngest _),
    "tar_files_ingest" -> (tarFilesIngest _),
  )

  override def oracle: Map[String, String] = Map(
    "tar_ingest" -> tarIngestSql,
    // byte-identical entry set by construction: the gzip wrap changes the
    // physical container, not the entries
    "tar_files_ingest" -> tarIngestSql,
  )
}
