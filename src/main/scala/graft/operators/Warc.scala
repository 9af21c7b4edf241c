package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.{byte, gzMemberHex, hexOf}

/** One parsed WARC record: ordered header fields + raw payload. */
final case class WarcRecord(headers: Map[String, String], payload: Array[Byte])

/** WARC ingestion — the container web-crawl training corpora actually
  * arrive in (Common Crawl publishes WARC/WET/WAT; every record is a
  * `WARC/1.0` header block + `Content-Length` bytes of payload, and the
  * production files gzip each record as its OWN member so readers can
  * split mid-file). Two surfaces:
  *
  *   - [[graft.functions.Gunzip]]: the native `gunzip(binary)` expression
  *     (full RFC 1952: FLG extras, per-member CRC-32 + ISIZE verification,
  *     multi-member cat semantics) keeps decompression inside whole-stage
  *     codegen on the scan path;
  *   - [[records]]: the record walk over the decompressed stream —
  *     byte-level parsing with no Expression form, so it runs in the
  *     typed batched `mapPartitions` contract like the media decoders.
  *
  * Scale: both queries are map-only until their final sort — each file's
  * decompression and record walk happen where the bytes are read; nothing
  * shuffles but the result rows. Record-per-member gzip is WHY the format
  * scales: a 100 TB crawl splits at member boundaries with no coordination.
  */
object Warc extends QueryModule with Container[WarcRecord] {

  /** Parse every record in a (decompressed) WARC stream: `WARC/1.0` CRLF,
    * `Name: value` header lines to a blank line, `Content-Length` payload
    * bytes, then the spec's two-CRLF record separator. Malformed framing
    * rejects loudly — a truncated crawl file must not half-parse.
    */
  def records(bytes: Array[Byte]): IndexedSeq[WarcRecord] = {
    val out = IndexedSeq.newBuilder[WarcRecord]
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < bytes.length && !(bytes(pos) == '\r' && bytes(pos + 1) == '\n'))
        pos += 1
      require(pos + 1 < bytes.length, s"WARC: unterminated header line at byte $start")
      val s = new String(bytes, start, pos - start, "US-ASCII")
      pos += 2
      s
    }
    while (pos < bytes.length) {
      val version = line()
      require(version.startsWith("WARC/"), s"WARC: expected version line, got '$version'")
      var headers = Map.empty[String, String]
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        require(i > 0, s"WARC: malformed header line '$h'")
        headers += (h.substring(0, i).trim -> h.substring(i + 1).trim)
        h = line()
      }
      val lenStr = headers.getOrElse("Content-Length",
        throw new IllegalArgumentException("WARC: record without Content-Length"))
      val lenL =
        try lenStr.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"WARC: non-numeric Content-Length '$lenStr'")
        }
      // Long arithmetic: a hostile declared length near Int.MaxValue must hit
      // THIS named reject, not wrap negative and escape to copyOfRange.
      require(lenL >= 0 && pos.toLong + lenL + 4 <= bytes.length, s"WARC: truncated record payload")
      val len = lenL.toInt
      out += WarcRecord(headers, java.util.Arrays.copyOfRange(bytes, pos, pos + len))
      pos += len
      require(bytes(pos) == '\r' && bytes(pos + 1) == '\n' &&
        bytes(pos + 2) == '\r' && bytes(pos + 3) == '\n',
        "WARC: record not followed by the two-CRLF separator")
      pos += 4
    }
    out.result()
  }

  /** Parse a WARC file in EITHER physical shape: gzip (per-record members
    * or one stream — [[graft.functions.Gunzip]] concatenates members, and
    * `Content-Length` framing makes the record walk identical) or plain.
    */
  def read(bytes: Array[Byte]): IndexedSeq[WarcRecord] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
      records(graft.functions.Gunzip.gunzip(bytes))
    else records(bytes)

  /** The STREAMING record walk: one record's headers and payload resident
    * at a time — the larger-than-memory path (a full Common Crawl segment
    * is ~1 GiB gzipped / several GiB raw, and `binaryFile` both caps at
    * 2 GiB and materializes the whole file). Same grammar and framing
    * requirements as [[records]]; header lines are additionally capped at
    * 1 MiB so hostile unterminated input rejects instead of buffering
    * without bound.
    */
  def recordsFromStream(in: java.io.InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private val pb = new java.io.PushbackInputStream(
        new java.io.BufferedInputStream(in, 64 * 1024), 1)
      private var pending: WarcRecord = null
      private var finished = false
      private def readFully(buf: Array[Byte], len: Int): Unit = {
        var got = 0
        while (got < len) {
          val n = pb.read(buf, got, len - got)
          require(n > 0, "WARC: truncated stream")
          got += n
        }
      }
      private def line(): String = {
        val b = new java.io.ByteArrayOutputStream(128)
        var prev = -1
        var c = pb.read()
        while (c >= 0 && !(prev == '\r' && c == '\n')) {
          require(b.size < (1 << 20), "WARC: unterminated header line")
          b.write(c)
          prev = c
          c = pb.read()
        }
        require(c >= 0, "WARC: unterminated header line")
        val a = b.toByteArray
        new String(a, 0, a.length - 1, "US-ASCII") // drop the buffered '\r'
      }
      private def advance(): Unit = {
        if (pending == null && !finished) {
          val head = pb.read()
          if (head < 0) finished = true
          else {
            pb.unread(head)
            val version = line()
            require(version.startsWith("WARC/"),
              s"WARC: expected version line, got '$version'")
            var headers = Map.empty[String, String]
            var h = line()
            while (h.nonEmpty) {
              val i = h.indexOf(':')
              require(i > 0, s"WARC: malformed header line '$h'")
              headers += (h.substring(0, i).trim -> h.substring(i + 1).trim)
              h = line()
            }
            val lenStr = headers.getOrElse("Content-Length",
              throw new IllegalArgumentException("WARC: record without Content-Length"))
            val lenL =
              try lenStr.toLong
              catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(s"WARC: non-numeric Content-Length '$lenStr'")
              }
            // one record must still fit a byte array — the per-record
            // bound; the FILE-level bound is what this walk lifts
            require(lenL >= 0 && lenL <= Int.MaxValue - 8,
              s"WARC: Content-Length $lenL exceeds the in-memory record bound")
            val payload = new Array[Byte](lenL.toInt)
            readFully(payload, payload.length)
            val sep = new Array[Byte](4)
            readFully(sep, 4)
            require(sep(0) == '\r' && sep(1) == '\n' && sep(2) == '\r' && sep(3) == '\n',
              "WARC: record not followed by the two-CRLF separator")
            pending = WarcRecord(headers, payload)
          }
        }
      }
      def hasNext: Boolean = { advance(); pending != null }
      def next(): WarcRecord = {
        advance()
        require(pending != null, "WARC: iterator exhausted")
        val r = pending; pending = null; r
      }
    }

  /** [[read]]'s streaming twin: sniff the gzip magic and wrap
    * `GZIPInputStream` (multi-member concat — exactly the per-record-
    * member crawl shape — with per-member CRCs verified by the JDK),
    * else walk the plain stream.
    */
  def readStreamRecords(in: java.io.InputStream): Iterator[WarcRecord] = {
    val pb = new java.io.PushbackInputStream(in, 2)
    val head = new Array[Byte](2)
    var got = 0
    var n = 0
    while (got < 2 && n >= 0) {
      n = pb.read(head, got, 2 - got)
      if (n > 0) got += n
    }
    pb.unread(head, 0, got)
    require(got == 2, "WARC: stream shorter than any magic")
    if ((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
      recordsFromStream(new java.util.zip.GZIPInputStream(pb, 64 * 1024))
    else recordsFromStream(pb)
  }

  /** warcinfo payload: document bytes [0, 16); response: [16, 112). */
  private val InfoLen = 16
  private val RespLen = 96
  private val NeedBytes = InfoLen + RespLen

  private val InfoHdr =
    s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:1>\r\nContent-Length: $InfoLen\r\n\r\n"
  private val RespHdr =
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://example.com/doc\r\nContent-Length: $RespLen\r\n\r\n"

  /** Hex expression for one complete record (header + payload slice of the
    * document + the two-CRLF separator). `from` is a 0-based byte offset
    * into the document text.
    */
  private def recordHex(hdr: String, from: Int, len: Int): String =
    s"concat('${hexOf(hdr)}', substring(h, ${from * 2} + 1, ${len * 2}), '0D0A0D0A')"

  /** `warc_ingest`: the web-crawl landing format, parsed END TO END. Spark
    * BUILDS a genuine two-record WARC file per document (a `warcinfo`
    * record then a `response` record, payloads sliced from the document
    * bytes) — PLAIN for even doc_ids, GZIP-PER-RECORD (two stored-deflate
    * members with real CRC-32/ISIZE trailers, the Common Crawl physical
    * shape) for odd — and parses it back: the gzip side inflates through
    * [[graft.functions.Gunzip]] (member CRCs verified), the record walk
    * checks version lines, header grammar, Content-Length framing, and
    * the two-CRLF separators for real. Each record emits its parsed type,
    * declared length, and exact payload byte sum; the oracle recomputes
    * all three from the document bytes per record slot — so a framing,
    * member-boundary, or payload-offset bug lands as a value mismatch,
    * and a bad checksum rejects the file into a missing row.
    */
  /** SQL for the fixture file, both physical shapes. */
  private lazy val (plainWarcSql, gzWarcSql) = {
    val r1 = recordHex(InfoHdr, 0, InfoLen)
    val r2 = recordHex(RespHdr, InfoLen, RespLen)
    val r1n = InfoHdr.length + InfoLen + 4
    val r2n = RespHdr.length + RespLen + 4
    (s"unhex(concat($r1, $r2))",
      s"unhex(concat(${gzMemberHex(r1, r1n)}, ${gzMemberHex(r2, r2n)}))")
  }

  def warcIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val plain = plainWarcSql
    val gz = gzWarcSql
    val files = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, expr(plain)).otherwise(expr(gz)).as("payload"))
    files.as[(Long, Array[Byte])].flatMap { case (id, bytes) =>
      read(bytes).zipWithIndex.map { case (r, i) =>
        var sum = 0L
        r.payload.foreach(b => sum += (b & 0xff))
        (id, i, r.headers("WARC-Type"), r.payload.length, sum)
      }
    }.toDF("doc_id", "record_no", "warc_type", "content_length", "payload_sum")
      .select(col("doc_id"), col("record_no").cast("int"), col("warc_type"),
        col("content_length").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "record_no")
  }

  private val warcIngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id, CAST(r AS INT) AS record_no,
               CASE WHEN r = 0 THEN 'warcinfo' ELSE 'response' END AS warc_type,
               CAST(CASE WHEN r = 0 THEN $InfoLen ELSE $RespLen END AS INT) AS content_length,
               CAST(CASE WHEN r = 0
                 THEN list_sum(list_transform(range(0, $InfoLen), i -> ${byte("i")}))
                 ELSE list_sum(list_transform(range($InfoLen, $NeedBytes), i -> ${byte("i")}))
               END AS BIGINT) AS payload_sum
        FROM d, (SELECT unnest(range(0, 2)) AS r)
        ORDER BY doc_id, record_no"""
  }

  /** Longest text prefix a single stored deflate block can carry. The cap
    * is CHARACTERS (sliced identically by Spark and DuckDB `substring`),
    * then encoded to UTF-8 — worst case 4·4000 = 16000 bytes, still under
    * the 65535-byte stored-block limit. Slicing bytes instead would split
    * multi-byte sequences and the two engines would hash different data.
    */
  private val GzCap = 4000

  /** `docs_gunzip_roundtrip`: the native `gunzip` expression INSIDE the
    * plan, integrity-pinned. Spark gzips each document's first [[GzCap]]
    * bytes in pure SQL (stored-block framing; LEN/~LEN, CRC-32, ISIZE all
    * computed per row since the length varies), pipes the archive through
    * `gunzip(...)` in the SAME projection — whole-stage codegen, no typed
    * boundary — and emits the md5 of the decompressed bytes plus their
    * length. The oracle md5s the text slice directly, so a header,
    * inflate, or trailer bug surfaces as a digest mismatch (and a wrong
    * CRC computed by the builder makes `gunzip` itself reject the row).
    */
  def gunzipRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= 1)
      .withColumn("sliced", expr(s"substring(text, 1, $GzCap)"))
      .withColumn("n", octet_length(col("sliced")))
      .withColumn("rawHex", expr("hex(cast(sliced as binary))"))
      .withColumn("lenLe", expr(
        "concat(substring(lpad(hex(n), 4, '0'), 3, 2), substring(lpad(hex(n), 4, '0'), 1, 2))"))
      .withColumn("nlenLe", expr(
        "concat(substring(lpad(hex(65535 - n), 4, '0'), 3, 2), substring(lpad(hex(65535 - n), 4, '0'), 1, 2))"))
      .withColumn("crcBe", expr("lpad(hex(crc32(unhex(rawHex))), 8, '0')"))
      .withColumn("crcLe", expr(
        "concat(substring(crcBe, 7, 2), substring(crcBe, 5, 2), substring(crcBe, 3, 2), substring(crcBe, 1, 2))"))
      .withColumn("isizeLe", expr(
        "concat(substring(lpad(hex(n), 8, '0'), 7, 2), substring(lpad(hex(n), 8, '0'), 5, 2), " +
          "substring(lpad(hex(n), 8, '0'), 3, 2), substring(lpad(hex(n), 8, '0'), 1, 2))"))
      .withColumn("gz", expr(
        "unhex(concat('1F8B0800000000000003', '01', lenLe, nlenLe, rawHex, crcLe, isizeLe))"))
      .select(col("doc_id"),
        expr("md5(gunzip(gz))").as("digest"),
        col("n").cast("bigint").as("n_bytes"))
      .orderBy("doc_id")

  private val gunzipRoundtripSql =
    s"""SELECT doc_id, md5(substring(text, 1, $GzCap)) AS digest,
               CAST(octet_length(encode(substring(text, 1, $GzCap))) AS BIGINT) AS n_bytes
        FROM documents WHERE octet_length(encode(text)) >= 1
        ORDER BY doc_id"""

  // ---- the front doors: a crawl bucket of `<id>.warc[.gz]` files ----
  // `response` records become documents: lang from the crawl's own
  // `WARC-Identified-Content-Language` header (the field Common Crawl
  // emits) else `und`, source from `WARC-Target-URI`. The streaming door
  // feeds [[graft.streaming.CorpusIngest.start]] — crawl bucket → records
  // → QC → contamination → dedup probe → trainer chunks, exactly-once
  // (WarcSpec pins the stream-equals-batch convergence); the path door
  // streams full-size Common Crawl segments through [[readStreamRecords]]
  // (per-record gzip members inflate incrementally) with O(one record)
  // memory per task.

  protected def label = "WARC"
  protected def fileRe = "([0-9]+)\\.warc(\\.gz)?"
  protected def bytesWalk(bytes: Array[Byte]) = read(bytes).iterator
  protected def pathWalk(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path) =
    Streams.streamWalk(fs, path)(readStreamRecords)
  protected def doc(file: String, slot: Int, r: WarcRecord) =
    if (!r.headers.get("WARC-Type").contains("response")) None
    else Some((utf8(r.payload),
      r.headers.getOrElse("WARC-Identified-Content-Language", "und"),
      r.headers.getOrElse("WARC-Target-URI", "unknown")))

  /** `warc_files_ingest`: the STREAMING record walk pinned end to end
    * through REAL landed crawl files, at the realistic grain — each
    * landed file bundles [[DocsPerFile]] documents' record pairs
    * (identity travels in a `WARC-Record-ID: <urn:graft:%012d>` header,
    * the way real crawls attribute records — zero-padded so every record
    * length stays constant and the gzip framing stays compile-time).
    * Files group by parity: even-group files are PLAIN multi-record
    * `.warc`, odd-group files are `.warc.gz` with one stored-deflate
    * member PER RECORD (real CRC-32/ISIZE — the Common Crawl physical
    * shape, concatenated incrementally by the streaming
    * `GZIPInputStream`). Landed through the task-side Hadoop FS and
    * re-ingested by path via [[readStreamRecords]]; the oracle recomputes
    * every record's type, length, and byte sum from document bytes — a
    * grouping, member-boundary, attribution, or framing bug lands as a
    * missing row or a value mismatch.
    */
  private val DocsPerFile = 64

  private val IdTag = "<urn:graft:"

  def warcFilesIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_warcfiles")
    val idHex = "hex(cast(lpad(cast(doc_id as string), 12, '0') as binary))"
    def recId(typeAndExtra: String, len: Int, from: Int): (String, Int) = {
      val hdrA = s"WARC/1.0\r\n$typeAndExtra" + s"WARC-Record-ID: $IdTag"
      val hdrB = s">\r\nContent-Length: $len\r\n\r\n"
      val hex = s"concat('${hexOf(hdrA)}', $idHex, '${hexOf(hdrB)}', " +
        s"substring(h, ${from * 2} + 1, ${len * 2}), '0D0A0D0A')"
      (hex, hdrA.length + 12 + hdrB.length + len + 4)
    }
    val (r1, n1) = recId("WARC-Type: warcinfo\r\n", InfoLen, 0)
    val (r2, n2) = recId(
      "WARC-Type: response\r\nWARC-Target-URI: http://example.com/doc\r\n",
      RespLen, InfoLen)
    val pairPlain = s"concat($r1, $r2)"
    val pairGz = s"concat(${gzMemberHex(r1, n1)}, ${gzMemberHex(r2, n2)})"
    // one parity leg per PROJECTION, unioned — a single when/otherwise
    // carrying both record-hex trees overflows whole-stage codegen into
    // interpreted evaluation (see the zip fixture's measured 30x)
    def leg(parity: Int, hexSql: String) = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 2 === parity)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"), (col("doc_id") % 2).as("p"),
        expr(s"doc_id div ${2 * DocsPerFile}").as("g"),
        expr(hexSql).as("ph"))
    Streams.land(leg(0, pairPlain).unionByName(leg(1, pairGz))
      .groupBy("p", "g")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(doc_id, ph))), x -> x.ph), '')")
        .as("body"))
      .select(concat((col("g") * 2 + col("p")).cast("string"),
          when(col("p") === 0, lit(".warc")).otherwise(lit(".warc.gz"))).as("name"),
        unhex(col("body")).as("payload"))
      .as[(String, Array[Byte])], dir)
    val idRe = java.util.regex.Pattern.quote(IdTag) + "([0-9]+)>"
    val idR = idRe.r
    Streams.walkDrops(spark, dir, "^([0-9]+)\\.warc(\\.gz)?$") { (_, fs, path) =>
      Streams.streamWalk(fs, path)(readStreamRecords).map { r =>
        val id = r.headers.get("WARC-Record-ID")
          .flatMap(v => idR.findFirstMatchIn(v).map(_.group(1).toLong))
          .getOrElse(throw new IllegalArgumentException(
            s"warc fixture: unattributable record ${r.headers}"))
        var sum = 0L
        r.payload.foreach(b => sum += (b & 0xff))
        (id, if (r.headers("WARC-Type") == "warcinfo") 0 else 1,
          r.headers("WARC-Type"), r.payload.length, sum)
      }
    }.toDF("doc_id", "record_no", "warc_type", "content_length", "payload_sum")
      .select(col("doc_id"), col("record_no").cast("int"), col("warc_type"),
        col("content_length").cast("int"), col("payload_sum"))
      .orderBy("doc_id", "record_no")
  }

  /** One parsed HTTP response from a WARC `response` record's payload. */
  final case class HttpResponse(status: Int, headers: Map[String, String],
      body: Array[Byte])

  /** Split a WARC `response` payload into its HTTP status line, headers,
    * and body — what a crawl record actually contains (the WET-generation
    * step sits between the record walk and every text operator). Same
    * CRLF line grammar as the record walk; the body is the remainder of
    * the payload (the WARC Content-Length frames it — HTTP
    * Content-Length/chunking never re-frames inside a record).
    */
  def httpSplit(payload: Array[Byte]): HttpResponse = {
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < payload.length && !(payload(pos) == '\r' && payload(pos + 1) == '\n'))
        pos += 1
      require(pos + 1 < payload.length, s"http: unterminated header line at byte $start")
      val s = new String(payload, start, pos - start, "US-ASCII")
      pos += 2
      s
    }
    val status = line()
    require(status.startsWith("HTTP/"), s"http: bad status line '$status'")
    val parts = status.split(" ", 3)
    require(parts.length >= 2, s"http: bad status line '$status'")
    val code =
      try parts(1).toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"http: non-numeric status in '$status'")
      }
    var headers = Map.empty[String, String]
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"http: malformed header line '$h'")
      headers += (h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim)
      h = line()
    }
    HttpResponse(code, headers,
      java.util.Arrays.copyOfRange(payload, pos, payload.length))
  }

  /** The declared charset of an HTTP response, lowercased; UTF-8 when the
    * Content-Type names none (the HTML5 default).
    */
  def httpCharset(headers: Map[String, String]): String =
    headers.get("content-type")
      .flatMap(ct => "charset=([A-Za-z0-9_\\-]+)".r.findFirstMatchIn(ct).map(_.group(1)))
      .getOrElse("utf-8").toLowerCase

  private val HttpBodyLen = 96
  private val HttpBodyFrom = 16

  private def httpHdr(charset: String): String =
    s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=$charset\r\nServer: graft\r\n\r\n"

  /** `warc_http_extract`: what sits INSIDE a crawl's `response` records —
    * a full HTTP response — split and charset-decoded for real. Spark
    * builds a genuine single-record WARC file per document whose payload
    * is a real HTTP response: status line, Content-Type with an explicit
    * charset, and a 96-byte body sliced from the document's bytes, masked
    * per parity into the declared charset's domain (even doc_ids
    * `(b & 0x7f) | 1` → US-ASCII; odd `b | 1` → ISO-8859-1 with the high
    * half live — the OR keeps NUL out of both engines' string domains).
    * The walk parses the WARC record, splits the HTTP response
    * ([[httpSplit]]), dispatches the charset FROM THE HEADER
    * ([[httpCharset]]), and decodes the body; the oracle recomputes the
    * decoded text's md5 byte-for-byte in SQL (ISO-8859-1 decode is
    * `chr(b)` per byte — one codepoint per byte — and DuckDB's `md5`
    * hashes the UTF-8 re-encoding, exactly what Spark's
    * `md5(cast(text as binary))` hashes). A split, charset-dispatch, or
    * decode bug lands as a digest mismatch; malformed framing rejects
    * into a missing row. The web is not UTF-8 — this is the leg that
    * keeps non-UTF-8 corpora honest.
    */
  def warcHttpExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def bodyHex(mask: String) =
      s"""array_join(transform(sequence(0, ${HttpBodyLen - 1}), i ->
            lpad(hex($mask), 2, '0')), '')"""
    val byteAt =
      s"cast(conv(substring(h, ($HttpBodyFrom + i) * 2 + 1, 2), 16, 10) as int)"
    def fileHex(charset: String, mask: String) = {
      val hdr = httpHdr(charset)
      val contentLen = hdr.length + HttpBodyLen
      val warcHdr = "WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/doc\r\nContent-Length: $contentLen\r\n\r\n"
      s"concat('${hexOf(warcHdr)}', '${hexOf(hdr)}', ${bodyHex(mask)}, '0D0A0D0A')"
    }
    val even = fileHex("US-ASCII", s"(($byteAt & 127) | 1)")
    val odd = fileHex("ISO-8859-1", s"($byteAt | 1)")
    val files = Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= HttpBodyFrom + HttpBodyLen)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .select(col("doc_id"),
        unhex(when(col("doc_id") % 2 === 0, expr(even)).otherwise(expr(odd)))
          .as("payload"))
    files.as[(Long, Array[Byte])].flatMap { case (id, bytes) =>
      records(bytes).collect {
        case r if r.headers.get("WARC-Type").contains("response") =>
          val http = httpSplit(r.payload)
          val cs = httpCharset(http.headers)
          val text = new String(http.body, java.nio.charset.Charset.forName(cs))
          (id, http.status, cs, text,
            text.codePointCount(0, text.length).toLong)
      }
    }.toDF("doc_id", "status", "charset", "text", "n_chars")
      .select(col("doc_id"), col("status"), col("charset"),
        expr("md5(cast(text as binary))").as("text_md5"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val warcHttpExtractSql = {
    val byteAt = s"CAST('0x' || substring(h, ($HttpBodyFrom + i) * 2 + 1, 2) AS INT)"
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents
          WHERE octet_length(encode(text)) >= ${HttpBodyFrom + HttpBodyLen}
        )
        SELECT doc_id, CAST(200 AS INT) AS status,
               CASE WHEN doc_id % 2 = 0 THEN 'us-ascii' ELSE 'iso-8859-1' END AS charset,
               md5(list_aggregate(list_transform(range(0, $HttpBodyLen), i ->
                 chr(CASE WHEN doc_id % 2 = 0 THEN ($byteAt & 127) | 1
                          ELSE $byteAt | 1 END)), 'string_agg', '')) AS text_md5,
               CAST($HttpBodyLen AS BIGINT) AS n_chars
        FROM d ORDER BY doc_id"""
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "warc_ingest" -> (warcIngest _),
    "warc_files_ingest" -> (warcFilesIngest _),
    "warc_http_extract" -> (warcHttpExtract _),
    "docs_gunzip_roundtrip" -> (gunzipRoundtrip _),
  )

  override def oracle: Map[String, String] = Map(
    "warc_ingest" -> warcIngestSql,
    // byte-identical record set by construction: the physical shape is
    // decided by doc_id parity in both rows
    "warc_files_ingest" -> warcIngestSql,
    "warc_http_extract" -> warcHttpExtractSql,
    "docs_gunzip_roundtrip" -> gunzipRoundtripSql,
  )
}
