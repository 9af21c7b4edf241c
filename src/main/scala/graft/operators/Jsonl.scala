package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{QueryModule, Tables}
import graft.FixtureHex.{byte, gzMemberHex, hexOf}

/** Compressed-JSONL corpus ingestion — `.jsonl[.gz|.zst|.lz4]` is the
  * single most common LLM training-data drop format (C4/Dolma/RedPajama
  * releases all ship one JSON object per line, compressed per file), and
  * the uncompressed shape is exactly the reference's S2 JSON-lines scan
  * (`q3_json_processing.py:25-29`, `multiLine=False`). This front door
  * composes the landed codec kernels ([[graft.functions.Gunzip]],
  * [[graft.functions.ZstdInflate]], [[graft.functions.Lz4Inflate]]) with
  * per-line `from_json` against the declared [[LineSchema]] — the whole
  * batch path is ONE declarative plan (binaryFile scan → inflate →
  * split → posexplode → from_json), no typed boundary, codegen end to
  * end — plus the streaming line walk for larger-than-memory files
  * (`binaryFile` caps content at 2 GiB; a multi-GiB `.jsonl.zst` drop
  * streams through [[docsFromPaths]] with O(one line) memory).
  *
  * Parse discipline matches the other front doors' loud-reject contract:
  * malformed JSON lines throw (`from_json` FAILFAST / Jackson), a line
  * without a `text` field throws, doc_id slot-space overflow throws —
  * never a silent drop.
  */
object Jsonl extends QueryModule with Container[String] {

  /** The declared per-line schema of a JSONL data drop: the document
    * text plus the metadata fields every release carries in some form.
    * Extra fields in the data are ignored by `from_json`; only `text`
    * is required.
    */
  val LineSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("url", StringType)))

  /** Extension-dispatched inflate — the same fragment [[docsFromFiles]]
    * and `jsonl_ingest` route through, so the parity query pins the
    * production dispatch. `ext` is '' | '.gz' | '.zst' | '.lz4'.
    */
  private val inflateByExt =
    """CASE WHEN ext = '.gz'  THEN gunzip(content)
            WHEN ext = '.zst' THEN zstd_inflate(content)
            WHEN ext = '.lz4' THEN lz4_inflate(content)
            ELSE content END"""

  /** JSONL files → `documents`-shaped rows: the batch front door (a
    * landing bucket of `<id>.jsonl[.gz|.zst|.lz4]` files → the same
    * document schema every downstream operator consumes), fully in-plan.
    * doc_id = fileId·2²⁴ + (non-empty) line index — the [[Container]]
    * scheme, loud on slot overflow via `raise_error` (the declarative twin
    * of the task-side `require`). Overrides [[Container.docsFromFiles]]
    * so the batch door stays ONE declarative plan with no typed boundary;
    * works on a batch OR streaming binaryFile frame.
    */
  override def docsFromFiles(files: DataFrame): DataFrame =
    files
      .select(pathGroup(1).try_cast("long").as("file_id"),
        lower(pathGroup(2)).as("ext"), col("content"))
      .filter(col("file_id").isNotNull)
      .withColumn("file_id", expr(
        """CASE WHEN file_id >= shiftleft(1L, 39)
                THEN raise_error(concat('jsonl file id ', file_id,
                       ' exceeds the 2^39 doc_id file-slot space'))
                ELSE file_id END"""))
      .withColumn("body", expr(s"decode($inflateByExt, 'UTF-8')"))
      .select(col("file_id"),
        posexplode(expr("filter(split(body, chr(10)), l -> l <> '')"))
          .as(Seq("pos", "line")))
      .withColumn("pos", expr(
        """CASE WHEN pos >= 16777216
                THEN CAST(raise_error(concat('jsonl file ', file_id,
                       ': line count exceeds the 2^24 doc_id slot space')) AS INT)
                ELSE pos END"""))
      .withColumn("j", from_json(col("line"), LineSchema,
        Map("mode" -> "FAILFAST")))
      .select(
        (shiftleft(col("file_id"), 24) bitwiseOR col("pos").cast(LongType)).as("doc_id"),
        expr("""CASE WHEN j.text IS NULL
                     THEN raise_error(concat('jsonl file ', file_id, ' line ', pos,
                            ': object has no text field'))
                     ELSE j.text END""").as("text"),
        coalesce(col("j.lang"), lit("und")).as("lang"),
        coalesce(col("j.url"), lit("unknown")).as("source"),
        length(col("j.text")).cast(LongType).as("n_chars"))

  /** Magic-sniffed streaming line reader: wrap `in` with the matching
    * incremental decompressor ([[Streams.sniffed]] — the shared
    * gzip/zstd/lz4 dispatch) and iterate non-empty UTF-8 lines one at a
    * time. Never dispatches on file name.
    */
  def lines(in: java.io.InputStream): Iterator[String] = {
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(Streams.sniffed(in),
        java.nio.charset.StandardCharsets.UTF_8),
      64 * 1024)
    Iterator.continually(r.readLine()).takeWhile(_ != null).filter(_.nonEmpty)
  }

  /** One parsed line, Jackson-strict — the task-side twin of the in-plan
    * `from_json` FAILFAST + text-required contract (parity pinned in
    * JsonlSpec). Scalar coercion matches `from_json`'s measured behavior
    * exactly: a JSON number/boolean in a string field renders as its
    * token text; a JSON null is an absent value (so a null `text`
    * rejects, a null `lang`/`url` takes the default). Jackson is Spark's
    * own bundled JSON machinery.
    */
  private def parseLine(line: String): (String, String, String) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    require(node != null && node.isObject, s"jsonl: line is not a JSON object")
    def scalar(f: String): Option[String] = Option(node.get(f))
      .filter(v => v.isValueNode && !v.isNull).map(_.asText())
    val text = scalar("text")
    require(text.isDefined, "jsonl: object has no text field")
    (text.get, scalar("lang").getOrElse("und"), scalar("url").getOrElse("unknown"))
  }

  // The typed doors: [[docStream]] and [[docsFromPaths]] come from
  // [[Container]]; the path door STREAMS each drop through [[lines]]
  // (gzip/zstd/lz4 all incremental), so a bucket of larger-than-memory
  // `.jsonl.zst` drops ingests with O(one line) memory per task. Same
  // doc_id scheme and row shape as the in-plan [[docsFromFiles]]
  // (parity-pinned in JsonlSpec).

  protected def label = "jsonl"
  protected def fileRe = "([0-9]+)\\.jsonl(\\.gz|\\.zst|\\.lz4)?"
  // the typed walk of a held file; the in-plan batch door does not use it
  protected def bytesWalk(bytes: Array[Byte]) = lines(new java.io.ByteArrayInputStream(bytes))
  protected def pathWalk(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path) =
    Streams.streamWalk(fs, path)(lines)
  protected def doc(file: String, slot: Int, line: String) = Some(parseLine(line))

  // ---- jsonl_ingest: the in-plan parity fixture, all four codecs ----

  /** Fixture geometry: two lines per document, each carrying 48 document
    * bytes as 96 hex chars (line 0: bytes [0,48); line 1: bytes [16,64))
    * — hex keeps the JSON trivially escape-free, the [[Tar]] slice shape.
    */
  private val SliceLen = 48
  private val SliceStride = 16
  private val NeedBytes = SliceLen + SliceStride

  /** One line: `{"id":"<12-digit doc_id>","h":"<96 hex>","k":<k>}` + LF.
    * Constant length, so all codec framing is compile-time.
    */
  private val LineLen = """{"id":"","h":"","k":0}""".length + 12 + 2 * SliceLen + 1
  private val PayloadLen = 2 * LineLen

  /** Hex SQL for line `k` (payload bytes from `h`, id from `doc_id`). */
  private def lineHex(k: Int): String = {
    val pre = s"""{"id":""""
    val mid = s"""","h":""""
    val post = s"""","k":$k}""" + "\n"
    // the h FIELD is the 96-hex-char STRING, so in the hex-of-line layer it
    // appears hex-encoded again (hex of the ASCII hex digits)
    s"concat('${hexOf(pre)}', hex(cast(lpad(cast(doc_id as string), 12, '0') as binary)), " +
      s"'${hexOf(mid)}', hex(cast(substring(h, ${k * SliceStride * 2} + 1, ${SliceLen * 2}) as binary)), " +
      s"'${hexOf(post)}')"
  }

  /** zstd frame wrapping the constant-length payload: single-segment
    * header with a 2-byte Frame_Content_Size field (the payload is over
    * 255 bytes; stored value = n − 256 per RFC 8878 §3.1.1.1), one RAW
    * last block — the [[ZstdCorpus]] emitter at the next FCS size up.
    */
  private def zstdHex(rawHex: String, n: Int): String = {
    require(n >= 256 && n < 65536 + 256, s"zstd 2-byte FCS needs 256 <= n < 65792, got $n")
    val fcs = n - 256
    val fcsHex = "%02X%02X".format(fcs & 0xff, fcs >> 8)
    val blk = 1 | (n << 3)
    val blkHex = "%02X%02X%02X".format(blk & 0xff, (blk >> 8) & 0xff, (blk >> 16) & 0xff)
    s"concat('28B52FFD60$fcsHex$blkHex', $rawHex)"
  }

  /** lz4 frame wrapping the constant-length payload: one stored block,
    * real xxHash32 header-checksum byte — the [[Lz4Corpus]] emitter.
    */
  private def lz4Hex(rawHex: String, n: Int): String = {
    val flg = 0x60
    val bd = 0x40
    val hc = {
      val h = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
        .hash(Array(flg.toByte, bd.toByte), 0, 2, 0)
      (h >> 8) & 0xFF
    }
    val v = 0x80000000 | n
    val blkHex = "%02X%02X%02X%02X".format(
      v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >>> 24) & 0xff)
    val hdr = "04224D18" + "%02X%02X%02X".format(flg, bd, hc)
    s"concat('$hdr$blkHex', $rawHex, '00000000')"
  }

  /** `jsonl_ingest`: the compressed-JSONL landing format parsed END TO
    * END, all four physical shapes in one query. Spark BUILDS a genuine
    * two-line JSONL payload per document in pure SQL (constant-length
    * lines — zero-padded id, 96 hex chars of document bytes, the line
    * index; hex sidesteps JSON escaping), frames it by doc_id%4 — plain /
    * gzip (stored-deflate member, real CRC-32) / zstd (single-segment
    * RAW-block frame, 2-byte FCS) / lz4 (stored-block frame, real
    * xxHash32 header checksum) — and parses it back through the SAME
    * extension dispatch + per-line `from_json` the production front door
    * uses. Each line emits its parsed id, line index, payload length and
    * exact byte sum; the oracle recomputes everything from document
    * bytes per line slot, so a framing, dispatch, line-split, or JSON
    * field-binding bug lands as a value mismatch or a loud decode
    * reject. One codec per projection leg, unioned — a single
    * when/otherwise carrying all four frame trees would overflow
    * whole-stage codegen (the measured WARC fixture lesson).
    */
  def jsonlIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val rawHex = s"concat(${lineHex(0)}, ${lineHex(1)})"
    def leg(c: Int, ext: String, frameHex: String): DataFrame =
      Tables.documents(spark, sfDir)
        .filter(octet_length(col("text")) >= NeedBytes && col("doc_id") % 4 === c)
        .withColumn("h", expr("hex(cast(text as binary))"))
        .select(col("doc_id"), lit(ext).as("ext"),
          expr(s"unhex($frameHex)").as("content"))
    val framed = leg(0, "", rawHex)
      .unionByName(leg(1, ".gz", gzMemberHex(rawHex, PayloadLen)))
      .unionByName(leg(2, ".zst", zstdHex(rawHex, PayloadLen)))
      .unionByName(leg(3, ".lz4", lz4Hex(rawHex, PayloadLen)))
    framed
      .withColumn("body", expr(s"decode($inflateByExt, 'UTF-8')"))
      .select(col("doc_id"), col("ext"),
        posexplode(expr("filter(split(body, chr(10)), l -> l <> '')"))
          .as(Seq("pos", "line")))
      .withColumn("j", from_json(col("line"),
        StructType(Seq(StructField("id", StringType), StructField("h", StringType),
          StructField("k", LongType))), Map("mode" -> "FAILFAST")))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("line_no"),
        expr("cast(j.id as bigint)").as("parsed_id"),
        col("j.k").as("parsed_k"),
        expr("cast(length(j.h) / 2 as int)").as("n_bytes"),
        expr("aggregate(sequence(0, cast(length(j.h) / 2 as int) - 1), 0L, " +
          "(a, i) -> a + cast(conv(substring(j.h, i * 2 + 1, 2), 16, 10) as bigint))")
          .as("payload_sum"),
        expr("CASE WHEN ext = '' THEN 'plain' ELSE substring(ext, 2) END").as("codec"))
      .orderBy("doc_id", "line_no")
  }

  private val jsonlIngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id,
               CAST(k AS INT) AS line_no,
               doc_id AS parsed_id,
               CAST(k AS BIGINT) AS parsed_k,
               CAST($SliceLen AS INT) AS n_bytes,
               CAST(list_sum(list_transform(range(k * $SliceStride, k * $SliceStride + $SliceLen),
                 i -> ${byte("i")})) AS BIGINT) AS payload_sum,
               CASE doc_id % 4 WHEN 0 THEN 'plain' WHEN 1 THEN 'gz'
                               WHEN 2 THEN 'zst' ELSE 'lz4' END AS codec
        FROM d, (SELECT unnest(range(0, 2)) AS k)
        ORDER BY doc_id, line_no"""
  }

  // ---- jsonl_files_ingest: real landed drops through the line walk ----

  /** Documents per landed fixture file. */
  private val DocsPerFile = 64

  /** `jsonl_files_ingest`: the STREAMING line walk pinned end to end
    * through REAL landed drops at the realistic grain — each file bundles
    * [[DocsPerFile]] documents as front-door-shaped lines
    * (`{"id","text","lang","url"}`, text = hex of the document's first 24
    * CHARS so every document participates regardless of length and the
    * JSON needs no escaping), compressed for real by doc_id%4 class:
    * plain / `GZIPOutputStream` (dynamic deflate) /
    * [[graft.functions.ZstdDeflate]] (FSE/Huffman frames) /
    * [[graft.functions.Lz4Deflate]] (real LZ4 blocks) — the leg the
    * SQL-emitted `jsonl_ingest` frames cannot reach. Landed via task-side
    * file IO and re-ingested by path through [[docsFromPaths]] — the
    * PRODUCTION front door itself produces the output rows, so the
    * grouping, line order, doc_id scheme, JSON field mapping, and all
    * four real codecs are pinned by the oracle's pure-formula recompute.
    */
  def jsonlFilesIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_jsonlfiles")
    val docLine = """concat('{"id":"', lpad(cast(doc_id as string), 12, '0'),
        '","text":"', hex(encode(substring(text, 1, 24), 'UTF-8')),
        '","lang":"', lang,
        '","url":"doc://', lpad(cast(doc_id as string), 12, '0'), '"}')"""
    val grouped = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % 4).as("c"),
        expr(s"doc_id div ${4 * DocsPerFile}").as("g"),
        expr(docLine).as("line"))
      .groupBy("c", "g")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(doc_id, line))), x -> x.line), chr(10))")
        .as("body"))
      .select((col("g") * 4 + col("c")).as("fid"), col("c"),
        encode(concat(col("body"), lit("\n")), "UTF-8").as("payload"))
    Streams.land(grouped.as[(Long, Long, Array[Byte])].map { case (fid, c, bytes) =>
      c match {
        case 0 => (s"$fid.jsonl", bytes)
        case 1 =>
          val bo = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bo)
          gz.write(bytes); gz.close()
          (s"$fid.jsonl.gz", bo.toByteArray)
        case 2 => (s"$fid.jsonl.zst", graft.functions.ZstdDeflate.deflate(bytes))
        case _ => (s"$fid.jsonl.lz4", graft.functions.Lz4Deflate.deflate(bytes))
      }
    }, dir)
    docsFromPaths(spark, dir)
      .select(col("doc_id"),
        expr("cast(substring(source, 7) as bigint)").as("src_id"),
        md5(col("text")).as("digest"),
        col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val jsonlFilesIngestSql =
    s"""SELECT (((doc_id // ${4 * DocsPerFile}) * 4 + doc_id % 4) * 16777216)
                 + (doc_id % ${4 * DocsPerFile}) // 4 AS doc_id,
               doc_id AS src_id,
               md5(hex(encode(substring(text, 1, 24)))) AS digest,
               lang,
               CAST(2 * octet_length(encode(substring(text, 1, 24))) AS BIGINT) AS n_chars
        FROM documents
        ORDER BY 1"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jsonl_ingest" -> (jsonlIngest _),
    "jsonl_files_ingest" -> (jsonlFilesIngest _),
  )

  override def oracle: Map[String, String] = Map(
    "jsonl_ingest" -> jsonlIngestSql,
    "jsonl_files_ingest" -> jsonlFilesIngestSql,
  )
}
