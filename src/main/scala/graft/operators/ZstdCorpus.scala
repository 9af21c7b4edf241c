package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.byte

/** Zstandard corpus ingestion — `.zst` is the compression modern text
  * corpora actually ship with (Common Crawl moved its WET/WAT drops to
  * zstd; HF datasets default to it), so the landing path needs a native
  * decompress the same way it has [[graft.functions.Gunzip]] for `.gz`.
  * The decompressor is [[graft.functions.ZstdInflate]] — a codegen'd
  * Expression over Spark's own bundled zstd-jni — so the whole
  * build→inflate→summarize pipeline below stays inside one
  * whole-stage-codegen span with zero typed boundaries.
  *
  * Reference behavior anchor: the reference's file-source ingestion
  * (`q4_streaming.ipynb` cell 0) reads loose uncompressed text; this is
  * that front door at the compression reality of large corpora.
  */
object ZstdCorpus extends QueryModule {

  /** Fixture geometry: a 48-byte RAW block + a 16-repeat RLE block. */
  private val RawLen = 48
  private val RleLen = 16
  private val NeedBytes = RawLen + 1

  /** `zstd_ingest`: a genuine RFC 8878 Zstandard frame BUILT per document
    * in pure SQL and decompressed back through the native decoder. The
    * emitter writes the magic, a single-segment frame header with the
    * real Frame_Content_Size, a RAW block of the document's first 48
    * bytes, and a last RLE block repeating byte 48 sixteen times — the
    * zstd sibling of the stored-deflate gzip trick (SQL emits a
    * conformant stream it could never entropy-code; RAW and RLE are
    * first-class block types every decoder must handle, including their
    * 3-byte little-endian headers and the block-size-in-bits-3..23
    * packing). [[graft.functions.ZstdInflate]] hands the frame to the
    * REAL zstd native decoder, which re-validates all of it. The output
    * summarizes the decompressed payload (length, exact byte sum, first/
    * pivot bytes) natively; the oracle recomputes each from the document
    * bytes, so a frame-header, block-header, LE-packing, or
    * content-size bug lands as a value mismatch or a decode reject.
    * Map-only until the final sort; at 100 TB this is the per-blob
    * landing kernel, parallel at file grain.
    */
  def zstdIngest(spark: SparkSession, sfDir: String): DataFrame = {
    // frame header: FHD 0x20 = FCS-flag 0 + Single_Segment (FCS = 1 byte)
    val fcs = "%02X".format(RawLen + RleLen)
    // RAW (not last): size<<3            -> LE3
    val rawHdr = "%02X%02X%02X".format((RawLen << 3) & 0xff, (RawLen << 3) >> 8, 0)
    // RLE (last): 1 | 1<<1 | size<<3     -> LE3
    val rleVal = 3 | (RleLen << 3)
    val rleHdr = "%02X%02X%02X".format(rleVal & 0xff, rleVal >> 8, 0)
    val frame = s"unhex(concat('28B52FFD20$fcs$rawHdr', substring(h, 1, ${RawLen * 2})," +
      s" '$rleHdr', substring(h, ${RawLen * 2} + 1, 2)))"
    Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .withColumn("g", expr(s"hex(zstd_inflate($frame))"))
      .select(
        col("doc_id"),
        expr("cast(length(g) / 2 as int)").as("n_bytes"),
        expr("aggregate(sequence(0, cast(length(g) / 2 as int) - 1), 0L, " +
          "(a, i) -> a + cast(conv(substring(g, i * 2 + 1, 2), 16, 10) as bigint))")
          .as("payload_sum"),
        expr("cast(conv(substring(g, 1, 2), 16, 10) as int)").as("head_byte"),
        expr(s"cast(conv(substring(g, ${RawLen * 2} + 1, 2), 16, 10) as int)").as("rle_byte"))
      .orderBy("doc_id")
  }

  private val zstdIngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id,
               CAST(${RawLen + RleLen} AS INT) AS n_bytes,
               CAST(list_sum(list_transform(range(0, $RawLen), i -> ${byte("i")}))
                    + $RleLen * ${byte(RawLen.toString)} AS BIGINT) AS payload_sum,
               ${byte("0")} AS head_byte,
               ${byte(RawLen.toString)} AS rle_byte
        FROM d
        ORDER BY doc_id"""
  }

  /** `docs_zstd_roundtrip`: the REAL codec path both directions, entirely
    * in-plan — [[graft.functions.ZstdDeflate]] entropy-codes each
    * document (FSE/Huffman blocks, frame checksum on) and
    * [[graft.functions.ZstdInflate]] hands the frame to the native
    * decoder, which re-verifies the checksum. The md5 of the round-tripped
    * bytes is pinned against the source text by the oracle — the
    * compressed bytes themselves are library-version-dependent and are
    * deliberately NOT in the output, only proof the trip is lossless.
    * This is the `.zst` sibling of `docs_gunzip_roundtrip`; `zstd_ingest`
    * above covers the complementary case (SQL-emitted frames the builder
    * could never entropy-code).
    */
  def zstdRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        expr("md5(zstd_inflate(zstd_deflate(cast(text as binary))))").as("digest"),
        expr("octet_length(cast(text as binary))").as("n_bytes"))
      .orderBy("doc_id")

  private val zstdRoundtripSql =
    """SELECT doc_id, md5(text) AS digest,
              CAST(octet_length(encode(text)) AS INT) AS n_bytes
       FROM documents ORDER BY doc_id"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zstd_ingest" -> (zstdIngest _),
    "docs_zstd_roundtrip" -> (zstdRoundtrip _),
  )

  override def oracle: Map[String, String] = Map(
    "zstd_ingest" -> zstdIngestSql,
    "docs_zstd_roundtrip" -> zstdRoundtripSql,
  )
}
