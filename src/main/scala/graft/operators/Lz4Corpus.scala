package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}
import graft.FixtureHex.byte

/** LZ4-frame corpus ingestion — with gzip, zstd, and splittable bz2 this
  * completes the big-four landing codecs; `.jsonl.lz4` / `.tar.lz4` are
  * the fast-decode choice for snapshot-style ML data drops. Decoder is
  * [[graft.functions.Lz4Inflate]] (Spark's own bundled lz4-java), so the
  * build→inflate→summarize pipeline stays inside one whole-stage-codegen
  * span — the `.lz4` sibling of `zstd_ingest` / `docs_gunzip_roundtrip`.
  *
  * Reference behavior anchor: the reference's file source
  * (`q4_streaming.ipynb` cell 0) reads loose uncompressed text; this is
  * that front door at the compression reality of large corpora.
  */
object Lz4Corpus extends QueryModule {

  /** Fixture geometry: two uncompressed blocks (48 + 16 bytes). */
  private val Blk1 = 48
  private val Blk2 = 16
  private val NeedBytes = Blk1 + Blk2

  /** FLG: version 01 + block independence; BD: 64 KB max block. */
  private val Flg = 0x60
  private val Bd = 0x40

  /** Frame-descriptor header checksum: `(xxh32(FLG‖BD, seed 0) >> 8) & 0xFF`
    * (lz4 frame spec §3.1.1) — a constant for fixed FLG/BD, computed here
    * with the same xxHash the decoder verifies with.
    */
  private val Hc: Int = {
    val h = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
      .hash(Array(Flg.toByte, Bd.toByte), 0, 2, 0)
    (h >> 8) & 0xFF
  }

  /** LE4 hex of an uncompressed-block size word (high bit = stored). */
  private def storedHdr(n: Int): String = {
    val v = 0x80000000 | n
    "%02X%02X%02X%02X".format(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >>> 24) & 0xff)
  }

  /** `lz4_ingest`: a genuine LZ4 frame BUILT per document in pure SQL and
    * decompressed back through the real decoder — the stored-block trick
    * (gzip stored-deflate / zstd RAW sibling): SQL emits the magic, the
    * frame descriptor WITH its real xxHash32 header-checksum byte, two
    * uncompressed blocks (the document's first 48 then next 16 bytes,
    * exercising multi-block framing), and the end mark.
    * [[graft.functions.Lz4Inflate]] hands the frame to lz4-java, which
    * re-validates all of it. The output summarizes the decompressed
    * payload natively; the oracle recomputes each value from the document
    * bytes, so a descriptor, header-checksum, LE-packing, or block-walk
    * bug lands as a value mismatch or a decode reject. Map-only until the
    * final sort — the per-blob landing kernel, parallel at file grain.
    */
  def lz4Ingest(spark: SparkSession, sfDir: String): DataFrame = {
    val header = "04224D18" + "%02X%02X%02X".format(Flg, Bd, Hc)
    val frame = s"unhex(concat('$header${storedHdr(Blk1)}', substring(h, 1, ${Blk1 * 2})," +
      s" '${storedHdr(Blk2)}', substring(h, ${Blk1 * 2} + 1, ${Blk2 * 2}), '00000000'))"
    Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) >= NeedBytes)
      .withColumn("h", expr("hex(cast(text as binary))"))
      .withColumn("g", expr(s"hex(lz4_inflate($frame))"))
      .select(
        col("doc_id"),
        expr("cast(length(g) / 2 as int)").as("n_bytes"),
        expr("aggregate(sequence(0, cast(length(g) / 2 as int) - 1), 0L, " +
          "(a, i) -> a + cast(conv(substring(g, i * 2 + 1, 2), 16, 10) as bigint))")
          .as("payload_sum"),
        expr("cast(conv(substring(g, 1, 2), 16, 10) as int)").as("head_byte"),
        expr(s"cast(conv(substring(g, ${Blk1 * 2} + 1, 2), 16, 10) as int)").as("blk2_byte"))
      .orderBy("doc_id")
  }

  private val lz4IngestSql = {
    s"""WITH d AS (
          SELECT doc_id, hex(encode(text)) AS h
          FROM documents WHERE octet_length(encode(text)) >= $NeedBytes
        )
        SELECT doc_id,
               CAST($NeedBytes AS INT) AS n_bytes,
               CAST(list_sum(list_transform(range(0, $NeedBytes), i -> ${byte("i")}))
                 AS BIGINT) AS payload_sum,
               ${byte("0")} AS head_byte,
               ${byte(Blk1.toString)} AS blk2_byte
        FROM d
        ORDER BY doc_id"""
  }

  /** `docs_lz4_roundtrip`: the REAL codec path both directions, in-plan —
    * [[graft.functions.Lz4Deflate]] LZ4-compresses each document (64 KB
    * independent blocks, content checksum on) and
    * [[graft.functions.Lz4Inflate]] decodes and xxHash32-verifies it. The
    * md5 of the round-tripped bytes is pinned against the source text by
    * the oracle; the compressed bytes are library-dependent and stay out
    * of the output — only proof the trip is lossless.
    */
  def lz4Roundtrip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        expr("md5(lz4_inflate(lz4_deflate(cast(text as binary))))").as("digest"),
        expr("octet_length(cast(text as binary))").as("n_bytes"))
      .orderBy("doc_id")

  private val lz4RoundtripSql =
    """SELECT doc_id, md5(text) AS digest,
              CAST(octet_length(encode(text)) AS INT) AS n_bytes
       FROM documents ORDER BY doc_id"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lz4_ingest" -> (lz4Ingest _),
    "docs_lz4_roundtrip" -> (lz4Roundtrip _),
  )

  override def oracle: Map[String, String] = Map(
    "lz4_ingest" -> lz4IngestSql,
    "docs_lz4_roundtrip" -> lz4RoundtripSql,
  )
}
