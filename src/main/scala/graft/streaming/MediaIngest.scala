package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.{BatchedDecode, MediaRow}

/** Streaming media ingest — the multimodal front door: arriving media
  * payloads are decoded per micro-batch through the SAME batched decode
  * core the oracle-checked queries use ([[BatchedDecode.decodeFeatures]]:
  * magic-sniffed REAL PPM/BMP/WAV/Y4M parsing, stub fallback for
  * compressed formats), and the per-batch feature rows land idempotently
  * under per-batch directories.
  *
  * A micro-batch is just a small batch, so the stream trivially converges
  * to its batch twin (MediaIngestSpec asserts it on mixed real+stub
  * payloads). No keyed state, no watermark: payloads arrive whole — the
  * [[CorpusIngest]] architecture note applies verbatim.
  *
  * Exactly-once: at-least-once batchId replay × per-batch-directory
  * overwrite ([[CorpusIngest.batchWriter]] discipline).
  *
  * Scale: decode cost is per-payload map work inside the per-batch decoder
  * context — the stream decodes where the bytes arrive, and sampling/
  * featurization happen AT the decoder, so only FeatureDim floats per
  * payload ever land.
  */
object MediaIngest {

  /** Bucket fan-out of the persisted band index (`bkt=` partition
    * dirs). A constant, never a session conf: the landed layout is keyed
    * by it, so it MUST stay fixed over a stream's lifetime.
    */
  val BandBuckets = 16

  /** The persisted band-index row layout: band rows under
    * `bands/batch_id=N/bkt=K/`. Explicit so the probe can scan the
    * index even when the only landed batches carried no images (an
    * empty overwrite leaves no partition dirs to infer from).
    */
  private val BandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ahash64", LongType),
    StructField("chunk_id", IntegerType),
    StructField("chunk", LongType),
    StructField("bkt", IntegerType),
    StructField("batch_id", LongType)))

  /** One batch's banded signatures: the proven `mm_ahash_dedup`
    * blocking (4×16-bit chunk pigeonhole — hamming ≤ 3 guarantees ≥ 1
    * exact chunk; MASKED extraction, never a signed modulo) with the
    * FULL hash carried beside each band row (so the popcount verify
    * happens inside the probe join, no second lookup) and the
    * `bkt = pmod(hash(chunk_id, chunk), BandBuckets)` partition key
    * the landing layout prunes by.
    */
  private def bandRows(feats: DataFrame): DataFrame =
    feats.filter(col("ahash64").isNotNull)
      .select(col("doc_id"), col("ahash64"),
        posexplode(expr("transform(sequence(0, 3), c -> shiftright(ahash64, c * 16) & 65535)"))
          .as(Seq("chunk_id", "chunk")))
      .withColumn("bkt", pmod(hash(col("chunk_id"), col("chunk")), lit(BandBuckets)))

  /** Per-batch decode + idempotent writer, exposed for replay tests.
    * Lands the X127 orientation-normalized aHash NEXT TO the features
    * (null for non-image payloads), then the batch's BANDED signatures
    * into the persisted `bands/` index (the X7 `dedup_incremental`
    * index-once-probe-forever lifecycle, here append-shaped: one
    * bkt-partitioned directory per batch, overwrite-idempotent like
    * the features), and finally probes the arriving signatures against
    * that index ([[probeHistory]]) and lands the flagged near-dups —
    * the [[CorpusIngest]] dedup-probe precedent on the media path,
    * possible in-stream because the signature lands with the features
    * (no payload re-read). Long-lived streams fold the per-batch band
    * dirs down with the X92 compaction operator on a retention
    * schedule; the probe's pruning and join shape are unchanged by
    * compaction because both key on the same `bkt` layout.
    */
  def batchWriter(spark: SparkSession, outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import spark.implicits._
      BatchedDecode.decodeWithSignature(batch.as[MediaRow])
        .write.mode("overwrite").parquet(s"$outDir/features/batch_id=$batchId")
      // read the landed rows back (cheap 8-byte hashes) instead of
      // decoding the payloads a second time
      val feats = spark.read.parquet(s"$outDir/features/batch_id=$batchId")
      // a micro-batch is small: one writer task, so at most one file
      // per touched bkt partition lands per batch
      bandRows(feats).coalesce(1).write.mode("overwrite")
        .partitionBy("bkt").parquet(s"$outDir/bands/batch_id=$batchId")
      probeHistory(spark, outDir, feats, batchId)
        .write.mode("overwrite").parquet(s"$outDir/dups/batch_id=$batchId")
    }

  /** Online image near-dup probe over the stream's OWN landed band
    * index: the arriving batch's band rows BROADCAST against the
    * persisted index (stream-static, the X18 shape), exact popcount
    * verify on the survivors. The index side is never exploded,
    * shuffled, or fully read per batch — each signature was banded
    * ONCE when its batch landed, the scan partition-prunes to
    * `batch_id < N` and to the ≤ [[BandBuckets]] `bkt=` dirs the
    * arriving hashes touch (the bucket list is collected per batch —
    * bounded by the constant, never by batch or history size), and
    * the broadcast hash join streams the pruned index rows through
    * with zero history-side exchange (plan-pinned in MediaIngestSpec).
    * Per-batch cost is therefore ∝ index bytes IN THE TOUCHED BUCKETS,
    * not total history, and no history-wide shuffle ever runs — the
    * only exchange after the scan carries answer-sized candidate
    * pairs into the dedup.
    *
    * An INTRA-BATCH leg closes the window the history probe cannot
    * see: two near-identical images arriving in the same micro-batch
    * flag newer-against-older through the same banding, batch-sized on
    * both sides.
    *
    * Replay-idempotent: batch N probes strictly `batch_id < N` plus
    * its own (deterministic) intra-batch pairs, so re-running a
    * committed batch recomputes the same rows
    * ([[CorpusIngest.batchWriter]] discipline).
    */
  def probeHistory(spark: SparkSession, outDir: String,
      feats: DataFrame, batchId: Long): DataFrame = {
    val arriving = bandRows(feats)
    val bkts = arriving.select("bkt").distinct().collect().map(_.getInt(0)).toSeq.sorted
    val history = spark.read.schema(BandSchema).parquet(s"$outDir/bands")
      .filter(col("batch_id") < batchId && col("bkt").isin(bkts: _*))
      .select(col("doc_id").as("dup_of"), col("ahash64").as("ah_prior"),
        col("chunk_id"), col("chunk"))
    val arr = arriving.select(col("doc_id"), col("ahash64"), col("chunk_id"), col("chunk"))
    // a batch's OWN duplicates are invisible to the strictly-older
    // history probe — the intra-batch leg closes that window: same
    // banding, arriving-vs-arriving, newer id flags against older
    // (batch-sized on both sides, so it broadcasts like the probe)
    val within = broadcast(arr)
      .join(arr.select(col("doc_id").as("dup_of"), col("ahash64").as("ah_prior"),
        col("chunk_id"), col("chunk")), Seq("chunk_id", "chunk"))
      .filter(col("doc_id") > col("dup_of"))
    broadcast(arr)
      .join(history, Seq("chunk_id", "chunk"))
      .unionByName(within)
      .select(col("doc_id"), col("ahash64"), col("dup_of"), col("ah_prior"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(ahash64 ^ ah_prior) AS INT)"))
      .filter(col("hamming") <= 3)
      .select("doc_id", "dup_of", "hamming")
  }

  def start(mediaStream: DataFrame, outDir: String, checkpointDir: String,
            triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(mediaStream, "media_ingest", checkpointDir, triggerInterval)(
      batchWriter(mediaStream.sparkSession, outDir))
}
