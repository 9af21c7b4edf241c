package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.SimilaritySearch

/** Streaming ANN ingest — the retrieval-side front door: arriving embedding
  * vectors are probed for their top-k cosine neighbors against the
  * PERSISTED bucketed IVF cell index per micro-batch, and the per-batch
  * neighbor lists land idempotently under per-batch directories (join-key
  * audit for RAG ingestion, online dedup-by-meaning, freshness scoring).
  *
  * The per-batch stage is the SAME probe core the oracle checks
  * ([[SimilaritySearch.probeAgainst]], the `similarity_probe_incremental`
  * row) against the same index lifecycle (`Scratch.memoizeBucketed` — the
  * band-index discipline): a micro-batch is just a small batch, so the
  * stream trivially converges to its batch twin (AnnIngestSpec asserts it).
  * No keyed state, no watermark: vectors arrive whole and the index is a
  * static (periodically rebuilt) artifact — the [[CorpusIngest]]
  * architecture note applies verbatim.
  *
  * Exactly-once: at-least-once batchId replay × per-batch-directory
  * overwrite ([[CorpusIngest.batchWriter]] discipline).
  *
  * Scale: per-batch cost ∝ batch × candidate volume (NProbe/NumCentroids
  * of the corpus per probe); the index side of the join never re-shuffles
  * (bucket-co-located scan, pinned in PlanAssertionsSpec), so probing cost
  * is independent of corpus-rebuild cadence.
  */
object AnnIngest {

  /** Per-batch probe + idempotent writer, exposed for replay tests. */
  def batchWriter(spark: SparkSession, sfDir: String,
                  outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      SimilaritySearch.probeAgainst(
          SimilaritySearch.ivfIndex(spark, sfDir, corpusOnly = false), batch)
        .write.mode("overwrite").parquet(s"$outDir/topk/batch_id=$batchId")

  def start(vecStream: DataFrame, sfDir: String, outDir: String,
            checkpointDir: String,
            triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(vecStream, "ann_ingest", checkpointDir, triggerInterval)(
      batchWriter(vecStream.sparkSession, sfDir, outDir))
}
