package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.History

/** Streaming CDC apply — the nightly `orders_cdc_upsert` merge run
  * continuously: a stream of change batches (full-row images with an `op`
  * flag, U=upsert / D=tombstone) folds into a keyed parquet state table,
  * one [[History.mergeCdc]] per micro-batch. This is lakehouse
  * MERGE-without-a-table-format: plain parquet + versioned directories.
  *
  * State lineage: version `v=N` is the state AFTER batch N−1; each batch
  * reads `v=batchId` and writes `v=batchId+1`. Exactly-once lands the same
  * way as the other streams (at-least-once batchId replay × deterministic
  * per-version overwrite): replaying batch N recomputes `v=N+1` from the
  * untouched `v=N` and overwrites it byte-identically — CdcStreamSpec
  * replays a committed batch and asserts nothing changes.
  *
  * Scale: per-batch cost is the merge's ONE key shuffle over
  * |state| + |batch| rows. Persisting each version bucketed by the key
  * (`Scratch.memoizeBucketed`'s layout, as the batch operator's `cdcState`
  * does) keeps the nightly/continuous merges co-located so only the
  * batch-sized side moves; the version chain doubles as time travel, with
  * old versions dropped on a retention schedule.
  */
object CdcStream {

  private def versionDir(stateDir: String, v: Long) = s"$stateDir/v=$v"

  /** Seed the state chain: the initial keyed table becomes version 0. */
  def init(state: DataFrame, stateDir: String): Unit =
    state.write.mode("overwrite").parquet(versionDir(stateDir, 0L))

  /** The per-batch merge + idempotent versioned writer, exposed for replay
    * tests and for applying a static batch.
    */
  def batchMerger(spark: SparkSession, stateDir: String, key: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val prev = spark.read.parquet(versionDir(stateDir, batchId))
      History.mergeCdc(prev, batch, key)
        .write.mode("overwrite").parquet(versionDir(stateDir, batchId + 1))
    }

  def start(changeStream: DataFrame, stateDir: String, checkpointDir: String,
            key: String, triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(changeStream, "cdc_apply", checkpointDir, triggerInterval)(
      batchMerger(changeStream.sparkSession, stateDir, key))

  /** Latest materialized state version under `stateDir`; −1 when no
    * version has landed (missing or empty directory).
    */
  def latestVersion(spark: SparkSession, stateDir: String): Long = {
    val dirs = Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
    val versions = dirs.map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong)
    if (versions.isEmpty) -1L else versions.max
  }

  def latestState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(versionDir(stateDir, latestVersion(spark, stateDir)))
}
