package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.operators.Events

/** Running per-user session (custom state for [[SensorStreams.sessionize]]). */
case class SessionState(startMs: Long, lastMs: Long, n: Long)

/** A closed session, matching the batch `events_sessionize` row shape. */
case class Session(user_id: Long, session_start: String, session_end: String, n_events: Long)

object Session {
  private val fmtr = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Close a session: end = last event + gap (session_window semantics). */
  def close(user: Long, s: SessionState, gapMs: Long): Session =
    Session(user, fmtr.format(java.time.Instant.ofEpochMilli(s.startMs)),
      fmtr.format(java.time.Instant.ofEpochMilli(s.lastMs + gapMs)), s.n)
}

/** Structured Streaming pipelines — the reference's Q4 surface
  * (q4_streaming.ipynb), re-expressed over the `events` stream shape.
  *
  * Reference mapping (SURVEY.md §2.9):
  *   - S3  streaming file source with DECLARED schema (cell 0:32-42) —
  *     [[fileSource]]; file streams refuse inference by design.
  *   - T1  event-time extraction `to_timestamp` + null guard (cell 0:44-48) —
  *     [[parsed]] + `Events.withEventTime`.
  *   - A5  per-key global agg, deliberately UNWATERMARKED (cell 0:51-59;
  *     unbounded keyed state, bounded by key cardinality) — [[perKeyStats]].
  *   - T2  `withWatermark("event_time", "2 minutes")` (cell 0:71) —
  *     [[tumbling]] / [[sliding]].
  *   - T3  tumbling 5-minute window (cell 0:74-87) — [[tumbling]].
  *   - T4  sliding 10/5-minute window per key (cell 0:100-114) — [[sliding]].
  *   - K2/T5/T6  console sink, update output mode, 10 s processing-time
  *     trigger (cell 0:61-68, 89-96, 116-123) — [[startConsole]].
  *   - T7  late-data handling: rows older than the watermark are dropped,
  *     finalized windows are not re-emitted (tested in SensorStreamsSpec).
  *   - T8/K4  three concurrent queries + lifecycle stop via
  *     `spark.streams.active` (cell 0:125, cell 2) — [[startAll]]/[[stopAll]].
  *
  * The aggregation bodies are THE SAME functions the batch twins run
  * (`Events.perKeyStats/tumblingAgg/slidingAgg`), which is what makes the
  * streaming semantics oracle-checkable: a streaming query over a finite
  * input must converge to its batch twin, and the batch twin is
  * DuckDB-verified (t1/t3/t4 rows in CORRECTNESS).
  *
  * Scale: state per query is bounded — (keys) for Part A, (open windows ×
  * keys) under the watermark for Part B/C; the file source lists only new
  * files per trigger; no per-record driver work anywhere. The per-batch
  * floor is the checkpoint: each committed micro-batch writes a sources,
  * offsets and commits log entry, and each stateful query a delta file per
  * state partition, every file with its `.crc` sidecar. They go through
  * [[LocalCheckpointFiles]] (fixed in `graft.Sessions`), which writes them
  * without forking a process; under Spark's default manager on a JVM
  * without `libhadoop` each file forks `chmod` and `readlink`, 300-440
  * processes a second under the three [[startAll]] queries on 4 cores, and
  * that, not Spark work, set the batch floor (`sensor_stream` traced:
  * commit p50 about 90 ms and `latestOffset` p50 about 50 ms with the forks,
  * 2-5 ms without).
  */
object SensorStreams {

  /** Declared schema for the JSON file stream — the `events` table shape with
    * `ts` as an ISO-8601 string (promoted to event time in [[parsed]]), the
    * reference's only declared schema (q4 cell 0:32-36).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType, nullable = false),
    StructField("user_id", LongType),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S3: streaming file source over a watched directory of JSON-lines files. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).json(dir)

  /** T1: promote the string timestamp to a TimestampType `ts` column; rows
    * that fail to parse become null and are dropped by `Events.withEventTime`.
    */
  def parsed(stream: DataFrame): DataFrame =
    stream.withColumn("ts", to_timestamp(col("ts")))

  /** Part A (A5/T1): per-key running stats, unwatermarked — state grows with
    * key cardinality only (the reference keeps this one unbounded on purpose;
    * q4 cell 0:51 has no withWatermark).
    */
  def perKeyStats(stream: DataFrame): DataFrame =
    Events.perKeyStats(stream)

  /** Part B (T2+T3): watermarked tumbling 5-minute global aggregate. */
  def tumbling(stream: DataFrame): DataFrame =
    Events.tumblingAgg(
      Events.withEventTime(stream).withWatermark("event_time", "2 minutes"))

  /** Part C (T2+T4): watermarked sliding 10/5-minute per-key aggregate. */
  def sliding(stream: DataFrame): DataFrame =
    Events.slidingAgg(
      Events.withEventTime(stream).withWatermark("event_time", "2 minutes"))

  /** Custom-state surface: per-user sessionization with
    * `flatMapGroupsWithState` — the explicit-state twin of the batch
    * `session_window` query (`Events.sessionizeAgg`, oracle row
    * `events_sessionize`). A session closes when a new event arrives ≥ gap
    * after the last one, or when the event-time watermark passes
    * last + gap (timeout); closed sessions are emitted in append mode with
    * the same (start, last + gap) bounds as `session_window`.
    *
    * State per key is O(1) (start, last, count) and watermark timeouts
    * guarantee eviction — bounded state at any key cardinality.
    */
  val SessionGapMs: Long = Events.SessionGapMs // same constant as the batch twin

  def sessionize(stream: DataFrame): Dataset[Session] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val gapMs = SessionGapMs // local copy: the closure must not capture `this`

    Events.withEventTime(stream)
      .withWatermark("event_time", "2 minutes")
      .select(col("user_id"), col("event_time"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(Session.close(user, _, gapMs)).iterator
            state.remove()
            out
          } else {
            val closed = Seq.newBuilder[Session]
            var st = state.getOption
            events.map(_._2.getTime).toSeq.sorted.foreach { t =>
              st match {
                case None =>
                  st = Some(SessionState(t, t, 1))
                case Some(s) if t - s.lastMs >= gapMs =>
                  closed += Session.close(user, s, gapMs)
                  st = Some(SessionState(t, t, 1))
                case Some(s) =>
                  // min on start too: an out-of-order (but above-watermark)
                  // event can extend the session backwards, exactly as
                  // session_window would have merged it
                  st = Some(SessionState(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** The DECLARATIVE streaming sessionization — `Events.sessionizeAgg`
    * (the exact `session_window` aggregate behind the DuckDB-checked
    * `events_sessionize` row) run verbatim as a watermarked streaming
    * query. This is the form users write FIRST; the
    * [[sessionize]] (flatMapGroupsWithState) and [[sessionizeTws]]
    * (transformWithState) twins exist for when session semantics outgrow
    * the built-in merge. In append mode a session row is emitted exactly
    * once, when the watermark passes its end (last event + gap) — unlike
    * the custom-state forms it cannot close a session EARLY on the
    * arrival of the next gap-separated event, but the converged output
    * over any finite input is the same row set (SensorStreamsSpec runs
    * the identical scenario through all three).
    *
    * State: Spark's session-window state store keeps one merged window
    * per (user, open session), evicted at watermark — the same O(1)/key
    * bound as the explicit-state forms.
    */
  def sessionizeDeclarative(stream: DataFrame): DataFrame =
    Events.sessionizeAgg(
      Events.withEventTime(stream).withWatermark("event_time", "2 minutes"))

  /** Stream-static enrichment join: the event stream against a STATIC
    * dimension frame (user → segment), the first join any production
    * pipeline adds. Stateless — each micro-batch joins the dim and moves on
    * (no streaming state at all), so it composes with any output mode. The
    * join core is `Events.enrichJoin`, the SAME function the DuckDB-checked
    * batch row `events_enriched` runs — convergence to that row is the
    * correctness contract (tested in SensorStreamsSpec).
    *
    * Scale: the static side is re-planned per micro-batch — AQE broadcasts
    * it while it fits, and a huge dim degrades to a shuffle on user_id, not
    * to driver state.
    */
  def enriched(stream: DataFrame, dim: DataFrame): DataFrame =
    Events.enrichJoin(Events.withEventTime(stream), dim)
      .select("event_id", "user_id", "event_type", "value", "segment")

  /** Watermarked stream-stream interval join: purchases attributed to the
    * same user's clicks within `Events.AttributionWindow`, both sides carved
    * from ONE source stream. Each side carries its own watermark and the
    * join condition bounds purchase_time to [click_time, click_time+window],
    * which is exactly what lets Spark evict state: a click older than
    * (watermark − window) can never match a future purchase, so its state
    * is dropped — retention is O(window × arrival rate), not unbounded.
    * Inner join ⇒ matches emit as soon as both sides arrive (append mode).
    *
    * Same oracle-checkable shape as [[enriched]]: the core is
    * `Events.attributionJoin`, shared with the DuckDB-verified batch row
    * `events_attribution`.
    */
  def attribution(stream: DataFrame): DataFrame = {
    val e = Events.withEventTime(stream)
    Events.attributionJoin(
      Events.clicksOf(e).withWatermark("click_time", "2 minutes"),
      Events.purchasesOf(e).withWatermark("purchase_time", "2 minutes"))
  }

  /** Left-outer twin of [[attribution]]: every click eventually emits —
    * matched rows as both sides arrive, UNCONVERTED clicks (null purchase
    * columns) only once the purchase-side watermark passes
    * click_time + window, because until then a match could still arrive.
    * This deferred-null emission is the defining outer-join semantics under
    * a watermark; the batch twin is the DuckDB-checked
    * `events_attribution_outer` row the finite stream must converge to.
    */
  def attributionOuter(stream: DataFrame): DataFrame =
    attributionJoinType(stream, "left_outer")

  /** Full-outer twin: unmatched rows from BOTH sides emit with nulls once
    * the watermark closes their window (batch twin: `events_attribution_full`).
    */
  def attributionFull(stream: DataFrame): DataFrame =
    attributionJoinType(stream, "full_outer")

  private def attributionJoinType(stream: DataFrame, joinType: String): DataFrame = {
    val e = Events.withEventTime(stream)
    Events.attributionJoin(
      Events.clicksOf(e).withWatermark("click_time", "2 minutes"),
      Events.purchasesOf(e).withWatermark("purchase_time", "2 minutes"),
      joinType)
  }

  /** [[sessionize]] re-expressed on Spark 4's `transformWithState` — the
    * successor API to `flatMapGroupsWithState` and the one a new pipeline
    * should target: explicit named state handles, first-class event-time
    * TIMERS (a set per key, not one timeout), and RocksDB-only state (the
    * backend the API assumes at scale). Same semantics, same [[Session]]
    * output, same batch `session_window` oracle; the spec runs both
    * implementations through the identical scenario.
    *
    * Timer discipline: extending a session DELETES the old timer before
    * registering the new one (timers accumulate, unlike setTimeoutTimestamp),
    * and [[handleExpiredTimer]] double-checks the expiry against current
    * state so a stale timer that raced an extension closes nothing.
    */
  class SessionProcessor extends StatefulProcessor[Long, (Long, java.sql.Timestamp), Session] {
    @transient private var state: ValueState[SessionState] = _
    private val gapMs = Events.SessionGapMs

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[Session] = {
      val closed = Seq.newBuilder[Session]
      val prior = if (state.exists()) Some(state.get()) else None
      var st = prior
      rows.map(_._2.getTime).toSeq.sorted.foreach { t =>
        st match {
          case None =>
            st = Some(SessionState(t, t, 1))
          case Some(s) if t - s.lastMs >= gapMs =>
            closed += Session.close(user, s, gapMs)
            st = Some(SessionState(t, t, 1))
          case Some(s) =>
            st = Some(SessionState(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
        }
      }
      st.foreach { s =>
        state.update(s)
        prior.filter(_.lastMs != s.lastMs)
          .foreach(p => getHandle.deleteTimer(p.lastMs + gapMs))
        getHandle.registerTimer(s.lastMs + gapMs)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Session] =
      if (state.exists() && state.get().lastMs + gapMs <= expired.getExpiryTimeInMs) {
        val out = Session.close(user, state.get(), gapMs)
        state.clear()
        Iterator.single(out)
      } else Iterator.empty // stale timer from a since-extended session
  }

  def sessionizeTws(stream: DataFrame): Dataset[Session] = {
    val spark = stream.sparkSession
    import spark.implicits._
    Events.withEventTime(stream)
      .withWatermark("event_time", "2 minutes")
      .select(col("user_id"), col("event_time"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor, TimeMode.EventTime, OutputMode.Append)
  }

  /** Streaming exact dedup — the unbounded twin of the batch `dedup_exact`
    * operator: duplicate `event_id`s are dropped across micro-batches ON THE
    * ID ALONE (`dropDuplicatesWithinWatermark`, so a producer retry with a
    * jittered timestamp still dedups), with the watermark bounding the state
    * (an id older than the delay is evicted; a duplicate arriving later than
    * that is not detected — the standard watermark trade).
    */
  def dedupedEvents(stream: DataFrame): DataFrame =
    Events.withEventTime(stream)
      .withWatermark("event_time", "2 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Data-quality observability: `observe()` metrics evaluated inline with
    * each micro-batch (no extra pass, no extra action) and surfaced on
    * `StreamingQueryProgress.observedMetrics` — row count, null event
    * times, and negative values per batch. A production pipeline alerts on
    * these; here the spec asserts them. Works identically on batch frames
    * (metrics via `QueryExecutionListener`).
    */
  def withQualityMetrics(df: DataFrame, name: String = "quality"): DataFrame =
    df.observe(name,
      count(lit(1)).as("rows"),
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("null_ts"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("negative_values"))

  /** K2/T5/T6: console sink, update mode, processing-time trigger (10 s in
    * the reference; configurable so tests don't wall-clock-wait).
    *
    * `checkpointDir`: pass a durable location in production — the engine then
    * persists source offsets + operator state per micro-batch, and a restart
    * from the same directory resumes exactly where the previous run stopped
    * (proved by the recovery test in SensorStreamsSpec). The reference runs
    * checkpoint-free fire-and-forget; we keep that as the default for parity
    * but the production path is one argument away.
    */
  def startConsole(df: DataFrame, name: String,
                   triggerInterval: String = "10 seconds",
                   checkpointDir: Option[String] = None): StreamingQuery = {
    val w = df.writeStream
      .queryName(name)
      .outputMode("update")
      .format("console")
      .option("truncate", value = false)
      .trigger(Trigger.ProcessingTime(triggerInterval))
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Memory-table sink twin of [[startConsole]] — same update mode + trigger,
    * but queryable (`SELECT * FROM <name>`); used by tests and the demo.
    * Same `checkpointDir` contract as [[startConsole]] with one caveat: the
    * memory sink itself is NOT fault-tolerant — offsets and operator state
    * recover from the checkpoint, but the in-memory table restarts empty, so
    * in update/append mode rows emitted before the restart are gone. Use
    * complete mode (the recovery test does) or a durable sink
    * ([[startDurable]]) when output must survive a restart.
    */
  def startMemory(df: DataFrame, name: String, outputMode: String = "update",
                  triggerInterval: String = "10 seconds",
                  checkpointDir: Option[String] = None): StreamingQuery = {
    val w = df.writeStream
      .queryName(name)
      .outputMode(outputMode)
      .format("memory")
      .trigger(Trigger.ProcessingTime(triggerInterval))
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Exactly-once durable sink: `foreachBatch` → parquet, one
    * `batch_id=<n>` directory per micro-batch, written with OVERWRITE.
    *
    * Why this is exactly-once: after a crash between "output written" and
    * "batch committed to the checkpoint", Structured Streaming re-runs the
    * SAME batchId over the SAME offsets range — at-least-once delivery with
    * deterministic replay. The overwrite of the batch's own directory makes
    * that replay idempotent (the second write replaces, never appends), and
    * at-least-once + idempotent = exactly-once table contents. Readers see
    * the table as `spark.read.parquet(outDir)` with `batch_id` as a
    * discovered partition column (prune it or drop it).
    *
    * This is the production ending of a Q4-class pipeline — the reference
    * stops at the console sink; a real pipeline lands in a table. Scale: the
    * write inherits the batch's partitioning (no repartition here — size
    * output files via the trigger interval), and per-batch directories also
    * give cheap retention deletes.
    */
  /** The idempotent per-batch writer [[startDurable]] installs — exposed so
    * tests can wrap it with an injected post-write crash and prove the
    * replay semantics against the real failure path.
    */
  def durableBatchWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  def startDurable(df: DataFrame, outDir: String, checkpointDir: String,
                   triggerInterval: String = "10 seconds"): StreamingQuery =
    BatchSink.start(df, "durable_sink", checkpointDir, triggerInterval)(
      durableBatchWriter(outDir))

  /** T8: the reference's three concurrent queries over ONE source directory
    * (q4 cell 0:61-123): per-key stats, tumbling, sliding. With
    * `checkpointRoot`, each query checkpoints under `<root>/<name>`
    * (concurrent queries must never share a checkpoint directory).
    */
  def startAll(spark: SparkSession, dir: String,
               triggerInterval: String = "10 seconds",
               checkpointRoot: Option[String] = None): Seq[StreamingQuery] = {
    val src = parsed(fileSource(spark, dir))
    def ckpt(name: String): Option[String] = checkpointRoot.map(r => s"$r/$name")
    Seq(
      startMemory(perKeyStats(src), "sensor_per_key", "update", triggerInterval,
        ckpt("sensor_per_key")),
      startMemory(tumbling(src), "sensor_tumbling", "update", triggerInterval,
        ckpt("sensor_tumbling")),
      startMemory(sliding(src), "sensor_sliding", "update", triggerInterval,
        ckpt("sensor_sliding")))
  }

  /** K4: enumerate + stop every active query (q4 cell 2). */
  def stopAll(spark: SparkSession): Unit =
    spark.streams.active.foreach(_.stop())
}
