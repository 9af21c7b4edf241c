package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Events

/** Streaming semantics against the batch twins (SURVEY §5.3): a Structured
  * Streaming query over a finite MemoryStream input must converge to the
  * same result as the DuckDB-verified batch functions, and a watermarked
  * query must drop rows older than the watermark (T2/T7) without re-emitting
  * finalized windows.
  *
  * Convergence runs in complete mode on on-time data only (complete mode
  * retains all state, so watermark-dropping is not part of its contract);
  * late-row semantics are asserted separately in update mode, where the
  * reference runs (T5).
  */
class SensorStreamsSpec extends StreamFixtures {
  import spark.implicits._
  implicit private def sqlCtx: SQLContext = spark.sqlContext

  /** Feed two micro-batches through `transform` into a memory sink. */
  private def runStream(transform: DataFrame => DataFrame, mode: String,
                        name: String, second: Seq[Ev]): Unit = {
    val src = MemoryStream[Ev]
    val q = transform(src.toDF).writeStream
      .queryName(name).outputMode(mode).format("memory").start()
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      src.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  test("per-key stats stream (A5, unwatermarked) converges to the batch twin") {
    runStream(SensorStreams.perKeyStats, "complete", "conv_per_key", Seq(late, onTime2))
    val streamed = spark.table("conv_per_key").orderBy("event_type").collect().toSeq
    // unwatermarked: every row aggregates, late or not — exactly the batch twin
    val batch = Events.perKeyStats((batch1 :+ late :+ onTime2).toDF)
      .orderBy("event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("tumbling window stream (T3) converges to the batch twin") {
    runStream(SensorStreams.tumbling, "complete", "conv_tumbling", Seq(onTime2))
    val streamed = spark.table("conv_tumbling").orderBy("window_start").collect().toSeq
    val batch = Events.tumbling((batch1 :+ onTime2).toDF)
      .orderBy("window_start").collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("sliding window stream (T4) converges to the batch twin") {
    runStream(SensorStreams.sliding, "complete", "conv_sliding", Seq(onTime2))
    val streamed = spark.table("conv_sliding").orderBy("window_start", "event_type").collect().toSeq
    val batch = Events.sliding((batch1 :+ onTime2).toDF)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("watermark drops late rows in update mode without re-emitting their window (T2/T7)") {
    runStream(SensorStreams.tumbling, "update", "late_update", Seq(late, onTime2))
    val rows = spark.table("late_update").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    // batch1 emitted [00:00, 00:05) with 2 events; the late event 5 (00:01,
    // 18 min older than the 00:20 max) must NOT bump it to 3
    assert(rows.contains(("2024-01-01 00:00:00", 2L)))
    assert(!rows.contains(("2024-01-01 00:00:00", 3L)))
    // the on-time event 6 lands in [00:20, 00:25) alongside event 4
    assert(rows.contains(("2024-01-01 00:20:00", 2L)))
  }

  test("declared-schema file source feeds three concurrent queries (S3/T8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_test")
    writeJson(dir, Seq(batch1, Seq(onTime2)))
    val queries = SensorStreams.startAll(spark, dir.toString, triggerInterval = "1 second")
    try {
      assert(queries.length === 3 && spark.streams.active.length >= 3)
      queries.foreach(_.processAllAvailable())
      val streamed = spark.sql(
        "SELECT event_type, max(n_events) AS n FROM sensor_per_key GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = Events.perKeyStats((batch1 :+ onTime2).toDF)
        .orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamed === batch)
    } finally SensorStreams.stopAll(spark)
    assert(spark.streams.active.isEmpty)
  }

  for ((tag, providerClass) <- providers)
    test(s"checkpointed stream restarts with state AND source offsets intact ($tag provider)") {
      assertRestartKeepsStateAndOffsets(tag, providerClass)
    }

  test("console sink runs a micro-batch in update mode (K2)") {
    val src = MemoryStream[Ev]
    val q = SensorStreams.startConsole(SensorStreams.perKeyStats(src.toDF),
      "console_q", "1 second")
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).sum === batch1.length.toLong)
      assert(q.lastProgress.sink.description.toLowerCase.contains("console"))
    } finally q.stop()
  }

  for ((tag, providerClass) <- providers)
    test(s"flatMapGroupsWithState sessionization closes sessions by gap and by timeout ($tag provider)") {
      withConf(StateProviderKey, providerClass) {
        sessionizeScenario(s"fmgws_$tag", df => SensorStreams.sessionize(df).toDF)
      }
    }

  test("transformWithState sessionization matches the same scenario (rocksdb provider)") {
    // the TWS API supports only the RocksDB state store
    withConf(StateProviderKey, providers.toMap.apply("rocksdb")) {
      sessionizeScenario("tws", df => SensorStreams.sessionizeTws(df).toDF)
    }
  }

  test("declarative session_window streaming twin converges to the same scenario") {
    // the form users write first: the batch session_window aggregate itself,
    // watermarked — emission waits for the watermark instead of closing
    // early on a gap event, but the converged row set is identical
    sessionizeScenario("declarative", SensorStreams.sessionizeDeclarative)
  }

  private def sessionizeScenario(tag: String,
                                 sessionizer: DataFrame => DataFrame): Unit = {
    val src = MemoryStream[Ev]
    val q = sessionizer(src.toDF).writeStream
      .queryName(s"sessions_$tag").outputMode("append").format("memory").start()
    try {
      // b1: user 1 two events 60s apart, user 2 one event
      src.addData(
        ev(1, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 1),
        ev(2, "2024-01-01T00:01:00Z", "click", 1.0).copy(user_id = 1),
        ev(3, "2024-01-01T00:00:00Z", "view", 1.0).copy(user_id = 2))
      q.processAllAvailable()
      // b2: user 1 returns 13h later (> 12h gap → closes session A on arrival);
      // user 99 pushes the watermark to ~30h
      src.addData(
        ev(4, "2024-01-01T13:00:00Z", "click", 1.0).copy(user_id = 1),
        ev(5, "2024-01-02T06:00:00Z", "view", 1.0).copy(user_id = 99))
      q.processAllAvailable()
      // b3: user 99 again 30h later — closes its first session by gap, and the
      // ~30h watermark from b2 times out user 1's and user 2's open sessions
      src.addData(ev(6, "2024-01-03T12:00:00Z", "view", 1.0).copy(user_id = 99))
      q.processAllAvailable()

      val sessions = spark.table(s"sessions_$tag").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      val expected = Set(
        (1L, "2024-01-01 00:00:00", "2024-01-01 12:01:00", 2L), // closed by gap in b2
        (1L, "2024-01-01 13:00:00", "2024-01-02 01:00:00", 1L), // closed by timeout in b3
        (2L, "2024-01-01 00:00:00", "2024-01-01 12:00:00", 1L), // closed by timeout in b3
        (99L, "2024-01-02 06:00:00", "2024-01-02 18:00:00", 1L)) // closed by gap in b3
      assert(sessions === expected)
      // every closed session matches a row of the batch session_window twin
      val batchRows = Events.sessionizeAgg(
          Events.withEventTime(Seq(
            ev(1, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 1),
            ev(2, "2024-01-01T00:01:00Z", "click", 1.0).copy(user_id = 1),
            ev(3, "2024-01-01T00:00:00Z", "view", 1.0).copy(user_id = 2),
            ev(4, "2024-01-01T13:00:00Z", "click", 1.0).copy(user_id = 1),
            ev(5, "2024-01-02T06:00:00Z", "view", 1.0).copy(user_id = 99),
            ev(6, "2024-01-03T12:00:00Z", "view", 1.0).copy(user_id = 99)).toDF))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(sessions.subsetOf(batchRows))
    } finally q.stop()
  }

  test("streaming exact dedup drops repeated event_ids across micro-batches") {
    val src = MemoryStream[Ev]
    val q = SensorStreams.dedupedEvents(src.toDF)
      .select("event_id").writeStream
      .queryName("deduped").outputMode("append").format("memory").start()
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      // replay event 4 ABOVE the 00:18 watermark — its drop must come from
      // dedup state, not the late-data filter — plus a jittered-timestamp
      // retry of it, plus one genuinely new event
      src.addData(batch1(3), batch1(3).copy(ts = Timestamp.from(
        Instant.parse("2024-01-01T00:20:30Z"))), onTime2)
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L, 4L, 6L))
      assert(ids.distinct.length === ids.length)
    } finally q.stop()
  }

  test("stream-static enrichment join converges to the batch twin") {
    val dim = Seq((1L, "AUTO"), (2L, "HOUSE"), (3L, "MACH"), (6L, "BLDG"))
      .toDF("user_id", "segment")
    val src = MemoryStream[Ev]
    val q = SensorStreams.enriched(src.toDF, dim).writeStream
      .queryName("conv_enriched").outputMode("append").format("memory").start()
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      src.addData(late, onTime2) // stateless: the "late" row still enriches
      q.processAllAvailable()
      val streamed = spark.table("conv_enriched").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
        .toSet
      val batch = SensorStreams.enriched((batch1 :+ late :+ onTime2).toDF, dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
        .toSet
      // user 5 (event 5, 5 % 7) and user 4 are absent from the dim → inner
      // join drops them in BOTH paths; everything else enriches identically
      assert(streamed === batch && streamed.nonEmpty)
      assert(!streamed.exists(_._2 == 4L))
    } finally q.stop()
  }

  test("watermarked stream-stream interval join matches across micro-batches and converges") {
    val events = Seq(
      ev(1, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 1),
      ev(2, "2024-01-01T01:00:00Z", "purchase", 9.0).copy(user_id = 1), // in-window (1h)
      ev(3, "2024-01-01T00:30:00Z", "click", 1.0).copy(user_id = 2),
      ev(4, "2024-01-01T08:00:00Z", "purchase", 9.0).copy(user_id = 2), // out of 6h window
      ev(5, "2024-01-01T05:30:00Z", "purchase", 9.0).copy(user_id = 1)) // 2nd match for click 1
    val src = MemoryStream[Ev]
    val q = SensorStreams.attribution(src.toDF).writeStream
      .queryName("conv_attr").outputMode("append").format("memory").start()
    try {
      // clicks arrive first; both matching purchases arrive in LATER
      // micro-batches — the matches can only come from buffered join state
      src.addData(events(0), events(2))
      q.processAllAvailable()
      src.addData(events(1), events(3))
      q.processAllAvailable()
      src.addData(events(4))
      q.processAllAvailable()
      val streamed = spark.table("conv_attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
        .toSet
      val e = Events.withEventTime(events.toDF)
      val batch = Events.attributionJoin(Events.clicksOf(e), Events.purchasesOf(e)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
        .toSet
      assert(streamed === batch)
      assert(streamed.map(t => (t._2, t._3)) === Set((1L, 2L), (1L, 5L))) // click 1 → purchases 2 and 5
    } finally q.stop()
  }

  test("attribution window bounds are inclusive at both ends (batch core)") {
    val events = Seq(
      ev(1, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 1),
      ev(2, "2024-01-01T00:00:00Z", "purchase", 9.0).copy(user_id = 1), // t = click_time exactly
      ev(3, "2024-01-01T06:00:00Z", "purchase", 9.0).copy(user_id = 1), // t = click_time + 6h exactly
      ev(4, "2024-01-01T06:00:00.001Z", "purchase", 9.0).copy(user_id = 1), // 1ms past → out
      ev(5, "2023-12-31T23:59:59.999Z", "purchase", 9.0).copy(user_id = 1)) // 1ms before → out
    val e = Events.withEventTime(events.toDF)
    val got = Events.attributionJoin(Events.clicksOf(e), Events.purchasesOf(e))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L), (1L, 3L)))
  }

  test("left-outer stream-stream join emits unmatched clicks only after the watermark") {
    val click = ev(1, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 1)
    val purchase = ev(2, "2024-01-01T01:00:00Z", "purchase", 9.0).copy(user_id = 2) // other user
    val src = MemoryStream[Ev]
    val q = SensorStreams.attributionOuter(src.toDF).writeStream
      .queryName("conv_attr_outer").outputMode("append").format("memory").start()
    try {
      src.addData(click, purchase)
      q.processAllAvailable()
      // the 6h window is still open — the unmatched click must NOT have
      // emitted its null row yet (a purchase could still arrive)
      assert(spark.table("conv_attr_outer").isEmpty)
      // push BOTH sides' watermarks past click_time + 6h + 2min delay (the
      // join's state watermark is the min across inputs, so an idle click
      // side would hold the null emission back forever)
      src.addData(
        ev(3, "2024-01-01T12:00:00Z", "purchase", 9.0).copy(user_id = 3),
        ev(4, "2024-01-01T12:00:00Z", "click", 1.0).copy(user_id = 9))
      q.processAllAvailable()
      src.addData(
        ev(5, "2024-01-02T00:00:00Z", "purchase", 9.0).copy(user_id = 3),
        ev(6, "2024-01-02T00:00:00Z", "click", 1.0).copy(user_id = 9))
      q.processAllAvailable()
      val rows = spark.table("conv_attr_outer").collect()
        .map(r => (r.getLong(1), Option(r.get(2)))).toSet
      // clicks 1 and 4 (windows closed under the final watermark) emitted
      // exactly once each with a NULL purchase; click 6's window is still
      // open, so it must NOT have emitted
      assert(rows === Set((1L, None), (4L, None)))
    } finally q.stop()
  }

  test("full-outer stream-stream join also emits unattributed purchases after the watermark") {
    val src = MemoryStream[Ev]
    val q = SensorStreams.attributionFull(src.toDF).writeStream
      .queryName("conv_attr_full").outputMode("append").format("memory").start()
    try {
      // purchase with NO preceding click for its user — full-outer must
      // eventually emit it with a null click; a matched pair rides along
      src.addData(
        ev(1, "2024-01-01T00:00:00Z", "purchase", 9.0).copy(user_id = 1),
        ev(2, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 2),
        ev(3, "2024-01-01T01:00:00Z", "purchase", 9.0).copy(user_id = 2))
      q.processAllAvailable()
      // advance both sides' watermarks far past every window
      src.addData(
        ev(8, "2024-01-02T00:00:00Z", "click", 1.0).copy(user_id = 9),
        ev(9, "2024-01-02T00:00:00Z", "purchase", 9.0).copy(user_id = 8))
      q.processAllAvailable()
      src.addData(
        ev(10, "2024-01-03T00:00:00Z", "click", 1.0).copy(user_id = 9),
        ev(11, "2024-01-03T00:00:00Z", "purchase", 9.0).copy(user_id = 8))
      q.processAllAvailable()
      val rows = spark.table("conv_attr_full").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
          Option(r.get(2)).map(_.toString.toLong))).toSet
      // purchase 1: no click for user 1 → (null click, purchase) emitted;
      // click 2 matched purchase 3 (emitted eagerly, inner-style)
      assert(rows.contains((1L, None, Some(1L))))
      assert(rows.contains((2L, Some(2L), Some(3L))))
      // batch twin agrees on the same input
      val all = Seq(
        ev(1, "2024-01-01T00:00:00Z", "purchase", 9.0).copy(user_id = 1),
        ev(2, "2024-01-01T00:00:00Z", "click", 1.0).copy(user_id = 2),
        ev(3, "2024-01-01T01:00:00Z", "purchase", 9.0).copy(user_id = 2))
      val e = Events.withEventTime(all.toDF)
      val batch = Events.attributionJoin(Events.clicksOf(e), Events.purchasesOf(e), "full_outer")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong),
          Option(r.get(2)).map(_.toString.toLong))).toSet
      assert(batch.subsetOf(rows))
    } finally q.stop()
  }

  test("foreachBatch durable sink is exactly-once across a crash-replay of a batch") {
    val src = java.nio.file.Files.createTempDirectory("graft_eo_src")
    val out = java.nio.file.Files.createTempDirectory("graft_eo_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eo_ckpt")
    def stream = SensorStreams.parsed(SensorStreams.fileSource(spark, src.toString))
      .select("event_id", "user_id", "event_type", "value")

    // run 1 crashes AFTER the parquet write but BEFORE the checkpoint
    // commit — the worst spot: output is on disk, offsets are not marked
    // done, so on restart Spark re-runs the same batchId over the same
    // offsets (at-least-once, deterministic replay) and the per-batch
    // overwrite must absorb it
    writeJson(src, Seq(batch1))
    val writer = SensorStreams.durableBatchWriter(out)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writer(batch, batchId)
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash: output written, commit pending")
      }
      .option("checkpointLocation", ckpt.toString).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(crashed.get)

    writeJson(src, Seq(Seq(onTime2)), from = 1)
    val q2 = SensorStreams.startDurable(stream, out, ckpt.toString, "1 second")
    try q2.processAllAvailable() finally q2.stop()

    val landed = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0)).toSeq
    // every input row exactly once: the replayed batch overwrote its own
    // directory instead of appending a duplicate copy
    assert(landed.sorted === (batch1 :+ onTime2).map(_.event_id).sorted)
  }

  test("observe() surfaces per-batch data-quality metrics on query progress") {
    val src = MemoryStream[Ev]
    val q = SensorStreams.perKeyStats(
        SensorStreams.withQualityMetrics(src.toDF))
      .writeStream.queryName("observed_q").outputMode("complete").format("memory").start()
    try {
      src.addData(batch1 :+ batch1.head.copy(event_id = 99, value = -5.0): _*)
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("quality"))).last
      assert(m.getAs[Long]("rows") === batch1.length + 1L)
      assert(m.getAs[Long]("null_ts") === 0L)
      assert(m.getAs[Long]("negative_values") === 1L)
    } finally q.stop()
  }

  test("query lifecycle: active registry empties after stopAll (K4)") {
    val src = MemoryStream[Ev]
    SensorStreams.startMemory(SensorStreams.perKeyStats(src.toDF), "lifecycle_q",
      triggerInterval = "1 second")
    assert(spark.streams.active.nonEmpty)
    SensorStreams.stopAll(spark)
    assert(spark.streams.active.isEmpty)
  }
}
