package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Scratch, Sessions}
import graft.streaming.SensorStreams

/** The benchmark's JVM side. `run.py` builds it, generates the seed's inputs
  * and expected digests, then calls
  *
  *   graftbench.Main oracle-sql --out FILE
  *   graftbench.Main train --tables DIR --drop FILE --cpus N --work DIR
  *   graftbench.Main run --workload W --data DIR --expected FILE --seconds S
  *                       --trace 0|1 --cpus N --work DIR --out FILE --spans FILE
  *
  * `run` writes raw samples (set-ups, units, operations, stream batches,
  * kernel probe) to `--out`; `stats.py` turns them into metrics.
  */
object Main {

  case class Q(name: String, module: String, fn: (SparkSession, String) => DataFrame)

  def moduleName(m: QueryModule): String = m.getClass.getName.stripPrefix("graft.").stripSuffix("$")

  val Relational: Seq[QueryModule] = Seq(graft.operators.Retail, graft.operators.Nested,
    graft.operators.TextStats, graft.operators.Events, graft.operators.AsOfJoin,
    graft.operators.RangeJoin, graft.operators.BloomJoin, graft.operators.SkewJoin)
  val Pipeline: Seq[QueryModule] = Seq(graft.pipeline.Dedup, graft.operators.FuzzyJoin)

  /** The timed query lists. Both are trimmed from their modules' full
    * registries so that a run fits the benchmark's time budget (README.md):
    * `relational_warm` keeps every module of the relational surface, the
    * plans rewrites (`q2_join_eliminated`, `events_asof_view_native`) and the
    * batch twins of the streaming queries (`t1`/`t3`/`t4`); `pipeline_dag`
    * keeps a full producer-to-consumer chain of each memo family, in
    * producer-first order so each build lands on its owner. */
  val Lists: Map[String, Seq[String]] = Map(
    "relational_warm" -> Seq("tpch_q1_pricing", "q2_join_eliminated", "q3_customer_pivot",
      "q1_wordcount_top20", "t1_per_key_stats", "t3_tumbling_window", "t4_sliding_window",
      "events_asof_view_native", "range_join_price_tiers", "bloom_join_filtered_revenue",
      "skew_join_salted_revenue"),
    "pipeline_dag" -> Seq("dedup_minhash_lsh", "fuzzy_name_neighbors", "dedup_components",
      "customer_entity_clusters", "dedup_canonical"))

  /** The workload's queries, in run order; every one has oracle SQL. */
  def queries(workload: String): Seq[Q] = {
    val byName = (Relational ++ Pipeline).flatMap { m =>
      m.queries.map { case (n, f) => n -> Q(n, moduleName(m), f) }
    }.toMap
    Lists.getOrElse(workload, Nil).map(byName)
  }

  def oracleSql: Map[String, String] = (Relational ++ Pipeline).flatMap(_.oracle).toMap

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Every workload's code path once on small tables, for the class-data
    * archive `run.py` has this JVM write at exit. */
  def train(tables: String, drop: String, cpus: String, work: Path): Unit = {
    val spark = Sessions.local(cpus)
    Lists.keys.toSeq.sorted.flatMap(queries).foreach { q =>
      try q.fn(spark, tables).collect()
      catch { case e: Throwable => System.err.println(s"[graftbench] train ${q.name}: $e") }
    }
    val watch = work.resolve("watch")
    Files.createDirectories(watch)
    Files.copy(Paths.get(drop), watch.resolve("drop_00000.json"))
    val streams = SensorStreams.startAll(spark, watch.toString, "100 milliseconds",
      Some(work.resolve("ckpt").toString))
    streams.foreach(_.processAllAvailable())
    SensorStreams.stopAll(spark)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args(0) match {
      case "oracle-sql" =>
        val all = Lists.keys.map { w =>
          w -> queries(w).map(q => Map("name" -> q.name, "module" -> q.module, "sql" -> oracleSql(q.name)))
        }.toMap
        Json.write(Paths.get(o("out")), all)
      case "train" =>
        train(o("tables"), o("drop"), o("cpus"), Paths.get(o("work")))
        System.exit(0)
      case "run" =>
        val code = new Runner(o).run()
        // everything is written; skip the shutdown hooks (session stop,
        // scratch cleanup), since run.py deletes the run's directory
        Runtime.getRuntime.halt(code)
    }
  }
}

/** One benchmark run of one workload. */
final class Runner(o: Map[String, String]) {
  import Main._

  private val workload = o("workload")
  private val data = o("data")
  private val tables = s"$data/tables"
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val cpus = o("cpus")
  private val work = Paths.get(o("work"))
  /** Expected digests; on a seed's first run `run.py` computes them once the
    * set-ups are done, and the JVM waits for them before its warm-up. */
  private lazy val expected: Map[String, String] = {
    val p = Paths.get(o("expected"))
    val deadline = System.currentTimeMillis() + 150000
    while (!Files.exists(p) && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Json.readStringMap(p)
  }

  private var spark: SparkSession = _
  private var trace: Trace = _
  private val ops = mutable.Buffer.empty[Map[String, Any]]
  private val units = mutable.Buffer.empty[Map[String, Any]]
  private val spans = mutable.Buffer.empty[Map[String, Any]]
  private val failures = mutable.Buffer.empty[String]
  private def now: Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Spans of a traced run, kept in memory and written at the end. A span
    * names its layer and its parent span (-1 for none); a layer's self time
    * is its span minus the part its child spans cover. */
  private var lastSpanId = -1
  private var unitSpan = -1
  private def spanId(): Int = { lastSpanId += 1; lastSpanId }

  private def span(id: Int, parent: Int, layer: String, name: String, t0: Long, t1: Long,
                   extra: Map[String, Any] = Map.empty): Unit =
    if (traced) spans += Map("id" -> id, "parent" -> parent, "layer" -> layer, "name" -> name,
      "start_ns" -> t0, "ms" -> ms(t0, t1)) ++ extra

  /** Session start and table registration (schema + footer read of every
    * table); the first one also pays JVM start and class loading. */
  private def setUp(i: Int): Map[String, Any] = {
    val id = spanId()
    val t0 = now
    val sinceStart = if (i == 0) (System.currentTimeMillis() - Proc.startMs) / 1e3 else 0.0
    if (spark != null) spark.stop()
    val s0 = now
    spark = Sessions.local(cpus)
    val s1 = now
    span(spanId(), id, "Sessions", "local", s0, s1)
    TableNames.foreach(t => spark.read.parquet(s"$tables/$t.parquet").schema)
    val t1 = now
    span(spanId(), id, "Tables", "register", s1, t1)
    span(id, -1, "harness", s"setup_$i", t0, t1)
    Map("total_s" -> (sinceStart + (t1 - t0) / 1e9), "session_ms" -> ms(s0, s1))
  }

  private def scratchBytes: Long =
    if (!traced) 0L
    else {
      val root = Paths.get(Scratch.root)
      if (!Files.exists(root)) 0L
      else {
        val w = Files.walk(root)
        try w.iterator().asScala.filter(Files.isRegularFile(_)).map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum
        finally w.close()
      }
    }

  /** Construct + collect one timed query, digest-check it against the oracle. */
  private def runQuery(q: Q, unit: Int): Unit = {
    val tr = tracing
    val snap0 = if (tr) trace.snapshot() else Map.empty[String, Long]
    val b0 = Scratch.buildsCount
    val z0 = if (tr) scratchBytes else 0L
    val c0 = Proc.cpuS
    val t0 = now
    var t1 = t0
    var t2 = t0
    var c1 = c0
    var err: Option[String] = None
    try {
      val df = q.fn(spark, tables)
      t1 = now
      val rows = df.collect()
      t2 = now
      c1 = Proc.cpuS
      val got = Digest.of(df.columns.toSeq, rows)
      val want = expected.getOrElse(q.name, "<no oracle digest>")
      if (got != want) err = Some(s"digest mismatch: got $got want $want")
    } catch {
      case e: Throwable =>
        t2 = now
        c1 = Proc.cpuS
        if (t1 == t0) t1 = t2
        err = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val builds = Scratch.buildsCount - b0
    spark.catalog.clearCache()
    Scratch.sweepEphemeral()
    val layers = if (tr) Trace.delta(snap0, trace.snapshot()) ++
      Map("scratch_bytes" -> (scratchBytes - z0)) else Map.empty[String, Long]
    ops += Map("unit" -> unit, "name" -> q.name, "module" -> q.module, "ms" -> ms(t0, t2),
      "construct_ms" -> ms(t0, t1), "cpu_s" -> (c1 - c0), "builds" -> builds,
      "ok" -> err.isEmpty, "layers" -> layers)
    val id = spanId()
    span(id, unitSpan, q.module, q.name, t0, t2, Map("builds" -> builds))
    span(spanId(), id, q.module, "construct", t0, t1)
    span(spanId(), id, "exec", "action", t1, t2)
    err.foreach(e => failures += s"${q.name}: $e")
  }

  /** True while a traced unit runs. A traced run leaves some units
    * untraced, so it measures its own tracing overhead. */
  private var tracing = false

  private def unit(id: Int, kind: String, traceIt: Boolean)(body: => Unit): Unit = {
    tracing = traced && traceIt
    if (tracing) trace.attach()
    units += Map("unit" -> id, "kind" -> kind, "traced" -> tracing)
    unitSpan = spanId()
    val t0 = now
    body
    span(unitSpan, -1, "harness", s"$kind $id", t0, now, Map("traced" -> tracing))
    unitSpan = -1
    if (tracing) trace.detach()
    tracing = false
  }

  /** Repeat `body(rep)` for the run's measuring time, at least `minReps`
    * times, at most `maxReps`. */
  private def repeat(minReps: Int, maxReps: Int = Int.MaxValue)(body: Int => Unit): Unit = {
    val t0 = now
    var rep = 0
    while (rep < maxReps && (rep < minReps || (now - t0) / 1e9 < seconds)) { body(rep); rep += 1 }
  }

  private var warmupS = 0.0

  private def warmup(body: => Unit): Unit = {
    val t0 = now
    body
    val t1 = now
    warmupS = (t1 - t0) / 1e9
    span(spanId(), -1, "harness", "warmup", t0, t1)
  }

  /** One round of untimed JIT and codegen warm-up: every query once on the
    * timed tables, `cpus` at a time (concurrent callers of one memo share its
    * build; the timed region resets the memos first). */
  private def warmRound(qs: Seq[Q]): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until cpus.toInt).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < qs.size) {
          try qs(i).fn(spark, tables).collect()
          catch { case e: Throwable => System.err.println(s"[graftbench] warm-up ${qs(i).name}: $e") }
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    spark.catalog.clearCache()
    Scratch.sweepEphemeral()
  }

  private def resetScratch(): Unit = { Scratch.clearMemo(); Scratch.dropBucketedTables(spark) }

  def run(): Int = {
    val setups = (0 until 3).map(setUp)
    Files.writeString(work.resolve("setup.done"), "")
    val jvm0 = Map("jit_s" -> Proc.jitS, "gc_s" -> Proc.gcS)
    trace = new Trace(spark)
    var stream: Map[String, Any] = Map.empty
    workload match {
      case "relational_warm" =>
        // three passes (33 queries); a traced run traces the middle one, so
        // a steady drift over the passes cancels out of the overhead
        val qs = queries(workload)
        expected
        warmup { for (_ <- 0 until 3) warmRound(qs) }
        repeat(3) { rep =>
          unit(rep, "pass", rep % 2 == 1) { qs.foreach(runQuery(_, rep)) }
        }
      case "pipeline_dag" =>
        // a cold pass that builds every memo, then five steady passes that
        // read them (30 queries); traced runs trace the cold pass and the
        // second steady pass. The warm-up is one round of each kind.
        val qs = queries(workload)
        val steadyPasses = 5
        expected
        warmup { resetScratch(); warmRound(qs); warmRound(qs) }
        repeat(1) { rep =>
          resetScratch()
          val u0 = (steadyPasses + 1) * rep
          unit(u0, "cold", traceIt = true) { qs.foreach(runQuery(_, u0)) }
          for (i <- 1 to steadyPasses)
            unit(u0 + i, "steady", i == 2) { qs.foreach(runQuery(_, u0 + i)) }
        }
      case "sensor_stream" =>
        stream = new StreamRun().run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val probe = if (traced) kernelProbe() else Map.empty[String, Double]
    val attempted = ops.size
    // a failed stream check fails every drop: no single drop can be blamed
    val failed = if (stream.get("check_ok").contains(false)) attempted else ops.count(_("ok") == false)
    val out = Map(
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus.toInt, "seconds" -> seconds,
      "setups" -> setups,
      "jvm" -> (jvm0 ++ Map("peak_rss_mb" -> Proc.peakRssMb, "warmup_s" -> warmupS)),
      "units" -> units.toSeq, "ops" -> ops.toSeq, "stream" -> stream, "probe" -> probe,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(50).toSeq)
    Json.write(Paths.get(o("out")), out)
    if (traced) Json.writeLines(Paths.get(o("spans")), spans.toSeq)
    0
  }

  /** Fixed kernel probe: each native function `pipeline_dag` leans on, once
    * per row of the seed's tables; median of 3 timed calls. The inputs are
    * plain scans, cached first, so a call times the kernel plus one small
    * job. */
  private def kernelProbe(): Map[String, Double] = {
    val docs = spark.read.parquet(s"$tables/documents.parquet")
      .selectExpr("array_distinct(split(text, ' ')) AS toks")
      .selectExpr("toks", "array_sort(hash60_array(toks)) AS g").filter("size(g) > 0")
    val names = spark.read.parquet(s"$tables/customer.parquet")
      .selectExpr("c_name AS a", "translate(c_name, '0123456789', '1234567890') AS b")
    val vecs = spark.read.parquet(s"$tables/embeddings.parquet").selectExpr("embedding AS v")
    val inputs = Seq(docs, names, vecs).map(_.cache())
    inputs.foreach(_.count())
    val probes = Seq(
      "hash60_array" -> (docs, "hash60_array(toks)"),
      "minhash_sig" -> (docs, "minhash_sig(g, 96)"),
      "simhash_sig" -> (docs, "simhash_sig(g)"),
      "jaccard_sorted" -> (docs, "jaccard_sorted(g, g)"),
      "lev_within" -> (names, "lev_within(a, b, 2)"),
      "vec_dot" -> (vecs, "vec_dot(v, v)"))
    val res = probes.map { case (fn, (df, e)) =>
      val q = df.selectExpr(s"sum(hash($e)) AS h")
      val times = (0 until 3).map { _ =>
        val t0 = now; q.collect(); val t1 = now
        span(spanId(), -1, "functions", fn, t0, t1)
        ms(t0, t1)
      }.sorted
      fn -> times(1)
    }.toMap
    inputs.foreach(_.unpersist())
    res
  }

  /** The Q4 streaming path in a closed loop with one client. */
  private final class StreamRun {
    private val drops = Paths.get(s"$data/drops")
    private val watch = work.resolve("watch")
    private val names = Seq("sensor_per_key", "sensor_tumbling", "sensor_sliding")
    private val manifest = Json.readMap(drops.resolve("manifest.json"))
    private def longs(k: String) = manifest(k).asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSeq
    private val rows = longs("rows")
    /** Rows in drops 0 until k: what every query has committed after drop k-1. */
    private val rowsBefore = rows.scanLeft(0L)(_ + _)
    private val lateIds = longs("late_ids")
    private val WarmDrops = 5
    private val BlockDrops = 5
    private val MaxBlocks = (rows.size - WarmDrops) / BlockDrops
    private var next = 0

    /** Move the next drop file in atomically (a hidden temp name first, which
      * the file source skips). */
    private def drop(): Unit = {
      val src = drops.resolve(f"drop_$next%05d.json")
      if (!Files.exists(src)) throw new IllegalStateException(s"out of generated drops at $next")
      val tmp = watch.resolve(f".drop_$next%05d.json.tmp")
      Files.copy(src, tmp)
      Files.move(tmp, watch.resolve(f"drop_$next%05d.json"), StandardCopyOption.ATOMIC_MOVE)
      next += 1
    }

    def run(): Map[String, Any] = {
      Files.createDirectories(watch)
      val progress = new StreamProgress(names)
      spark.streams.addListener(progress)
      val queries = SensorStreams.startAll(spark, watch.toString, "100 milliseconds",
        Some(work.resolve("ckpt").toString))
      def dropAndWait(unit: Int, record: Boolean): Unit = {
        val c0 = Proc.cpuS
        val t0 = now
        var ok = true
        val name = f"drop_$next%05d"
        val events = rows.lift(next).getOrElse(0L)
        try {
          drop()
          ok = progress.awaitRows(rowsBefore(next), 120000)
          if (!ok) failures += s"$name: not committed by every query within 120 s"
        } catch {
          case e: Throwable =>
            ok = false
            failures += s"$name: ${e.getClass.getName}: ${e.getMessage}"
        }
        val t1 = now
        if (record) {
          ops += Map("unit" -> unit, "name" -> name, "module" -> "streaming.SensorStreams",
            "ms" -> ms(t0, t1), "construct_ms" -> 0.0, "cpu_s" -> (Proc.cpuS - c0), "builds" -> 0L,
            "ok" -> ok, "layers" -> Map.empty[String, Long], "events" -> events,
            "commit_ms" -> progress.reachedAt(rowsBefore(next)).map(ms(t0, _)))
          span(spanId(), unitSpan, "streaming", name, t0, t1)
        }
      }
      warmup { for (_ <- 0 until WarmDrops) dropAndWait(-1, record = false) }
      val timedFrom = now
      // two blocks (10 drops, 30 commit latencies); a traced run makes three
      // and traces the middle one
      repeat(if (traced) 3 else 2, MaxBlocks) { rep =>
        unit(rep, "block", rep % 2 == 1) {
          val snap0 = if (tracing) trace.snapshot() else Map.empty[String, Long]
          val first = ops.size
          for (_ <- 0 until BlockDrops) dropAndWait(rep, record = true)
          // the block's task counters go on its first drop
          if (tracing) ops(first) = ops(first) + ("layers" -> Trace.delta(snap0, trace.snapshot()))
        }
      }
      val timedTo = now
      queries.foreach(_.processAllAvailable())
      SensorStreams.stopAll(spark)
      spark.streams.removeListener(progress)
      val (checkOk, detail) = check()
      if (!checkOk) failures += s"stream check: $detail"
      val batches = progress.batches.asScala.toSeq.filter { case (t, _) => t >= timedFrom && t <= timedTo }
        .map { case (_, p) =>
          Map("query" -> p.name, "rows" -> p.numInputRows,
            "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
            "dropped_late" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        }
      Map("batches" -> batches, "check_ok" -> checkOk)
    }

    /** The three sinks against the batch twins over the same files: per-key
      * stats over every row (that query has no watermark), windows over the
      * rows the watermark kept (all but the generator's late rows). The sinks
      * run in update mode, so a key's final state is its last row, which is
      * the one with the highest (monotone) count. */
    private def check(): (Boolean, String) = {
      val batch = SensorStreams.parsed(spark.read.schema(SensorStreams.eventSchema).json(watch.toString))
      val kept = batch.filter(!col("event_id").isin(lateIds.toSeq: _*))
      def last(table: String, keys: Seq[String]): DataFrame = {
        val t = spark.table(table)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
          .orderBy(col("n_events").desc)
        t.withColumn("_r", row_number().over(w)).filter("_r = 1").drop("_r")
      }
      def same(name: String, got: DataFrame, want: DataFrame): Option[String] = {
        val cols = want.columns.toSeq
        val g = Digest.of(cols, got.select(cols.map(col): _*).collect())
        val x = Digest.of(cols, want.select(cols.map(col): _*).collect())
        if (g == x) None else Some(s"$name: stream $g batch $x")
      }
      val errs = Seq(
        same("sensor_per_key", last("sensor_per_key", Seq("event_type")),
          graft.operators.Events.perKeyStats(batch)),
        same("sensor_tumbling", last("sensor_tumbling", Seq("window_start")),
          graft.operators.Events.tumblingAgg(graft.operators.Events.withEventTime(kept))),
        same("sensor_sliding", last("sensor_sliding", Seq("window_start", "event_type")),
          graft.operators.Events.slidingAgg(graft.operators.Events.withEventTime(kept)))).flatten
      (errs.isEmpty, if (errs.isEmpty) s"${next} drops match their batch twins" else errs.mkString("; "))
    }
  }
}

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def write(p: Path, v: Any): Unit = Files.writeString(p, mapper.writeValueAsString(toJava(v)))

  def writeLines(p: Path, vs: Seq[Any]): Unit =
    Files.writeString(p, vs.map(v => mapper.writeValueAsString(toJava(v))).mkString("", "\n", "\n"))

  def readMap(p: Path): Map[String, Any] =
    mapper.readValue(p.toFile, classOf[java.util.Map[String, Any]]).asScala.toMap

  def readStringMap(p: Path): Map[String, String] = readMap(p).map { case (k, v) => k -> v.toString }
}
