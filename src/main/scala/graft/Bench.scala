package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

object Bench {
  /** A run pair whose slower pass exceeds the faster by this factor (and by
    * [[DivergeFloorSec]] absolutely) is reported as DIVERGENT: the committed
    * best-of-2 number is then a lower bound, not a stable measurement. Each
    * divergent pair now ships a per-pass metrics breakdown plus a mechanical
    * [[classifyStall]] verdict, so a stall is attributed (GC / driver /
    * I-O-or-contention / executor CPU) instead of staying "undiagnosed".
    */
  val DivergeRatio = 3.0
  val DivergeFloorSec = 1.0

  private[graft] def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private[graft] def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime.max(0L) / 1e9
      case _ => 0.0
    }

  /** Cumulative JIT compilation time. A CPU-bound stage measuring 3-5x its
    * usual wall with a ZERO jit delta and a near-full code cache is the
    * "CodeCache full, compiler disabled" failure mode — generated
    * whole-stage code running interpreted for the rest of the JVM's life.
    * That is the leading suspect for the r11 cross-environment d2/qgram
    * cold-cost bimodality (driver 21.5 s vs builder 4.7 s on one commit,
    * each internally consistent — a per-JVM-instance mode, not noise).
    */
  private[graft] def jitSeconds(): Double = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime / 1e3
    else 0.0
  }

  /** (used MB, max MB) summed over the JIT code-cache pools. */
  private def codeCacheMb(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    // segmented cache = three "CodeHeap '...'" pools; non-segmented
    // (ReservedCodeCacheSize < 240m) = one pool named "CodeCache" (no
    // space on JDK 17, "Code Cache" historically)
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.replace(" ", "") == "CodeCache")
    val used = pools.map(_.getUsage.getUsed).sum / 1e6
    val max = pools.map(p => math.max(p.getUsage.getMax, 0L)).sum / 1e6
    (used, max)
  }

  /** 1-minute system load average — separates an externally busy box
    * (driver-side oracle checks, page-cache eviction by a neighbor) from a
    * genuinely slow plan. -1 when unavailable.
    */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** COMMITTED heap MB — the r12 slow-first-pass culprit's fingerprint.
    * The mode was reproduced and isolated this round: with the driver's
    * ~90 GB `-Xmx` (builder JVMs run 8 GB), G1 starts at a small committed
    * heap and the first allocation-heavy query pays the kernel's lazy
    * page-commit/zero for tens of GB of heap growth mid-query —
    * `fuzzy_name_neighbors_d2` measured 52 s/1137 CPU-s at `-Xmx90g`
    * vs 14 s/198 at `-Xmx8g` on the same commit, and `-Xms90g
    * -XX:+AlwaysPreTouch` (commit+zero at startup) restored the 8 GB
    * timing exactly. Committed-heap growth during a slow pass is therefore
    * the field that NAMES the mode in the artifact.
    */
  private def committedHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / 1e6

  /** Pre-commit the heap before anything is timed: allocate-and-retain
    * ~70% of `-Xmx` in 64 MB chunks across threads (array allocation
    * zeroes, so every page is touched), then release. Forces G1 to expand
    * and the kernel to commit+zero the pages ONCE, during warmup, instead
    * of inside whichever query first allocates hard — the measured 4-15x
    * pass-1 CPU inflation under the driver's large-heap JVM. Idempotent
    * and cheap when `-Xms`/`AlwaysPreTouch` already did the work (the
    * allocation then recycles already-committed pages).
    */
  private def preTouchHeap(): (Double, Double, Double) = {
    val before = committedHeapMb()
    val t0 = System.nanoTime()
    // capped: the sf0.1 suite's measured high-water committed heap is
    // ~21 GB, while touching the full 94 GB of a driver-sized -Xmx cost
    // 80-233 s of warmup (page-cache eviction pressure). 32 GB covers the
    // suite's real footprint with headroom; growth past the cap is lazy
    // again but now NAMED per-run by heap_grow_mb / the heap-commit stall
    // class, and -XX:MaxHeapFreeRatio=100 (build.sbt) keeps whatever has
    // been committed from being handed back mid-run. Sized from current
    // HEADROOM, not raw -Xmx: the ballast rides on top of the warm
    // session's live set, and 0.7 * maxMemory + a large live set could
    // drive G1 into full-GC thrash on a small heap.
    val rt = Runtime.getRuntime
    val headroom = math.max(0L, rt.maxMemory - (rt.totalMemory - rt.freeMemory))
    val target = math.min((headroom * 0.7).toLong, 32L << 30)
    val chunk = 64 << 20
    val nChunks = (target / chunk).toInt
    val held = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
    val nThreads = math.min(16, Runtime.getRuntime.availableProcessors)
    val idx = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until nThreads).map { _ =>
      val t = new Thread(() => {
        var i = idx.getAndIncrement()
        while (i < nChunks) {
          held.add(new Array[Byte](chunk))
          i = idx.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    held.clear()
    ((System.nanoTime() - t0) / 1e9, before, committedHeapMb())
  }

  /** Cumulative task-metric counters fed by a [[SparkListener]]; Bench
    * snapshots deltas around each timed query. `busy` is summed executor
    * run time (includes time blocked in I/O), so comparing it against the
    * PROCESS CPU delta separates "executors running hot" from "executors
    * nominally running but starved / waiting on disk".
    */
  private object TaskCounters extends SparkListener {
    val busyMs = new java.util.concurrent.atomic.AtomicLong()
    val inputBytes = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
      val m = end.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.incrementAndGet()
      }
    }
  }

  /** Locale-independent fixed-decimal render: the f-interpolator uses the
    * JVM default locale, which can emit comma decimals — invalid JSON.
    */
  private def num(v: Double, decimals: Int): String = {
    val scale = math.pow(10, decimals)
    (math.round(v * scale) / scale).toString
  }

  /** One timed invocation's resource profile. All seconds; bytes in MB.
    * `heapGrowMb`: committed-heap growth during the run — the lazy
    * page-commit stall's signature (see [[committedHeapMb]]).
    */
  private[graft] final case class RunMetrics(wall: Double, gc: Double, cpu: Double,
      busy: Double, inputMb: Double, shuffleMb: Double, spillMb: Double,
      tasks: Long, builds: Long, jit: Double = 0.0, load: Double = -1.0,
      heapGrowMb: Double = 0.0) {
    def json: String =
      s"""{"wall":${num(wall, 3)},"gc":${num(gc, 3)},"cpu":${num(cpu, 3)},""" +
        s""""busy":${num(busy, 3)},"input_mb":${num(inputMb, 1)},""" +
        s""""shuffle_mb":${num(shuffleMb, 1)},"spill_mb":${num(spillMb, 1)},""" +
        s""""tasks":$tasks,"builds":$builds,"jit":${num(jit, 3)},""" +
        s""""load":${num(load, 2)},"heap_grow_mb":${num(heapGrowMb, 0)}}"""
  }

  /** Mechanical attribution of the EXCESS wall time in a divergent pair:
    * where did `slow.wall - fast.wall` go?
    *  - "gc":                  collector time grew by most of the excess;
    *  - "driver-or-scheduler": executors were barely busier — the stall is
    *                           planning, codegen compilation, driver GC, or
    *                           catalog/listing work before tasks ran;
    *  - "io-or-contention":    executors were nominally running for the
    *                           excess but the PROCESS got little extra CPU —
    *                           cold page-cache reads or an external process
    *                           stealing cores;
    *  - "executor-cpu":        the extra time was real on-core compute (JIT
    *                           warmup on first execution, or a plan change).
    */
  /** Two successful samples disagree past the ratio AND the absolute
    * floor — the committed min of such a pair is a hope, not a number.
    */
  private[graft] def pairDiverges(a: Double, b: Double): Boolean =
    math.max(a, b) - math.min(a, b) > DivergeFloorSec &&
      math.max(a, b) > DivergeRatio * math.min(a, b)

  /** With the tie-break sample in, "divergent" means the BEST time is
    * still uncorroborated: sorted successful samples t1 <= t2 <= ... have
    * t2 past the ratio of t1. Two agreeing fast runs bracketing one stall
    * are a measured number; one fast run against two slow ones is not.
    */
  private[graft] def uncorroborated(ok: Seq[Double]): Boolean = {
    val s = ok.sorted
    s.size >= 2 && pairDiverges(s(0), s(1))
  }

  /** A CHRONOLOGICALLY monotone-decreasing sample train with contracting
    * steps is warm-up converging on a floor, not divergence — the r13
    * `events_props_json` false positive (5.79 → 1.59 → 0.39 s: pure JIT
    * warm-up decay, which pairwise corroboration can never match because
    * every new sample beats every previous one). Two conditions:
    *   - strictly decreasing: each sample faster than the last;
    *   - contracting gaps: each successive drop at most 3/4 of the previous
    *     one — the geometric signature of convergence to a stable floor. A
    *     LINEAR decrease (gaps not shrinking) stays divergent: nothing says
    *     the next sample wouldn't keep falling, so the best is still a hope.
    * Needs >= 3 samples; a pair cannot show a decay shape at all.
    */
  private[graft] def monotoneDecay(chron: Seq[Double]): Boolean =
    chron.size >= 3 &&
      chron.sliding(2).forall { case Seq(a, b) => b < a } &&
      chron.sliding(3).forall { case Seq(a, b, c) => (b - c) <= 0.75 * (a - b) }

  /** Is a tie-break sample's one-time-build count comparable to its pass-2
    * run's? FEWER builds means the sample found memos warm that pass 2 had
    * to compute — it did strictly less work, so its time cannot corroborate
    * anything: reject. MORE builds means a fresh-reset retry also rebuilt
    * upstream memos its in-pass run inherited (r12's `graph_pagerank` false
    * divergent: retry builds=2 vs in-pass 1) — a strict WORK SUPERSET, so
    * its wall time is an upper bound on the comparable cost and accepting
    * it can only be conservative: a superset run landing near the fast pass
    * is genuine corroboration, and a slow superset run corroborates
    * nothing (min/sort ignore it). Equality stays trivially comparable.
    */
  private[graft] def tiebreakComparable(sampleBuilds: Long, expectedBuilds: Long): Boolean =
    sampleBuilds >= expectedBuilds

  /** The queries a tie-break retry of `name` replays first, untimed, after
    * a full reset: every query ahead of it in the pass order `names` whose
    * pass-2 run computed one-time builds. Those are the build owners the
    * retried query's in-pass run found in place, taken from what pass 2
    * actually built rather than from a hand-kept producer list.
    */
  private[graft] def replayBefore(names: Seq[String], name: String,
      pass2Builds: String => Long): Seq[String] =
    names.takeWhile(_ != name).filter(n => pass2Builds(n) > 0)

  private[graft] def classifyStall(slow: RunMetrics, fast: RunMetrics): String = {
    val excess = slow.wall - fast.wall
    val gcExcess = slow.gc - fast.gc
    val busyExcess = slow.busy - fast.busy
    val cpuExcess = slow.cpu - fast.cpu
    // checked first: multi-GB committed-heap growth during the slow pass is
    // the measured r12 mode (lazy page commit under a large -Xmx) and also
    // burns real CPU, which would otherwise misattribute as executor-cpu
    if (slow.heapGrowMb - fast.heapGrowMb > 2048) "heap-commit"
    else if (gcExcess > 0.5 * excess) "gc"
    else if (busyExcess < 0.2 * excess) "driver-or-scheduler"
    else if (cpuExcess < 0.3 * busyExcess) "io-or-contention"
    else "executor-cpu"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.addSparkListener(TaskCounters)
    // untimed warmup: JVM/codegen/scheduler startup otherwise lands on
    // whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).groupBy("l_returnflag").count().collect()
    // ... and so does the kernel's lazy heap commit under a large -Xmx
    // (the r12 driver-JVM slow-first-pass mode, reproduced + isolated at
    // -Xmx90g this round): commit+zero the heap here, untimed, once
    val (preTouchSec, committedBefore, committedAfter) = preTouchHeap()
    System.err.println(
      f"[bench] heap pre-touch: ${committedBefore}%.0f -> ${committedAfter}%.0f MB " +
        f"committed in ${preTouchSec}%.1f s")
    // DAG order, not alphabetical: consumers of memoized upstream stages run
    // AFTER their producers (exactly how a production pipeline schedules —
    // pair tables are built by the pair queries, then resolution/recall
    // consume them), so each query's time reflects the work it owns. Ties
    // and everything else stay sorted. The rank only sets the pass order;
    // the tie-break replay takes its producers from pass 2's builds.
    val producerRank = Map(
      "dedup_minhash_lsh" -> 0, "dedup_simhash" -> 0, "similarity_topk_lsh" -> 0,
      "similarity_topk_ivf" -> 0,
      "dedup_prefix_exact" -> 0,
      // the TRAINER owns the 16-stage memoized merge chain; without this
      // rank the build landed on text_bpe_apply purely because 'a' < 't'
      // (r9: apply 6.2 s cold / 0.54 s steady, train 0.43 s free-riding)
      "text_bpe_train" -> 0,
      "text_bpe_apply" -> 1,
      "dedup_components" -> 1, "dedup_incremental" -> 1, "similarity_lsh_recall" -> 1,
      "similarity_ivf_recall" -> 1,
      // consumes BOTH the prefix-exact and minhash pair memos
      "dedup_lsh_recall" -> 1,
      // consumes the minhash pair memo the LSH query builds
      "corpus_curated_manifest" -> 1,
      // consumes the shingle-postings memo the exact cosine query builds
      "dedup_cosine_lsh" -> 1,
      // consumes the IVF cell-assignment memo (simivf#16) similarity_ivf_sweep builds
      "dedup_semantic" -> 1,
      // consumes the PQ top-k memo similarity_topk_pq builds (alphabetical
      // order would run the recall row first and land the build on it)
      "similarity_pq_recall" -> 1,
      // consumes the trained-cell corpus assignment similarity_topk_ivf_trained builds
      "emb_cluster_sample" -> 1,
      // consumes the trained-weights memo text_classifier_train builds
      // (same alphabetical hazard: 'score' < 'train')
      "text_classifier_score" -> 1,
      // consumes the component-label memo dedup_components builds (which
      // itself consumes the rank-0 pair memos) — rank 2 so each stage's
      // cost lands on the query that owns it, not on whichever name sorts
      // first
      "dedup_canonical" -> 2,
      // consumes the same component-label memo
      "dedup_cluster_histogram" -> 2,
    ).withDefaultValue(0)
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (producerRank(n), n))

    // listener events are async: flush before every counter snapshot so a
    // query's final task metrics land on IT, not on its successor — a
    // misattributed tail flips the divergence classifier's verdict
    def flushListeners(): Unit =
      org.apache.spark.GraftSparkInternals.flushListeners(spark.sparkContext, 2000)

    def timed(name: String): (RunMetrics, Option[String]) = {
      flushListeners()
      val g0 = gcSeconds(); val c0 = processCpuSeconds(); val j0 = jitSeconds()
      val b0 = TaskCounters.busyMs.get; val i0 = TaskCounters.inputBytes.get
      val s0 = TaskCounters.shuffleBytes.get; val p0 = TaskCounters.spillBytes.get
      val k0 = TaskCounters.tasks.get; val u0 = Scratch.buildsCount
      val h0 = committedHeapMb()
      val t0 = System.nanoTime()
      // a failed query must surface as an error in the JSON, never as a
      // fast-looking time
      val err = try { SparkEntry.queries(name)(spark, sfDir).count(); None }
                catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      flushListeners() // untimed: wall is already captured
      (RunMetrics(wall, gcSeconds() - g0, processCpuSeconds() - c0,
        (TaskCounters.busyMs.get - b0) / 1e3,
        (TaskCounters.inputBytes.get - i0) / 1e6,
        (TaskCounters.shuffleBytes.get - s0) / 1e6,
        (TaskCounters.spillBytes.get - p0) / 1e6,
        TaskCounters.tasks.get - k0, Scratch.buildsCount - u0,
        jitSeconds() - j0, loadAvg(),
        math.max(committedHeapMb() - h0, 0.0)), err)
    }

    // (metrics, error, steady-state wall) per query. `steadySample`: when a
    // query's timed run COMPUTED one-time builds (memo stages / bucketed
    // index tables — Scratch.buildsCount advanced), immediately re-time it
    // with those builds in place. That second number is the steady-state
    // cost — the production shape where the band index / edge table / CDC
    // state / pair memo is built offline and the query only probes it. The
    // headline number stays the COLD run (it owns its build); the steady
    // map makes the build-vs-probe split measured instead of argued.
    def runPass(steadySample: Boolean): Map[String, (RunMetrics, Option[String], Option[Double])] =
      names.map { name =>
        val (m, err) = timed(name)
        // a failed steady re-run must not publish its fast-abort wall time
        val steady =
          if (steadySample && err.isEmpty && m.builds > 0) {
            val (sm, serr) = timed(name)
            if (serr.isEmpty) Some(sm.wall) else None
          } else None
        // queries may cache intermediates or write per-invocation scratch;
        // drop both so later timings are independent of earlier queries
        // (lingering scratch parquet competes for the page cache — the r7
        // text-family 7-12x regression)
        spark.catalog.clearCache()
        Scratch.sweepEphemeral()
        name -> (m, err, steady)
      }.toMap

    // this box swings ±40% run-to-run at sf0.1: report per-query BEST of two
    // full suite passes (raw pairs + GC deltas kept in the JSON; pairs past
    // DivergeRatio flagged loudly). Memoized scratch stages and the persisted
    // band index are reset between passes so pass 2 times the real pipelines
    // cold, not warm memo scans — WITHIN a pass the memo sharing stays on,
    // because that cross-query reuse is the production DAG shape being
    // measured.
    def resetShared(): Unit = {
      Scratch.clearMemo()
      Scratch.dropBucketedTables(spark) // band index, PageRank edges, CDC state
      spark.catalog.clearCache()
    }
    val pass1 = runPass(steadySample = false)
    resetShared()
    val pass2 = runPass(steadySample = true)

    // a pair past DivergeRatio means the committed best-of-2 is a HOPE, not
    // a measurement — corroborate it with a THIRD run of just those queries.
    // Environment per eligibility class: builds==0 queries run against the
    // post-pass-2 state (every memo/bucketed table in place — exactly their
    // in-pass environment); build-OWNING queries run after a full reset, in
    // DAG order, so each replays its cold build. Either way the sample is
    // comparable only if it computed the same one-time builds as pass 2 —
    // a reset consumer that rebuilt its producers' memos did MORE work than
    // its in-pass run and must not publish that time as a third sample.
    val needTiebreak = names.filter { name =>
      val (m1, e1, _) = pass1(name)
      val (m2, e2, _) = pass2(name)
      e1.isEmpty && e2.isEmpty && pairDiverges(m1.wall, m2.wall)
    }
    // A rejected sample (error, or one-time-build count differing from its
    // pass-2 run — an incomparable environment) is RECORDED, not silently
    // dropped: r10's driver run published only 2 samples for 3 of its 5
    // divergent queries because the acceptance rule discarded the third
    // with no trace. Every rejection logs to stderr with both build counts
    // and lands in the `rejected_samples` diagnostics, and the query gets
    // ONE retry in a reconstructed pass-2 environment (fresh reset, then
    // every earlier query whose pass-2 run built something replayed untimed
    // — `replayBefore` — so the retry owns exactly the builds its pass-2 run
    // owned).
    final case class RejectedSample(name: String, m: RunMetrics,
      expectedBuilds: Long, err: Option[String], attempt: Int)
    val rejected = scala.collection.mutable.Buffer.empty[RejectedSample]
    def attemptTiebreak(name: String, attempt: Int): Option[(String, RunMetrics)] = {
      val (m3, e3) = timed(name)
      spark.catalog.clearCache()
      Scratch.sweepEphemeral()
      val (m2, _, _) = pass2(name)
      if (e3.isEmpty && tiebreakComparable(m3.builds, m2.builds)) Some(name -> m3)
      else {
        System.err.println(
          f"[bench] tiebreak sample REJECTED for $name (attempt $attempt): " +
            f"wall=${m3.wall}%.2f builds=${m3.builds} vs pass2 builds=${m2.builds}" +
            e3.map(e => s" err=$e").getOrElse(""))
        rejected += RejectedSample(name, m3, m2.builds, e3, attempt)
        None
      }
    }
    // reset, then replay (untimed) the build owners a query found in place
    // in pass 2, so a retried consumer does not rebuild its upstream memos
    // — the builds-mismatch cause for DAG consumers
    def replayOwners(name: String): Unit = {
      resetShared()
      replayBefore(names, name, n => pass2(n)._1.builds).foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
        Scratch.sweepEphemeral()
      }
    }
    def retryable(name: String): Boolean =
      rejected.exists(r => r.name == name && r.err.isEmpty) // errored samples don't retry: the query itself is broken
    val (probeOnly, buildOwning) = needTiebreak.partition(n => pass2(n)._1.builds == 0)
    val tiebreak: Map[String, RunMetrics] = {
      // probe-only attempt 1 runs against the untouched post-pass-2 state
      // (all memos in place — exactly the in-pass environment)
      val warm = probeOnly.flatMap(n => attemptTiebreak(n, 1))
      // build-owning: fresh reset, DAG order; a rejected sample retries once
      // with its own reconstructed environment (reset + build owners replayed)
      if (buildOwning.nonEmpty) resetShared()
      val own = buildOwning.flatMap { n =>
        attemptTiebreak(n, 1).orElse {
          if (retryable(n)) {
            replayOwners(n); attemptTiebreak(n, 2)
          } else None
        }
      }
      // probe-only retries run LAST: each reconstructs its pass-2 state
      // from scratch (reset + the build owners ahead of it), so the reset
      // cannot disturb the post-pass-2 state the other probe-only samples
      // used
      val probeRetries = probeOnly.filter(retryable).flatMap { n =>
        replayOwners(n); attemptTiebreak(n, 2)
      }
      (warm ++ own ++ probeRetries).toMap
    }

    val results = names.map { name =>
      val (m1, e1, _) = pass1(name)
      val (m2, e2, steady) = pass2(name)
      val m3 = tiebreak.get(name)
      // best of the SUCCESSFUL passes only: a fast abort must never report
      // as a fast time; error only when both passes failed
      val ok = (Seq((m1.wall, e1), (m2.wall, e2)) ++ m3.map(m => (m.wall, None)))
        .collect { case (t, None) => t }
      val best = if (ok.nonEmpty) ok.min else math.min(m1.wall, m2.wall)
      val err = if (ok.nonEmpty) None else e1.orElse(e2)
      // `ok` is chronological (pass1, pass2, tie-break), so a monotone
      // contracting decay across it is recognizable warm-up, not divergence
      val divergent = err.isEmpty && uncorroborated(ok) && !monotoneDecay(ok)
      (name, best, m1, m2, m3, err, divergent, steady)
    }
    val diverged = results.collect { case (n, _, m1, m2, m3, _, true, _) => (n, m1, m2, m3) }
    diverged.foreach { case (n, m1, m2, m3) =>
      val all = Seq(m1, m2) ++ m3
      val slow = all.maxBy(_.wall); val fast = all.minBy(_.wall)
      System.err.println(
        f"[bench] DIVERGENT $n: passes ${all.map(m => f"${m.wall}%.2f").mkString("/")}s " +
          f"(>${DivergeRatio}x), class=${classifyStall(slow, fast)} — " +
          "best-of-N is a lower bound")
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _, _, _, _, _, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val runs = results.map { case (k, _, m1, m2, m3, _, _, _) =>
      jstr(k) + ":[" + (Seq(m1, m2) ++ m3).map(_.wall).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, m1, m2, m3, _, _, _) =>
      jstr(k) + ":[" + (Seq(m1, m2) ++ m3).map(_.gc).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, _, Some(e), _, _) => jstr(k) + ":" + jstr(e.take(300)) }
      .mkString("{", ",", "}")
    val steadies = results.collect { case (k, _, _, _, _, _, _, Some(s)) =>
      jstr(k) + ":" + num(s, 3) }.mkString("{", ",", "}")
    val divJson = diverged.map { case (n, _, _, _) => jstr(n) }.mkString("[", ",", "]")
    // every tie-break sample that was computed but could not be published as
    // a comparable third run — the artifact shows the ATTEMPT, not silence
    val rejectedJson = rejected.map { r =>
      s"""{"query":${jstr(r.name)},"attempt":${r.attempt},"wall":${num(r.m.wall, 3)},""" +
        s""""builds":${r.m.builds},"expected_builds":${r.expectedBuilds}""" +
        r.err.map(e => s""","err":${jstr(e.take(200))}""").getOrElse("") + "}"
    }.mkString("[", ",", "]")
    // full per-pass resource profile + stall class: queries whose original
    // PAIR diverged (bounded: the common case is an empty object). Entries
    // with a pass3 whose best was corroborated drop off the divergent list
    // but keep their profile here so the stall stays attributed.
    val diags = results.collect {
      case (n, _, m1, m2, m3, None, _, _) if pairDiverges(m1.wall, m2.wall) =>
        val all = Seq(m1, m2) ++ m3
        val slow = all.maxBy(_.wall); val fast = all.minBy(_.wall)
        // a train the acceptance rule recognized as warm-up convergence
        // names itself in the artifact instead of borrowing a stall class
        val cls = if (monotoneDecay(all.map(_.wall))) "warmup-decay"
                  else classifyStall(slow, fast)
        jstr(n) + ":" + s"""{"pass1":${m1.json},"pass2":${m2.json},""" +
          m3.map(m => s""""pass3":${m.json},""").getOrElse("") +
          s""""stall_class":${jstr(cls)}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // JVM-instance fingerprint: the r11 d2 cold cost was bimodal ACROSS
    // bench JVMs (driver 21.5 s vs builder 4.7 s, each self-consistent), so
    // within-run pair comparison can never see it — the artifact itself
    // must say what mode this JVM was in. A near-full code cache with the
    // compiler gone quiet (tiny jit total for a 100+-query run) marks the
    // interpreted-fallback mode; a high load average marks an externally
    // busy box.
    val (ccUsed, ccMax) = codeCacheMb()
    val env =
      s"""{"cpus":${Runtime.getRuntime.availableProcessors},""" +
        s""""heap_max_mb":${num(Runtime.getRuntime.maxMemory / 1e6, 0)},""" +
        s""""heap_committed_end_mb":${num(committedHeapMb(), 0)},""" +
        s""""pretouch_sec":${num(preTouchSec, 1)},""" +
        s""""pretouch_committed_mb":${num(committedAfter - committedBefore, 0)},""" +
        s""""code_cache_used_mb":${num(ccUsed, 1)},"code_cache_max_mb":${num(ccMax, 1)},""" +
        s""""jit_total_sec":${num(jitSeconds(), 1)},"gc_total_sec":${num(gcSeconds(), 1)},""" +
        s""""load_avg_end":${num(loadAvg(), 2)}}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"gc":$gcs,""" +
        s""""steady":$steadies,"divergent":$divJson,"rejected_samples":$rejectedJson,""" +
        s""""diagnostics":$diags,"errors":$errs,"env":$env,"sf":"$sfDir"}"""
    println(line)
    // the harness captures only a bounded stdout tail, which has truncated
    // the (large) JSON line before; the file copy keeps the full official
    // number self-contained under the repo
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
