package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev main: where registered queries spend their time, split by the
  * harness rather than by hand-copied stage code —
  * `SPARK_GRAFT_CPUS=N runMain graft.Probe <sfDir> <query>...`.
  *
  * Every listed query first runs once untimed (JIT warm-up). Then, per
  * query, the memo and bucketed-table state is reset and a cold run is
  * timed, split into construct (building the DataFrame, including any
  * eager one-time builds) and action (`count()`); then a warm run with the
  * memos in place. Each run prints one `PROBE` line (rows, wall, CPU-s,
  * GC-s, JIT-s, builds, and Spark jobs as `jobs=<construct>/<action>`, so
  * the jobs a query launches before its action show without a benchmark
  * run) and one `SPAN` line per scratch write it made —
  * memo stages, bucketed tables and per-invocation materializations —
  * named by memo key without its `$sfDir#` prefix, timed and sized on disk
  * before the sweep.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sfDir = args(0)
    val names = args.toSeq.drop(1)
    def settle(): Unit = { spark.catalog.clearCache(); Scratch.sweepEphemeral() }
    val jobCount = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobCount.incrementAndGet()
    })
    // listener events arrive asynchronously: drain them before each read
    def jobs(): Long = {
      org.apache.spark.GraftSparkInternals.flushListeners(spark.sparkContext, 5000)
      jobCount.get()
    }

    def run(q: String, label: String): Unit = {
      val b0 = Scratch.buildsCount
      val g0 = Bench.gcSeconds(); val c0 = Bench.processCpuSeconds(); val j0 = Bench.jitSeconds()
      val n0 = jobs()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      val t1 = System.nanoTime()
      val n1 = jobs()
      val a0 = System.nanoTime() // the flush is timed in neither phase
      val rows = df.count()
      val t2 = System.nanoTime()
      val n2 = jobs()
      println(f"PROBE $q $label rows=$rows wall=${(t1 - t0 + t2 - a0) / 1e9}%.2f " +
        f"construct=${(t1 - t0) / 1e9}%.2f action=${(t2 - a0) / 1e9}%.2f " +
        f"cpu=${Bench.processCpuSeconds() - c0}%.1f gc=${Bench.gcSeconds() - g0}%.2f " +
        f"jit=${Bench.jitSeconds() - j0}%.1f builds=${Scratch.buildsCount - b0} " +
        s"jobs=${n1 - n0}/${n2 - n1}")
      Scratch.spans.filter(_.startNs >= t0).foreach { s =>
        println(f"  SPAN ${s.kind}%-11s ${s.name.stripPrefix(s"$sfDir#")} " +
          f"wall=${s.wallNs / 1e9}%.2f bytes=${s.bytes} ${s.path}")
      }
      settle()
    }

    names.foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case e: Throwable => println(s"WARMUP $q FAILED: $e") }
      settle()
    }
    names.foreach { q =>
      Scratch.clearMemo(); Scratch.dropBucketedTables(spark); spark.catalog.clearCache()
      run(q, "cold")
      run(q, "warm")
    }
    spark.stop()
  }
}
