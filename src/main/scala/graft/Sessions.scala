package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's local session configuration lives: UTC, graft
  * extensions (vec_dot), no UI, shuffle fan-out = cores. Every main and the
  * test fixture build through here so a new session-level conf cannot drift
  * across entry points.
  *
  * Streaming checkpoints go through [[streaming.LocalCheckpointFiles]]. This
  * JVM runs Hadoop without `libhadoop`, so Spark's default checkpoint manager
  * forks a `chmod` for every checkpoint file (and its `.crc` sidecar) it
  * creates and a `readlink` for every rename: 300-440 process starts a
  * second under three concurrent queries on 4 cores, most of each
  * micro-batch's commit time. The engine's manager writes the same files
  * without forking.
  */
object Sessions {
  // spark.sql.warehouse.dir is a STATIC conf — fixed by the first
  // SharedState per JVM — so allocate the scratch dir once; per-call
  // allocation would leak an ignored directory per extra session
  private lazy val warehouseDir: String = Scratch.dir("graft_warehouse")

  def local(cpus: String): SparkSession = {
    // catalog side effects (saveAsTable warehouse dirs, any derby metastore
    // files) belong in scratch, not the launch CWD — repeated Verify/Bench
    // runs must not litter the repo
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", Scratch.root)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the generated-class cache defaults to 100 entries; a 186-query
      // suite cycles far more distinct codegen fragments than that, so
      // compile-heavy plans (BPE chain, BM25) pay Janino recompiles on
      // every pass — measured as pure process-CPU excess with zero GC
      // growth (BENCH_r09 divergent-pair profiles)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[streaming.LocalCheckpointFiles].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
