package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.DataFrame

/** Cluster-safe scratch space for intermediate materializations and the
  * source round-trip queries.
  *
  * Root resolution: `SPARK_GRAFT_SCRATCH` env var if set, else the JVM temp
  * dir. In local mode the default is fine; on a real cluster the env var MUST
  * point at a filesystem shared by driver and executors (NFS mount, or a
  * `file:`-visible DFS fuse path) — a driver-local `/tmp` is invisible to
  * executors, which is exactly the round-2 portability bug this replaces.
  */
object Scratch {

  def root: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", System.getProperty("java.io.tmpdir"))

  // scratch dirs created by this JVM, removed on exit so repeated Verify /
  // Bench / test runs don't accumulate under the shared root
  private val created = new ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    created.forEach(deleteRecursively)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case _: Throwable => () } // best-effort; scratch is disposable

  /** Eagerly delete a scratch path created by [[dir]] (best-effort) —
    * for owners that bound peak scratch disk themselves instead of waiting
    * for the JVM-exit hook — and forget its kept schema ([[Tables.parquet]]).
    */
  def delete(path: String): Unit = {
    deleteRecursively(Paths.get(path))
    Tables.forget(path)
  }

  /** Default bucket count for persisted bucketed tables: the session's
    * shuffle parallelism (`spark.sql.shuffle.partitions`) with 16 as the
    * floor (the band-index convention) — bucketed layouts track the
    * cluster's configured parallelism instead of a compile-time constant.
    */
  def defaultBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(16, scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(16))

  /** Fresh unique directory under the scratch root. */
  def dir(prefix: String): String = {
    val r = Paths.get(root)
    Files.createDirectories(r)
    val d = Files.createTempDirectory(r, prefix)
    created.add(d)
    d.toString
  }

  /** Materialize a DataFrame to scratch parquet once and hand back a plain
    * parquet scan of it.
    *
    * This is the self-join materialization primitive for the LSH family: a
    * signature table that is joined against itself must be computed exactly
    * once. `cache()` alone does not guarantee that (both join sides race to
    * fill the cache and each computes every partition), and cache+count pins
    * executor memory and adds a hidden eager action that leaks persisted
    * partitions to later queries. A scratch-parquet write is deterministic,
    * spill-free (it lives on disk, not in the block manager), costs one
    * deliberate pass, and both self-join sides read the same immutable files.
    *
    * Dirs written here are PER-INVOCATION (unlike [[memoize]]'s per-run
    * stages): each registers under its own unique dir as an `ephemeral`
    * write for [[sweepEphemeral]], so a harness that runs many queries back
    * to back (Bench, Verify) sweeps them as soon as the owning query's
    * action completes, and one query's token-scale scratch write can never
    * sit on the page cache while its neighbors are being timed — the r7
    * text-family regression was exactly that bleed.
    */
  def materialize(df: DataFrame, prefix: String): DataFrame = {
    val d = dir(prefix)
    val t0 = System.nanoTime()
    // registered even when the write fails, so the sweep still removes the dir
    try df.write.mode("overwrite").parquet(d)
    finally store.put(d, CompletableFuture.completedFuture(
      Build(Span(prefix, "ephemeral", t0, System.nanoTime() - t0, d), None)))
    // the schema just written, so the read-back runs no footer-inference job
    df.sparkSession.read.schema(df.schema).parquet(d)
  }

  /** Delete every per-invocation [[materialize]] dir created since the last
    * sweep. Callers (Bench, Verify) invoke this AFTER the query's action has
    * completed — the returned DataFrame is a lazy scan of the swept files, so
    * sweeping mid-query would break the read. Memoized stages and bucketed
    * tables are NOT swept: their cross-query reuse is the production DAG
    * shape ([[memoize]]); they fall to [[clearMemo]]/[[dropBucketedTables]].
    */
  def sweepEphemeral(): Unit = drop(Set("ephemeral"))(b => delete(b.span.path))

  // monotone count of one-time builds (memoized stages + bucketed index
  // tables) actually COMPUTED by this JVM — memo hits and materialize
  // writes don't advance it. Bench samples the delta around each query to
  // tell "paid an index/memo build" invocations from steady-state ones.
  private val builds = new java.util.concurrent.atomic.AtomicLong()

  /** Number of one-time builds (memo stages + bucketed tables) computed so
    * far in this JVM. Deltas around a query identify build-paying runs.
    */
  def buildsCount: Long = builds.get()

  /** One scratch write: the memo key (or the [[materialize]] prefix), its
    * kind (`memo`, `partitioned`, `bucketed` or `ephemeral`), when it
    * started and how long the build + write took (a stage that forces
    * another memo inside its thunk includes that build), and the path the
    * files landed under. A span lives exactly as long as its files:
    * [[clearMemo]], [[dropBucketedTables]] and [[sweepEphemeral]] drop it
    * with them.
    */
  final case class Span(name: String, kind: String, startNs: Long, wallNs: Long, path: String) {
    /** Bytes currently under [[path]] (0 once its files are deleted). */
    def bytes: Long =
      try {
        val walk = Files.walk(Paths.get(path))
        try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
        finally walk.close()
      } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }
  }

  // a finished scratch write: its span and, for a bucketed write, the
  // catalog table it registered
  private final case class Build(span: Span, table: Option[String])

  // every live scratch write, one entry per key: memo, partitioned and
  // bucketed builds under their logical-stage key, materialize writes under
  // their unique dir. A per-key future rather than a global lock, so
  // concurrent callers computing DIFFERENT stages never serialize behind
  // each other's Spark jobs. Only the write's span and table name are kept
  // — never its frame, which would pin driver-built LocalRelations.
  private val store = new ConcurrentHashMap[String, CompletableFuture[Build]]()

  /** Every live span in this JVM — memo stages and bucketed tables not yet
    * cleared, [[materialize]] writes not yet swept — in start order.
    */
  def spans: Seq[Span] = {
    val out = Seq.newBuilder[Span]
    store.values.forEach(f => completed(f).foreach(out += _.span))
    out.result().sortBy(_.startNs)
  }

  private def completed(f: CompletableFuture[Build]): Option[Build] =
    if (f.isDone && !f.isCompletedExceptionally) Some(f.join()) else None

  // release and forget every finished write of the given kinds
  private def drop(kinds: Set[String])(release: Build => Unit): Unit =
    store.forEach((key, f) => completed(f).filter(b => kinds(b.span.kind)).foreach { b =>
      release(b)
      store.remove(key, f)
    })

  /** The one build path: exactly-once compute per key via a per-key future.
    * The first caller installs and completes it, racers (and nested stages
    * on other keys) proceed independently and wait on it; a failed compute
    * removes its entry so a retry is possible. `write` gets a fresh scratch
    * dir and returns the catalog table it registered, if any.
    */
  private def build(key: String, kind: String, prefix: String)
                   (write: String => Option[String]): Build = {
    val fresh = new CompletableFuture[Build]()
    val prior = store.putIfAbsent(key, fresh)
    if (prior != null) prior.join()
    else
      try {
        val d = dir(prefix)
        val t0 = System.nanoTime()
        val table = write(d)
        builds.incrementAndGet()
        val b = Build(Span(key, kind, t0, System.nanoTime() - t0, d), table)
        fresh.complete(b)
        b
      } catch {
        case e: Throwable =>
          store.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
  }

  /** [[materialize]], memoized on a logical-stage key: the first call per JVM
    * computes `df` and writes it to scratch parquet; every later call with
    * the same key — from ANY query in the same Verify/Bench/test run — gets a
    * scan of the already-written files without recomputing the stage. The
    * scan goes through [[Tables.parquet]], so only the build infers the
    * files' schema: a hit launches no Spark job while the query is built.
    *
    * This is the production-DAG shape (materialize once, consume everywhere):
    * `dedup_components` consumes the very pair tables `dedup_minhash_lsh` /
    * `dedup_simhash` produce, and `dedup_incremental` reuses the tokenized
    * corpus, instead of each query re-running the shared upstream stages.
    *
    * The key MUST identify the stage's full input and logic — convention:
    * `s"$sfDir#<family>#<stage>#<params>"`, and it names the build's
    * [[Span]]. Callers whose output must be fresh per invocation (e.g. the
    * per-round connected-components label tables) use [[materialize]]
    * directly.
    */
  def memoize(spark: org.apache.spark.sql.SparkSession, key: String)
             (df: => DataFrame): DataFrame =
    memoizeWith(spark, key, "memo")(df.write.mode("overwrite").parquet(_))

  /** [[memoize]] with a Hive-style `partitionBy` layout: the scratch table
    * is written under `col=value/` directories, so a later scan with a
    * filter (static or a runtime `DynamicPruningExpression`) on the
    * partition columns reads ONLY the matching directories. This is the
    * date-partitioned fact-table layout every 100 TB warehouse uses; at
    * test scale it exists so the pruning plans can be pinned for real.
    */
  def memoizePartitioned(spark: org.apache.spark.sql.SparkSession, key: String,
                         partitionCols: Seq[String])
                        (df: => DataFrame): DataFrame =
    memoizeWith(spark, key, "partitioned")(
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(_))

  private def memoizeWith(spark: org.apache.spark.sql.SparkSession, key: String, kind: String)
                         (write: String => Unit): DataFrame =
    Tables.parquet(spark, build(key, kind, "graft_memo") { d => write(d); None }.span.path)

  /** Persist `df` once per (JVM, key) as a catalog table BUCKETED AND
    * SORTED by `bucketCols` (files under scratch), and hand back a scan of
    * it. This is the offline index-build lifecycle shared by the dedup
    * band index, the PageRank edge table, and the CDC state table: build
    * once, then every iterated/nightly join against the table reads
    * co-located buckets with ZERO exchange on the persisted side.
    *
    * The pre-write `repartition(buckets, bucketCols)` matters: Spark's
    * native bucket id is `pmod(murmur3(cols), buckets)` — identical to the
    * repartition hash — so each write task holds exactly one bucket's rows
    * and the table lands as one file per bucket (not tasks × buckets),
    * which is also what lets sorted-bucket scans feed sort-merge joins
    * without re-sorting.
    */
  def memoizeBucketed(spark: org.apache.spark.sql.SparkSession, key: String,
                      prefix: String, bucketCols: Seq[String])
                     (df: => DataFrame): DataFrame = {
    val b = build(key, "bucketed", prefix) { path =>
      val t = s"${prefix}_${java.lang.Long.toHexString(System.nanoTime())}"
      val buckets = defaultBuckets(spark)
      df.repartition(buckets,
          bucketCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(t)
      Some(t)
    }
    spark.table(b.table.get)
  }

  /** Drop every bucketed table this JVM registered AND delete its files
    * eagerly (the catalog drop alone leaves the external `path` files until
    * JVM exit, which would accumulate a copy per Bench pass). Bench pairs
    * this with [[clearMemo]] between passes so pass 2 re-measures the full
    * index-build + probe cost.
    */
  def dropBucketedTables(spark: org.apache.spark.sql.SparkSession): Unit =
    drop(Set("bucketed")) { b =>
      b.table.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      delete(b.span.path)
    }

  /** Forget every memoized stage (plain and partitioned) and delete its
    * files eagerly (bounding peak scratch disk instead of waiting for JVM
    * exit). Bench calls this between suite passes so the second pass
    * re-measures the real pipelines cold rather than timing warm memo scans.
    */
  def clearMemo(): Unit = drop(Set("memo", "partitioned"))(b => delete(b.span.path))

  /** Fan a narrow frame out to the session's parallelism BEFORE expensive
    * per-row map work — ONLY when its current plan would run on fewer
    * partitions (the fixture reality: single-file single-row-group parquet
    * scans are one task, so an un-fanned map phase runs serial on a
    * 32-core session). On a production multi-split table the condition is
    * false and NO repartition is inserted — the scale-adaptive version of
    * the pre-explode fan-outs the d2/qgram builders already use.
    *
    * VALID ONLY FOR SCAN-ROOTED FRAMES (scan + narrow ops: filter / select
    * / union): `df.rdd.getNumPartitions` is the PRE-AQE static partition
    * count, so for a frame rooted in a shuffle it reports
    * `spark.sql.shuffle.partitions` and a genuinely narrow post-AQE
    * single-partition input would skip the fan-out (r18 advice). Every
    * caller passes the raw table scan (or a narrow projection of it),
    * where the static count IS the real scan parallelism.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Force several INDEPENDENT one-time builds concurrently (guide §2.6:
    * overlap independent jobs — Spark happily runs several jobs at once;
    * they are only sequential when the driver calls their actions
    * sequentially). Each thunk typically forces a [[memoize]] stage; the
    * per-key futures make concurrent forcing race-free, and a later
    * sequential consumer finds every memo in place. Thread count is the
    * thunk count — callers pass a handful of component builds, not a task
    * fan-out. The first failure rethrows after all threads settle (so no
    * build is left mid-flight when the caller unwinds).
    */
  def buildConcurrently(thunks: Seq[() => Any]): Unit =
    if (thunks.sizeIs <= 1) thunks.foreach(_.apply())
    else {
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val ts = thunks.map { t =>
        val th = new Thread(() => try { t(); () } catch { case e: Throwable => errs.add(e) })
        th.start(); th
      }
      ts.foreach(_.join())
      if (!errs.isEmpty) {
        // rethrow the first failure with the others attached — two builds
        // failing concurrently must not lose the second cause (r18 advice)
        val it = errs.iterator()
        val first = it.next()
        while (it.hasNext) first.addSuppressed(it.next())
        throw first
      }
    }
}
