package graft.operators

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

/** The shared distributed landing-bucket lister behind all five path-walk
  * front doors: driver-side work is one root `listStatus`, subdirectory
  * walks run inside tasks, parallelism scales with the cluster (4×
  * defaultParallelism — 128 on the driver's local[32]) instead of the old
  * `min(n, 32)` cap, and the matched set is exactly the anchored-regex
  * drops at every depth.
  */
class ListDropsSpec extends SparkSpec {

  private def mk(root: Path, rel: String, bytes: Array[Byte] = "x".getBytes): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** A sharded landing bucket: drops at the root, in prefix dirs, and two
    * levels down, plus every non-drop shape a real bucket accumulates.
    */
  private def shardedBucket(): (String, Set[Long]) = {
    val root = Files.createTempDirectory("graft_listdrops")
    val ids = scala.collection.mutable.Set.empty[Long]
    (0 until 40).foreach { i => mk(root, s"$i.jsonl"); ids += i.toLong }
    (40 until 90).foreach { i => mk(root, s"shard=${i % 5}/$i.jsonl.gz"); ids += i.toLong }
    (90 until 120).foreach { i => mk(root, s"a/b/$i.jsonl.zst"); ids += i.toLong }
    // non-drops: prefixed ids (the ADVICE anchor case), wrong extensions,
    // bookkeeping files — at the root AND inside shards
    mk(root, "part123.jsonl")
    mk(root, "notes.txt")
    mk(root, "_SUCCESS")
    mk(root, "shard=0/part77.jsonl.gz")
    mk(root, "a/b/readme.md")
    (root.toString, ids.toSet)
  }

  private val JsonlRe = "(?i)^([0-9]+)\\.jsonl(\\.gz|\\.zst|\\.lz4)?$"

  test("listDrops matches exactly the anchored drops at every depth") {
    val (dir, want) = shardedBucket()
    val got = Streams.listDrops(spark, dir, JsonlRe).collect()
    assert(got.map(_._1).toSet == want)
    assert(got.length == want.size) // no duplicate paths
    // each id's path ends with its own file name
    got.foreach { case (id, p) =>
      assert(p.matches(s"(?i).*/$id\\.jsonl(\\.gz|\\.zst|\\.lz4)?$$"), p)
    }
  }

  test("walk parallelism scales with the cluster, not a constant cap") {
    val (dir, want) = shardedBucket()
    val tasks = Streams.dropTasks(spark, dir, JsonlRe)
    // 4× defaultParallelism: 16 under the test JVM's local[4], 128 on the
    // driver's local[32] — strictly above the old min(n, 32) cap on any
    // cluster with more than 8 slots, and INDEPENDENT of the file count
    // (the old formula collapsed a 10^7-file bucket to 32 tasks)
    val n = tasks.rdd.getNumPartitions
    assert(n == 4 * spark.sparkContext.defaultParallelism)
    assert(tasks.collect().map(_._1).toSet == want)
    // r19: a FULLY-LISTED bucket (every drop at the root, no subdirs) has
    // its total bytes known from the one root listStatus, so the shard
    // count follows the data — floored at cluster parallelism instead of
    // the unconditional 4× fan-out (whose empty tasks measured as the
    // *_files_ingest anti-scaling in the r18 driver bench). Subdir'd
    // buckets above keep the 4× fan-out: their file count is unknown
    // until the task-side walks run.
    val tiny = Files.createTempDirectory("graft_listdrops_tiny")
    mk(tiny, "1.jsonl")
    assert(Streams.dropTasks(spark, tiny.toString, JsonlRe)
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("front-door walk ingests sharded buckets (root + prefix-dir drops)") {
    val line = """{"id":"1","text":"sharded bucket doc"}""" + "\n"
    val root = Files.createTempDirectory("graft_listdrops_fd")
    mk(root, "5.jsonl", line.getBytes("UTF-8"))
    mk(root, "shard=3/6.jsonl", line.getBytes("UTF-8"))
    mk(root, "deep/nest/7.jsonl", line.getBytes("UTF-8"))
    val walked = Jsonl.docsFromPaths(spark, root.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(walked == Set(
      (5L << 24, "sharded bucket doc"), (6L << 24, "sharded bucket doc"),
      (7L << 24, "sharded bucket doc")))
  }

  test("anchored-id parity: a prefixed name is NOT a drop in either path") {
    val root = Files.createTempDirectory("graft_listdrops_anchor")
    mk(root, "part123.jsonl", ("""{"id":"1","text":"not a drop"}""" + "\n").getBytes("UTF-8"))
    mk(root, "9.jsonl", ("""{"id":"1","text":"a real drop"}""" + "\n").getBytes("UTF-8"))
    val batch = Jsonl.docsFromFiles(
      spark.read.format("binaryFile").load(root.toString))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val walk = Jsonl.docsFromPaths(spark, root.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch == Set((9L << 24, "a real drop")))
    assert(walk == batch)
  }

  test("duplicate drop ids across subdirs reject loudly, not silently collide") {
    // the same numeric name in two shards would ingest twice and collide
    // in the fileId<<24 doc_id space — dropTasks hash-shards by id, so
    // both copies land in one task and the walk names the clash
    val root = Files.createTempDirectory("graft_listdrops_dup")
    mk(root, "a/7.jsonl")
    mk(root, "b/7.jsonl")
    val e = intercept[Exception](
      Streams.dropTasks(spark, root.toString, JsonlRe).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("drop id 7 appears at two paths"), msgs)
  }

  test("a missing bucket rejects loudly") {
    intercept[java.io.FileNotFoundException](
      Streams.listDrops(spark, "/does/not/exist/graft", JsonlRe).collect())
  }

  test("tiny streams (shorter than any container magic) reject in every front door") {
    // Streams.sniffed passes sub-4-byte streams through undispatched; the
    // contract (documented in its scaladoc) is that every downstream
    // grammar rejects them with its own message — pinned here per format
    def tiny(name: String): String = {
      val dir = Files.createTempDirectory("graft_tiny")
      mk(dir, name, Array[Byte](0x1f, 0x8b.toByte)) // a bare gzip magic
      dir.toString
    }
    intercept[Exception](Jsonl.docsFromPaths(spark, tiny("1.jsonl.gz")).collect())
    intercept[Exception](Tar.docsFromPaths(spark, tiny("1.tar.gz")).collect())
    intercept[Exception](Warc.docsFromPaths(spark, tiny("1.warc.gz")).collect())
    intercept[Exception](Zip.docsFromPaths(spark, tiny("1.zip")).collect())
    intercept[Exception](Pdf.docsFromPaths(spark, tiny("1.pdf")).collect())
    // and the 1-byte case, under every magic's width
    def one(name: String): String = {
      val dir = Files.createTempDirectory("graft_tiny1")
      mk(dir, name, Array[Byte]('P'))
      dir.toString
    }
    intercept[Exception](Jsonl.docsFromPaths(spark, one("2.jsonl")).collect())
    intercept[Exception](Tar.docsFromPaths(spark, one("2.tar")).collect())
    intercept[Exception](Warc.docsFromPaths(spark, one("2.warc")).collect())
    intercept[Exception](Zip.docsFromPaths(spark, one("2.zip")).collect())
    intercept[Exception](Pdf.docsFromPaths(spark, one("2.pdf")).collect())
  }

  test("file-id slot space: a 2^39 file id rejects before the walk, every format and door") {
    // the bytes are no valid container of any format, so only a guard that
    // runs BEFORE the record walk can name the slot space
    val formats = Seq[(Container[_], String)](Warc -> "warc", Tar -> "tar",
      Zip -> "zip", Pdf -> "pdf", Jsonl -> "jsonl")
    for ((c, ext) <- formats) {
      val dir = Files.createTempDirectory("graft_slot39")
      mk(dir, s"${1L << 39}.$ext", "not a container".getBytes("UTF-8"))
      val doors = Seq[(String, () => Unit)](
        "docsFromFiles" -> (() => c.docsFromFiles(
          spark.read.format("binaryFile").load(dir.toString)).collect()),
        "docsFromPaths" -> (() => c.docsFromPaths(spark, dir.toString).collect()))
      for ((door, run) <- doors) {
        val e = intercept[Exception](run())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString("\n")
        assert(msgs.contains("2^39"), s"$ext $door: $msgs")
      }
    }
  }
}
