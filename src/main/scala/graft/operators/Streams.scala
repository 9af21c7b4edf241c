package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}

/** Shared task-side stream plumbing for the container/drop front doors
  * (WARC/TAR/ZIP/PDF/JSONL): the magic-sniffed incremental decompressor
  * dispatch, the close-on-exhaust stream walk, the DISTRIBUTED
  * landing-bucket lister every path-walk front door routes through, and
  * the fixture landing writer. The front doors themselves are one
  * [[Container]] trait; each format supplies only its record walks.
  */
private[graft] object Streams {

  /** One root `listStatus`, split into matched root-level drop files
    * (with their total on-disk bytes — free from the FileStatus) and
    * subdirectories whose walks must run task-side.
    */
  private final case class RootListing(
      rootFiles: Seq[(Long, String)], rootBytes: Long, subDirs: Seq[String])

  private def listRoot(spark: SparkSession, dir: String, fileRe: String): RootListing = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = fileRe.r
    val subDirs = scala.collection.mutable.Buffer.empty[String]
    val rootFiles = scala.collection.mutable.Buffer.empty[(Long, String)]
    var rootBytes = 0L
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory) subDirs += st.getPath.toString
      else st.getPath.getName match {
        case re(id, _*) =>
          rootFiles += ((id.toLong, st.getPath.toString))
          rootBytes += st.getLen
        case _ => ()
      }
    }
    RootListing(rootFiles.toSeq, rootBytes, subDirs.toSeq)
  }

  /** Distributed landing-bucket listing: every `<id><ext>` drop file under
    * `dir` as `(id, path)`, with the driver paying exactly ONE
    * `listStatus` at the root — O(direct children), never O(files).
    * Root-level children split into drop files (matched in hand) and
    * subdirectories; each subdirectory's full recursive walk runs INSIDE
    * a task via a lazy `listStatusIterator` chain (O(one listing page) of
    * task memory), so a crawl-scale bucket — 10⁶–10⁷ files sharded into
    * prefix dirs, the layout every real landing zone uses — lists at
    * cluster parallelism instead of serially on the driver.
    *
    * `fileRe` must FULL-match the drop file NAME with group 1 the numeric
    * file id; non-matching names are skipped silently (landing dirs are
    * never clean). `listStatus`/`listStatusIterator`, NOT `listFiles`:
    * LocatedFileStatus eagerly loads each file's permissions, which on a
    * local FS without the native-hadoop library forks a shell process per
    * file (measured ~25 s for 6k files).
    */
  def listDrops(spark: SparkSession, dir: String, fileRe: String): Dataset[(Long, String)] =
    assembleDrops(spark, fileRe, listRoot(spark, dir, fileRe))

  private def assembleDrops(spark: SparkSession, fileRe: String,
                            rl: RootListing): Dataset[(Long, String)] = {
    import spark.implicits._
    val RootListing(rootFiles, _, subDirs) = rl
    val atRoot = spark.createDataset(rootFiles)
    if (subDirs.isEmpty) atRoot
    else atRoot.union(
      spark.createDataset(subDirs.toSeq)
        .repartition(math.max(1, math.min(subDirs.size,
          4 * spark.sparkContext.defaultParallelism)))
        .flatMap { d =>
          val re2 = fileRe.r
          val p = new org.apache.hadoop.fs.Path(d)
          val dfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          def walk(q: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] = {
            val it = dfs.listStatusIterator(q)
            new Iterator[org.apache.hadoop.fs.FileStatus] {
              def hasNext: Boolean = it.hasNext
              def next(): org.apache.hadoop.fs.FileStatus = it.next()
            }.flatMap(st =>
              if (st.isDirectory) walk(st.getPath) else Iterator.single(st))
          }
          walk(p).flatMap { st =>
            st.getPath.getName match {
              case re2(id, _*) => Iterator.single((id.toLong, st.getPath.toString))
              case _ => Iterator.empty
            }
          }
        })
  }

  /** Target per-task archive bytes for a fully-listed (root-level) bucket —
    * the scan-split calculus of guide §6 (`maxPartitionBytes`) applied to
    * drop-file read tasks: a task should own enough bytes that its fixed
    * scheduling cost is amortized.
    */
  private val DropShardTargetBytes = 32L << 20

  /** [[listDrops]] sharded into walk tasks at 4× cluster parallelism —
    * proportional to the CLUSTER, not a constant cap: the shuffle
    * carries only (id, path) tuples, empty partitions on a small bucket
    * cost scheduling noise, and a crawl-scale bucket fans its per-file
    * walks across every executor. The shard key is the file ID (ids are
    * unique by contract, so hash-by-id spreads exactly like round-robin)
    * which co-locates any DUPLICATE id — the same numeric name landed in
    * two subdirs would otherwise ingest twice and collide in the
    * `fileId << 24` doc_id space downstream — so the walk rejects it
    * loudly instead. [[Container.docsFromPaths]] (the path door of all
    * five formats) and the `*_files_ingest` fixture walks route through
    * here.
    */
  def dropTasks(spark: SparkSession, dir: String, fileRe: String): Dataset[(Long, String)] = {
    import spark.implicits._
    // r19 (size-adaptive fan-out — the r18 scaling block measured the
    // *_files_ingest rows SLOWER at 32 cores than 8, pure empty-task
    // scheduling noise from the unconditional 4× shard count): when the
    // bucket is entirely root-level files, the one root listStatus already
    // knows the total drop bytes for free, so the shard count follows the
    // data — bytes/32 MB, floored at cluster parallelism (I/O latency
    // hiding), capped at the 4× fan-out. A prefix-sharded crawl-scale
    // bucket (subdirs present, file count unknown until the task-side
    // walks run) keeps the unconditional 4× fan-out.
    val par = spark.sparkContext.defaultParallelism
    val rl = listRoot(spark, dir, fileRe)
    val shards =
      if (rl.subDirs.isEmpty)
        math.min(4L * par,
          math.max(par.toLong,
            (rl.rootBytes + DropShardTargetBytes - 1) / DropShardTargetBytes)).toInt
      else 4 * par
    assembleDrops(spark, fileRe, rl)
      .repartition(shards, col("_1"))
      .mapPartitions { it =>
        val seen = scala.collection.mutable.LongMap.empty[String]
        it.map { case t @ (id, p) =>
          seen.get(id) match {
            case Some(prev) => throw new IllegalArgumentException(
              s"drop id $id appears at two paths ('$prev' and '$p') — " +
                "duplicate numeric names collide in the doc_id file-slot space")
            case None => seen(id) = p
          }
          t
        }
      }
  }

  /** [[dropTasks]] walked: `walk(fileId, fs, path)` runs inside the task
    * that owns each drop file, with the file's own Hadoop filesystem.
    */
  def walkDrops[T: Encoder](spark: SparkSession, dir: String, fileRe: String)(
      walk: (Long, FileSystem, Path) => Iterator[T]): Dataset[T] =
    dropTasks(spark, dir, fileRe).mapPartitions { ps =>
      val conf = new org.apache.hadoop.conf.Configuration()
      ps.flatMap { case (fileId, p) =>
        val path = new Path(p)
        walk(fileId, path.getFileSystem(conf), path)
      }
    }

  /** Sniff the stream head and wrap with the matching INCREMENTAL
    * decompressor — `GZIPInputStream` (multi-member concat, per-member
    * CRC verified by the JDK), `ZstdInputStream` (frame loop, content
    * checksums verified natively), or `LZ4FrameInputStream` — else pass
    * the stream through untouched. Never dispatches on file name. A
    * stream shorter than 4 bytes passes through (the caller's grammar
    * rejects it with its own message).
    */
  def sniffed(in: java.io.InputStream): java.io.InputStream = {
    val pb = new java.io.PushbackInputStream(in, 4)
    val head = new Array[Byte](4)
    var got = 0
    var n = 0
    while (got < 4 && n >= 0) {
      n = pb.read(head, got, 4 - got)
      if (n > 0) got += n
    }
    pb.unread(head, 0, got)
    if (got >= 2 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
      new java.util.zip.GZIPInputStream(pb, 64 * 1024)
    else if (got >= 4 && (head(0) & 0xff) == 0x28 && (head(1) & 0xff) == 0xb5 &&
      (head(2) & 0xff) == 0x2f && (head(3) & 0xff) == 0xfd)
      new com.github.luben.zstd.ZstdInputStream(pb)
    else if (got >= 4 && (head(0) & 0xff) == 0x04 && (head(1) & 0xff) == 0x22 &&
      (head(2) & 0xff) == 0x4d && (head(3) & 0xff) == 0x18)
      new net.jpountz.lz4.LZ4FrameInputStream(pb, false)
    else pb
  }

  /** Close `in` when the wrapped iterator exhausts or first fails — the
    * task-side stream hygiene for the path walks (call sites drain).
    */
  def closeOnExhaust[T](it: Iterator[T], in: java.io.Closeable): Iterator[T] =
    new Iterator[T] {
      private var open = true
      def hasNext: Boolean = {
        val h = open && it.hasNext
        if (open && !h) { open = false; in.close() }
        h
      }
      def next(): T =
        try it.next()
        catch { case e: Throwable => if (open) { open = false; in.close() }; throw e }
    }

  /** Open `path` and walk the stream, closing it when the walk exhausts
    * or first fails — also when `walk` fails before yielding anything
    * (a stream too short for any magic).
    */
  def streamWalk[T](fs: FileSystem, path: Path)(
      walk: java.io.InputStream => Iterator[T]): Iterator[T] = {
    val in = fs.open(path)
    try closeOnExhaust(walk(in), in)
    catch { case e: Throwable => in.close(); throw e }
  }

  /** The schema of a `binaryFile` stream source (a stream needs it declared). */
  val BinaryFileSchema = "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"

  /** Land `(file name, bytes)` rows as files in `dir`, each written by the
    * task holding it. java.nio writes: Hadoop's local FS without the
    * native library forks a chmod PROCESS per created file (~5 ms each —
    * measured 34 s for 6.1k fixture files); the landing dir is task-local
    * scratch, so plain file IO is the honest tool here.
    */
  def land(files: Dataset[(String, Array[Byte])], dir: String): Unit =
    files.foreachPartition { (rows: Iterator[(String, Array[Byte])]) =>
      rows.foreach { case (name, bytes) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
      }
    }
}

/** One landing-bucket container format behind the three document front
  * doors. A format supplies its label, one drop-file name regex, an
  * in-memory record walk, a by-path record walk and the record→document
  * mapping; [[docsFromFiles]], [[docStream]] and [[docsFromPaths]] are
  * written here once, so the file-id match, the doc_id packing with its
  * slot guards, the codepoint count and the document row exist in one
  * place. `Warc`, `Tar`, `Zip`, `Pdf` and `Jsonl` mix it in.
  *
  * doc_id = fileId·2²⁴ + record slot: stable across replays, and
  * collision-free for files under 16M records. Every record the walk
  * yields owns a slot, also the ones [[doc]] skips (WARC non-`response`
  * records, non-`.txt` archive members), so ids stay stable over the
  * records a format skips. Overflow of either field rejects loudly; the
  * file-id guard runs before the file is walked.
  */
private[graft] trait Container[R] extends Serializable {

  /** Format name in reject messages. */
  protected def label: String

  /** The drop-file name with group 1 the numeric file id, e.g.
    * `([0-9]+)\.zip`. Both doors match it case-insensitively against the
    * whole file name: the batch door over binaryFile's `path`, the path
    * door in [[Streams.dropTasks]].
    */
  protected def fileRe: String

  /** The records of one file held in memory (a binaryFile `content`). */
  protected def bytesWalk(bytes: Array[Byte]): Iterator[R]

  /** The records of one file read by path, never the whole file resident
    * where the format allows it. Closes what it opens once drained.
    */
  protected def pathWalk(fs: FileSystem, path: Path): Iterator[R]

  /** Record `slot` of drop file `file` as `(text, lang, source)`, or
    * None when the record is not a document.
    */
  protected def doc(file: String, slot: Int, r: R): Option[(String, String, String)]

  protected def utf8(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)

  /** Regex group `g` of [[fileRe]] over a binaryFile frame's `path`. */
  protected def pathGroup(g: Int): org.apache.spark.sql.Column =
    regexp_extract(col("path"), s"(?i)(?:^|/)$fileRe$$", g)

  /** Drop files → `documents`-shaped rows, from a batch OR streaming
    * binaryFile frame (the streaming form feeds
    * [[graft.streaming.CorpusIngest.start]]). Names that do not match
    * [[fileRe]] are skipped: landing dirs are never clean.
    */
  def docsFromFiles(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    docRows(files
      .select(pathGroup(1).try_cast("long").as("file_id"),
        regexp_extract(col("path"), "([^/]+)$", 1).as("name"), col("content"))
      .filter(col("file_id").isNotNull)
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (fileId, name, bytes) =>
        docs(fileId, name)(bytesWalk(bytes))
      }))
  }

  /** The streaming landing shape: drops appearing in `dir` stream through
    * binaryFile into document rows, micro-batch by micro-batch.
    */
  def docStream(spark: SparkSession, dir: String): DataFrame =
    docsFromFiles(spark.readStream.format("binaryFile")
      .schema(Streams.BinaryFileSchema).load(dir))

  /** [[docsFromFiles]] by PATH — the huge-drop front door: the bucket
    * lists DISTRIBUTED via [[Streams.dropTasks]] (one root `listStatus`
    * on the driver, sharded prefix subdirs walked inside tasks, so drops
    * any depth down are ingested too) and each task walks its files
    * through [[pathWalk]], past binaryFile's 2 GiB content cap. Same
    * doc_id scheme and row shape as [[docsFromFiles]] (parity-pinned in
    * each format's spec).
    */
  def docsFromPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docRows(Streams.walkDrops(spark, dir, s"(?i)^$fileRe$$") { (fileId, fs, path) =>
      docs(fileId, path.getName)(pathWalk(fs, path))
    })
  }

  private def docs(fileId: Long, file: String)(
      walk: => Iterator[R]): Iterator[(Long, String, String, String, Long)] = {
    // fileId fills the high 39 bits of doc_id; a larger numeric name would
    // overflow the shift and collide across files
    require(fileId < (1L << 39),
      s"$label file id $fileId exceeds the 2^39 doc_id file-slot space")
    walk.zipWithIndex.flatMap { case (r, i) =>
      require(i < (1 << 24),
        s"$label file $fileId: record $i exceeds the 2^24 doc_id slot space")
      doc(file, i, r).map { case (text, lang, source) =>
        // codepoints, matching Spark/DuckDB length(text) — NOT UTF-16
        // code units, which double-count non-BMP chars
        ((fileId << 24) | i, text, lang, source,
          text.codePointCount(0, text.length).toLong)
      }
    }
  }

  private def docRows(rows: Dataset[(Long, String, String, String, Long)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
}
