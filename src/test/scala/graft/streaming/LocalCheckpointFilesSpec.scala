package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.StreamingQuery

/** A non-`file` scheme for the delegation test: FileContext resolves it
  * through `fs.AbstractFileSystem.ckpttest.impl`, with nothing behind it.
  */
class CkptTestFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "ckpttest", false)

/** [[LocalCheckpointFiles]] writes what Spark's default checkpoint manager
  * writes, keeps its atomic-write semantics and forks no process doing it.
  */
class LocalCheckpointFilesSpec extends StreamFixtures {

  private val SparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  private def manager(dir: JPath): LocalCheckpointFiles =
    new LocalCheckpointFiles(new Path(dir.toUri), spark.sparkContext.hadoopConfiguration)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  /** Every file and directory under `root`, relative, with its POSIX mode. */
  private def tree(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map(p =>
      root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally walk.close()
  }

  // the batch ids stop moving once any no-data batch a watermark move asks for has run
  private def settle(qs: Seq[StreamingQuery]): Unit = {
    def ids = qs.map(q => Option(q.lastProgress).map(_.batchId))
    var seen = ids
    do { seen = ids; Thread.sleep(1000) } while (ids != seen)
  }

  /** `startAll` over three drops, each committed before the next, under the
    * named checkpoint manager: the checkpoint root and every process the JVM
    * started meanwhile whose command line names that root.
    */
  private def threeDrops(tag: String, managerClass: Option[String]): (JPath, Seq[String]) = {
    val src = Files.createTempDirectory(s"graft_ckpt_src_$tag")
    val root = Files.createTempDirectory(s"graft_ckpt_root_$tag")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try withConf(CheckpointManagerKey, managerClass) {
      val qs = SensorStreams.startAll(spark, src.toString, "100 milliseconds", Some(root.toString))
      try Seq(batch1, Seq(onTime2), Seq(late)).zipWithIndex.foreach { case (evs, i) =>
        writeJson(src, Seq(evs), from = i)
        qs.foreach(_.processAllAvailable())
        settle(qs)
      } finally qs.foreach(_.stop())
    } finally rec.stop()
    val dump = Files.createTempFile(s"graft_ckpt_$tag", ".jfr")
    try {
      rec.dump(dump)
      rec.close()
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      (root, commands.filter(_.contains(root.toString)))
    } finally Files.deleteIfExists(dump)
  }

  test("startAll forks no process for its checkpoints and writes the default manager's files and modes") {
    val (defaultRoot, defaultForks) = threeDrops("default", SparkDefault)
    val (root, forks) = threeDrops("local", None)
    assert(forks.isEmpty, forks.take(5))
    // without libhadoop the default manager forks chmod/readlink: the recording sees them
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(defaultForks.nonEmpty)
    val (expected, got) = (tree(defaultRoot), tree(root))
    assert(expected.keys.exists(_.endsWith(".crc")) && expected.keys.exists(_.contains("state/")),
      expected.keys.toSeq.sorted)
    assert(got === expected)
  }

  test("a no-overwrite createAtomic onto an existing file throws, keeps the old bytes and the default's leftovers") {
    // Spark's rename-based stream leaves its temp file when the rename is refused
    def refused(tag: String, fm: (Path, Configuration) => CheckpointFileManager): Set[String] = {
      val dir = Files.createTempDirectory(s"graft_ckpt_exists_$tag")
      val files = fm(new Path(dir.toUri), spark.sparkContext.hadoopConfiguration)
      val p = new Path(dir.resolve("0").toUri)
      write(files, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(files, p, "new", overwrite = false))
      assert(Files.readString(dir.resolve("0")) === "old")
      tree(dir).keySet.map(_.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"))
    }
    assert(refused("local", new LocalCheckpointFiles(_, _)) ===
      refused("default", new FileContextBasedCheckpointFileManager(_, _)))
  }

  test("a cancelled createAtomic leaves neither the target nor its temp file") {
    val dir = Files.createTempDirectory("graft_ckpt_cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(tree(dir).isEmpty)
  }

  test("a non-file path gets Spark's FileContext manager") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.AbstractFileSystem.ckpttest.impl", classOf[CkptTestFs].getName)
    val fm = new LocalCheckpointFiles(new Path("ckpttest:///checkpoints/q"), conf)
    assert(fm.files.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(manager(Files.createTempDirectory("graft_ckpt_local")).files
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  for ((tag, providerClass) <- providers)
    test(s"a checkpoint written by Spark's default manager restarts with state and offsets intact ($tag provider)") {
      assertRestartKeepsStateAndOffsets(s"from_default_$tag", providerClass, SparkDefault)
    }
}
