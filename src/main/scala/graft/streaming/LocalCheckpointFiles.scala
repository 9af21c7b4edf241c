package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The engine's streaming checkpoint manager, installed for every session by
  * [[graft.Sessions.local]] (`spark.sql.streaming.checkpointFileManagerClass`).
  * Every offsets, commits, sources and metadata log entry and every
  * state-store file of every streaming query goes through it.
  *
  * Why: without `libhadoop`, Hadoop's local file system forks a process per
  * permission change (`chmod`, once per file it creates, `.crc` sidecars
  * included) and per symlink check (`readlink`, once per FileContext rename,
  * whose destination check is a link-status lookup). Spark's default manager
  * (`FileContextBasedCheckpointFileManager`) pays both for every checkpoint
  * file: measured, 300-440 process starts a second under `sensor_stream`
  * on 4 cores.
  *
  * On a `file:` path this runs Spark's `FileSystemBasedCheckpointFileManager`
  * protocol (temp file, then `FileSystem.rename`; a no-overwrite rename onto
  * an existing file throws `FileAlreadyExistsException`) over a private
  * checksummed `LocalFileSystem` whose chmod runs in-process. What lands on
  * disk is what the default manager writes: the same files, the same `.crc`
  * sidecars, the same permission bits. Any other scheme gets Spark's default
  * manager unchanged.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[streaming] val files: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocal(path, conf))
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override protected val fs: FileSystem = LocalCheckpointFiles.localFileSystem(conf)
      }
    else new FileContextBasedCheckpointFileManager(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {

  // an unqualified path resolves against the default file system, as Spark's own managers do
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  // built per manager rather than registered as `fs.file.impl`: Hadoop's
  // FileSystem cache would make a JVM-wide setting depend on which code
  // touched `file:` first
  private def localFileSystem(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new InProcessChmod)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Hadoop's raw local file system with `setPermission` done by NIO. Bits
    * NIO cannot set (sticky) and file systems without POSIX attributes fall
    * back to Hadoop's own path.
    */
  private final class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try {
        // values() runs owner rwx, group rwx, others rwx: mode bits 8 down to 0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
