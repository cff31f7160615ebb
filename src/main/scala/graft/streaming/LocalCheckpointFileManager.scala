package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager graft's streams run with: every
  * micro-batch writes its offset log, commit log and state-store
  * files through it.
  *
  * Without libhadoop (the native library is optional and often
  * absent), Spark's default manager forks a process for almost every
  * checkpoint file: Hadoop's `RawLocalFileSystem` runs `chmod` after
  * each create, and `FileContext.rename` runs `readlink` about four
  * times per rename. On a 4-vCPU host one `stream_payments` benchmark
  * run forked 4,755 children this way, and `walCommit`/`commitOffsets`
  * took 61–67 ms per batch for two tiny files (3–5 ms with this
  * manager).
  *
  * For `file:` paths this manager writes through Hadoop's checksummed
  * `LocalFileSystem` (so `.crc` sidecars are written and verified on
  * read, as before) over a `RawLocalFileSystem` that sets permission
  * bits with `java.nio` instead of `chmod`, and renames with
  * `FileSystem.rename` as Spark's own `FileSystemBasedCheckpointFileManager`
  * does. File names, the temp-then-rename publish and the
  * `FileAlreadyExistsException` on a non-overwrite collision are
  * Spark's. Any other scheme gets Spark's default manager unchanged.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new LocalCheckpointFileManager.ForkFree(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's key for the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make `s`'s streams use this manager, unless the session already
    * names a manager: a caller keeps another one by setting
    * [[ClassKey]] first. Every graft stream entry point calls this
    * before it builds or starts a query.
    */
  def install(s: SparkSession): Unit =
    if (s.conf.getOption(ClassKey).isEmpty)
      s.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** What `CheckpointFileManager.create` picks when no class is named. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ClassKey)
    CheckpointFileManager.create(path, plain)
  }

  /** Spark's `FileSystem`-based manager over a fork-free local
    * filesystem.
    */
  private final class ForkFree(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionFileSystem)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** `RawLocalFileSystem` that sets the permission bits through
    * `java.nio` instead of forking `chmod`. A sticky bit, which POSIX
    * file attributes cannot express, still goes through Hadoop.
    */
  private final class NioPermissionFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
