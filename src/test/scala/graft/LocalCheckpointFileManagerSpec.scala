package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KafkaPipeline, LocalCheckpointFileManager}

/** The checkpoint file manager graft's streams install: Spark's
  * temp-then-rename publish, Hadoop `.crc` sidecars and the default
  * manager's permission bits on `file:` paths, Spark's default manager
  * on any other scheme, and a session-level opt-out.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tempDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("graft_cfm")
    d.toFile.deleteOnExit()
    d
  }

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  test("local paths get the fork-free manager; createAtomic publishes only on close") {
    val dir = tempDir()
    val fm = manager(dir)
    assert(fm.delegate.getClass.getSimpleName === "ForkFree")
    assert(fm.isLocal)
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    assert(!fm.exists(p))
    assert(!names(dir).contains("0"))
    out.close()
    assert(fm.exists(p))
    assert(read(fm, p) === "v1")
    // only the file and its checksum remain: the temp file was renamed
    assert(names(dir) === Set("0", ".0.crc"))
    write(fm, p, "v2")
    assert(read(fm, p) === "v2")
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("0"))
  }

  test("cancel leaves neither the file nor its temp") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "1")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("never".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir) === Set.empty)
  }

  test("a non-overwrite write onto an existing file throws FileAlreadyExistsException, as the default manager does") {
    /** The directory after the collision, temp-file ids masked. */
    def collide(mk: Path => CheckpointFileManager): Set[String] = {
      val dir = tempDir()
      val fm = mk(new Path(dir.toUri))
      val p = new Path(dir.toUri.toString, "2")
      write(fm, p, "first")
      intercept[FileAlreadyExistsException] {
        write(fm, p, "second", overwrite = false)
      }
      assert(read(fm, p) === "first")
      names(dir).map(_.replaceAll("[0-9a-f-]{36}", "*"))
    }
    val ours = collide(new LocalCheckpointFileManager(_, conf))
    assert(ours === collide(new FileContextBasedCheckpointFileManager(_, conf)))
    // Spark keeps the losing temp file (and its checksum) for inspection
    assert(ours === Set("2", ".2.crc", ".2.*.tmp", "..2.*.tmp.crc"))
  }

  test("a .crc sidecar is written and a flipped byte fails the read with ChecksumException") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "3")
    write(fm, p, "offsets and state " * 40)
    assert(Files.size(dir.resolve(".3.crc")) > 0)
    val raw = Files.readAllBytes(dir.resolve("3"))
    raw(100) = (raw(100) ^ 1).toByte
    Files.write(dir.resolve("3"), raw)
    intercept[ChecksumException](read(fm, p))
  }

  test("new files and directories get the default manager's permission bits") {
    def perms(f: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    /** The mode of each entry of a checkpoint `mk` lays out in a fresh dir. */
    def layout(mk: Path => CheckpointFileManager): Seq[String] = {
      val dir = tempDir()
      val root = new Path(dir.toUri.toString, "ckpt")
      val fm = mk(root)
      fm.createCheckpointDirectory()
      fm.mkdirs(new Path(root, "offsets"))
      write(fm, new Path(root, "offsets/0"), "{}")
      Seq("ckpt", "ckpt/offsets", "ckpt/offsets/0", "ckpt/offsets/.0.crc")
        .map(r => s"$r ${perms(dir.resolve(r))}")
    }
    val ours = layout(new LocalCheckpointFileManager(_, conf))
    assert(ours === layout(new FileContextBasedCheckpointFileManager(_, conf)))
    assert(ours.contains("ckpt/offsets/0 rw-r--r--"), ours)
  }

  test("a non-file: path gets Spark's default manager") {
    // a scheme with a FileSystem but no FileContext binding, so the
    // default is Spark's fallback FileSystem-based manager
    val c = new Configuration()
    c.set("fs.graftother.impl", classOf[RawLocalFileSystem].getName)
    c.setBoolean("fs.graftother.impl.disable.cache", true)
    val p = new Path("graftother:///ckpt")
    val fm = new LocalCheckpointFileManager(p, c)
    assert(fm.delegate.getClass === CheckpointFileManager.create(p, c).getClass)
    assert(fm.delegate.getClass === classOf[FileSystemBasedCheckpointFileManager])
    // the same answer with this manager named in the conf it receives
    c.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    val named = CheckpointFileManager.create(p, c)
    assert(named.asInstanceOf[LocalCheckpointFileManager].delegate.getClass ===
      classOf[FileSystemBasedCheckpointFileManager])
  }

  test("a stream entry point installs the manager unless the session names one") {
    def resolved(s: SparkSession) = CheckpointFileManager.create(
      new Path(tempDir().toUri), s.sessionState.newHadoopConf()).getClass
    def records(s: SparkSession) =
      MemoryStream[String](s, 1)(Encoders.STRING).toDF()
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
    KafkaPipeline.paymentRangeSum(fresh, records(fresh))
    assert(resolved(fresh) === classOf[LocalCheckpointFileManager])
    val pinned = spark.newSession()
    pinned.conf.set(LocalCheckpointFileManager.ClassKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    KafkaPipeline.paymentRangeSum(pinned, records(pinned))
    assert(resolved(pinned) === classOf[FileContextBasedCheckpointFileManager])
  }
}
