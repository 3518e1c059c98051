package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LocalCheckpointFileManager

/** The streaming-checkpoint file manager's contract on plain local
  * directories, no Spark session: atomic publish, cancel, Hadoop's own
  * checksums and mode bits, and the hand-off of other schemes. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_ckpt_fm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(fm: LocalCheckpointFileManager, p: java.nio.file.Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet)

  test("createAtomic refuses an existing target without overwrite, and replaces it with") {
    val (dir, fm) = fresh()
    val p = dir.resolve("0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](fm.createAtomic(new Path(p.toUri), false))
    assert(Files.readString(p) == "first")
    write(fm, p, "third", overwrite = true)
    assert(Files.readString(p) == "third")
    assert(names(dir) == Set("0", ".0.crc"), "a tmp file was left behind")
  }

  test("cancel leaves neither the target nor a tmp file") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, names(dir))
  }

  test("a written file passes Hadoop's checksum, and one flipped byte fails it") {
    val (dir, fm) = fresh()
    val p = dir.resolve("2")
    val text = "v1\n" + "{\"batchWatermarkMs\":0}\n" * 40
    write(fm, p, text, overwrite = false)
    val stock = FileSystem.getLocal(conf)
    stock.setVerifyChecksum(true)
    def read(): String = scala.util.Using.resource(stock.open(new Path(p.toUri)))(in =>
      new String(in.readAllBytes(), UTF_8))
    assert(read() == text)
    val bytes = Files.readAllBytes(p)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(p, bytes)
    intercept[ChecksumException](read())
  }

  test("files, their .crc and directories get the stock LocalFileSystem's mode bits") {
    val (dir, fm) = fresh()
    val stock = FileSystem.getLocal(conf)
    val out = stock.create(new Path(dir.resolve("stock").toUri))
    out.write(1)
    out.close()
    stock.mkdirs(new Path(dir.resolve("stockDir").toUri))
    write(fm, dir.resolve("mine"), "x", overwrite = false)
    fm.mkdirs(new Path(dir.resolve("mineDir").toUri))
    def mode(name: String) = Files.getPosixFilePermissions(dir.resolve(name))
    assert(mode("mine") == mode("stock"))
    assert(mode(".mine.crc") == mode(".stock.crc"))
    assert(mode("mineDir") == mode("stockDir"))
  }

  test("a path of another scheme goes to Spark's default manager") {
    // the scheme is backed by LocalFs here, so that building the
    // manager touches no remote file system
    val other = new Configuration(conf)
    other.set("fs.AbstractFileSystem.remote.impl", "org.apache.hadoop.fs.local.LocalFs")
    val remote = new LocalCheckpointFileManager(new Path("remote://host/ckpt"), other)
    assert(remote.delegate.getClass == classOf[FileContextBasedCheckpointFileManager])
    val local = new LocalCheckpointFileManager(new Path("/tmp/ckpt"), conf)
    assert(!classOf[FileContextBasedCheckpointFileManager].isInstance(local.delegate))
    assert(local.isLocal)
  }
}
