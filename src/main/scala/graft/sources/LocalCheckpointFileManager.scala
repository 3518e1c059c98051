package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Spark's streaming-checkpoint file manager, without process forks on
  * a local disk. Installed by [[graft.GraftExtensions.sessionDefaults]].
  *
  * Without libhadoop, Hadoop's local file system forks `chmod` for every
  * file it creates (the data file and its `.crc`), and `FileContext`'s
  * rename, which Spark's default manager uses, forks `readlink` 2–4 times
  * per file. A streaming trigger writes an offset entry, a commit entry
  * and one state file per partition, so those forks were most of its
  * cost. For a `file:` path this manager writes through a Hadoop
  * `LocalFileSystem` whose permissions are set by `java.nio`, and it
  * publishes with Spark's `FileSystem.rename`-based atomic write: the
  * bytes, the `.crc` sidecars and the mode bits are those of Hadoop's
  * own local file system. Any other scheme goes to Spark's default,
  * `FileContext`-based manager.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = LocalCheckpointFileManager.localFs(hadoopConf)
        // refuse before a tmp file exists: Spark's stream leaves its tmp
        // file behind when the publishing rename finds the target
        override def createAtomic(p: Path, overwriteIfPossible: Boolean) = {
          if (!overwriteIfPossible && fs.exists(p)) throw new FileAlreadyExistsException(s"$p exists")
          super.createAtomic(p, overwriteIfPossible)
        }
      }
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Hadoop's checksummed local file system over a raw one that sets
    * permission bits in-process instead of forking `chmod`. */
  private def localFs(conf: Configuration): FileSystem = {
    val raw = new RawLocalFileSystem {
      override def setPermission(p: Path, permission: FsPermission): Unit = {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs owner r,w,x → others r,w,x: bits 0400 → 0001
        PosixFilePermission.values.foreach(b => if ((bits & (0x100 >> b.ordinal)) != 0) perms.add(b))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
    val fs = new LocalFileSystem(raw)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
}
