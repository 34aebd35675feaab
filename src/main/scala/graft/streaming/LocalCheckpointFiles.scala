package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of the RocksDB-backed streaming clones
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in
  * StreamingOps' `rocksDb` conf list). Without the native Hadoop library,
  * Spark's default manager forks a `chmod` per created file and two to
  * four `readlink`s per rename (`FileContext.rename` resolves links
  * through `FileUtil.readLink`). `file:` paths here go through Spark's own
  * FileSystem-based manager over a checksummed local file system whose
  * only change is a `java.nio` chmod: same temp-file-plus-rename
  * protocol, same `.crc` sidecars, no child process. Every other scheme
  * keeps Spark's default manager. */
class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private[graft] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new LocalCheckpointFiles.OnLocalFs(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = impl.open(p)
  def list(p: Path, filter: PathFilter) = impl.list(p, filter)
  def mkdirs(p: Path): Unit = impl.mkdirs(p)
  def exists(p: Path): Boolean = impl.exists(p)
  def delete(p: Path): Unit = impl.delete(p)
  def isLocal: Boolean = impl.isLocal
  def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {
  /** Spark's FileSystem-based manager on an unshared [[NioChmod]] file
    * system; the parent's constructor never reads `fs`. */
  private final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioChmod)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }

  /** The raw local file system with `setPermission` through `java.nio`
    * instead of a forked `chmod`. */
  private final class NioChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val bits = perm.toShort
      val set = PosixFilePermission.values.zipWithIndex.collect {
        case (x, i) if (bits & (0x100 >> i)) != 0 => x
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set.toSet.asJava)
    }
  }
}
