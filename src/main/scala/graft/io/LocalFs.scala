package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Hadoop's raw local filesystem with `setPermission` done in-process.
  *
  * Without the native Hadoop library (any pip or tarball Spark), stock
  * `RawLocalFileSystem.setPermission` starts a `chmod` process, and it is
  * called for every file and directory Hadoop creates: each offset-log,
  * commit-log and state-store file, each parquet part file and its
  * `.crc`. This sets the same 9 mode bits through `java.nio` instead.
  * The sticky bit (which `PosixFilePermission` cannot express) and
  * non-POSIX filesystems keep the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.modeBits(permission))
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `rwxrwxrwx` as `PosixFilePermission`s: the enum lists owner read
    * first, which is mode bit 8 (0400), down to others execute, bit 0. */
  def modeBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p))
    set
  }
}

/** The `file:` filesystem the engine installs (`fs.file.impl`): stock
  * `LocalFileSystem`, `.crc` files included, over [[NioRawLocalFileSystem]],
  * so the on-disk layout is unchanged. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Spark's streaming checkpoint file manager, chosen by filesystem.
  *
  * A `file:` path whose filesystem is [[NioLocalFileSystem]] gets
  * `FileSystemBasedCheckpointFileManager`, which writes through that
  * filesystem and renames with `java.io`. Spark's default,
  * `FileContextBasedCheckpointFileManager`, goes through Hadoop's
  * `FileContext`, whose local implementation is hard-wired to the stock
  * raw filesystem and resolves symlinks with `readlink` processes on
  * every atomic write, plus a `chmod` per file. On a local disk its
  * rename-over-existing is no more atomic than `java.io`'s.
  *
  * Every other path gets Spark's default manager: HDFS, S3 and the rest
  * behave exactly as without this class, and so does a `file:` path whose
  * filesystem is some other class. That includes Hive's
  * `ProxyLocalFileSystem`, which `hive-exec` registers for `file:`: over
  * it, the `FileSystem`-based manager's overwriting `createAtomic` kept
  * the old file and raised no error. */
class LocalFirstCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  // the scheme first: getting a remote path's FileSystem can contact it
  private val underlying: CheckpointFileManager =
    if (LocalFirstCheckpointFileManager.isLocal(path, hadoopConf)
        && path.getFileSystem(hadoopConf).isInstanceOf[NioLocalFileSystem])
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  /** The manager this one delegates to (for specs). */
  def delegate: CheckpointFileManager = underlying

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path) = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = underlying.list(path, filter)
  override def list(path: Path): Array[FileStatus] = underlying.list(path)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalFirstCheckpointFileManager {
  /** The path's scheme, or the default filesystem's when it has none, is `file`. */
  def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
