package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** Checkpoint file manager that starts no processes on local paths.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs `chmod` on
  * every file and directory it creates, and Spark's default
  * FileContext-based manager runs `readlink` on every rename. A
  * micro-batch writes an offset-log entry, a commit-log entry and a
  * file-source-log entry, so at a 500 ms poll those process starts (a
  * few ms each) were a visible share of every batch.
  *
  * On a path whose FileSystem is a `LocalFileSystem` this manager is
  * Spark's FileSystem-based manager over [[NioLocalFileSystem]]: the
  * same checksummed files (every `.crc` included, reads still verified),
  * renames through the FileSystem API, and permissions set through
  * `java.nio`. Any other path gets exactly the manager Spark would pick
  * without this one.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).isInstanceOf[LocalFileSystem]) {
      // not cached: a cached `file:` FileSystem would win over this class
      val conf = new Configuration(hadoopConf)
      conf.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[LocalFileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      // with no manager configured, Spark picks its default
      val conf = new Configuration(hadoopConf)
      conf.unset(ManagerClassKey)
      CheckpointFileManager.create(path, conf)
    }

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

  /** The manager this one forwards to (for tests). */
  private[graft] def underlying: CheckpointFileManager = delegate
}

object LocalCheckpointFileManager {

  /** Spark's session setting that names the checkpoint file manager. */
  val ManagerClassKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Make this manager the session's checkpoint file manager unless one
    * is already set. The setting stays on the session: Spark builds the
    * file source's log in the stream thread, after `start()` returns.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ManagerClassKey).isEmpty)
      spark.conf.set(ManagerClassKey, classOf[LocalCheckpointFileManager].getName)
}

/** Checksummed local FileSystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets permissions through `java.nio` instead
  * of running `chmod`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // PosixFilePermission lists owner/group/others rwx from the high bit down
    val bits = permission.toShort
    val perms = PosixFilePermission.values.zipWithIndex.collect {
      case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }
}
