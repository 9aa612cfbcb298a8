package graft

import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

// Local commits without a forked process. Without the native libhadoop,
// Hadoop's local filesystem shells out: every `FileContext` rename forks
// `readlink` for source and destination (data file and `.crc`), and every
// file or directory create forks `chmod`. A stream pays that on each
// offset/commit-log write and each state-store delta and checksum file;
// the admission `_COMMIT`, index publish and upsert manifests pay the
// `chmod`. Engine.session installs both classes below as fixed settings;
// neither is an option.

/** Checkpoint manager router (`spark.sql.streaming.checkpointFileManagerClass`).
  * A `file:` location goes to Spark's `FileSystemBasedCheckpointFileManager`,
  * whose rename is `File.renameTo` — atomic on a local filesystem, and no
  * `readlink`. Every other scheme gets what `CheckpointFileManager.create`
  * picks without this setting (`FileContext` first, then the fallback), so
  * HDFS rename semantics do not change. Spark's checksum manager wraps
  * whatever this returns, so state-store files take the same path. */
class LocalCommitFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    LocalCommitFileManager.route(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCommitFileManager {
  private val key = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  private[graft] def route(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val stock = new Configuration(hadoopConf)
      stock.unset(key)
      CheckpointFileManager.create(path, stock)
    }
  }
}

/** The `file:` filesystem (`fs.file.impl`): Hadoop's `LocalFileSystem`
  * whose raw layer sets plain rwx modes in the JVM. Hadoop's FileSystem
  * cache is keyed without the conf, so this class must be configured
  * before the first `file:` filesystem of the JVM exists — which
  * [[Engine.session]] does by setting it on the context's own conf. */
class LocalCommitFileSystem extends LocalFileSystem(new LocalCommitFileSystem.Raw)

object LocalCommitFileSystem {
  /** A mode of plain rwx bits as NIO permissions (the enum runs from
    * owner-read, bit 8, to others-execute, bit 0); `None` when it carries
    * a sticky, setuid or setgid bit, which NIO cannot set. */
  private[graft] def plainBits(mode: Int): Option[java.util.Set[PosixFilePermission]] =
    if ((mode & ~0x1ff) != 0) None
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { p =>
        if (((mode >> (8 - p.ordinal)) & 1) == 1) set.add(p)
      }
      Some(set)
    }

  /** `RawLocalFileSystem` with only `setPermission` overridden. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      plainBits(permission.toShort.toInt) match {
        case Some(perms) =>
          try Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
          catch {
            case e: NoSuchFileException =>
              throw new java.io.FileNotFoundException(e.getMessage)
          }
        case None => super.setPermission(p, permission)
      }
  }
}
