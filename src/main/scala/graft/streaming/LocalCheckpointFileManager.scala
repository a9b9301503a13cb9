package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint file manager that writes local checkpoints without
  * starting a process per file (`spark.sql.streaming.checkpointFileManagerClass`,
  * set by `Sessions.streamingConf`).
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, goes through
  * Hadoop's `ChecksumFs` over `RawLocalFileSystem` on `file:` paths. Without
  * Hadoop's native library that starts `chmod` for every file and every
  * `.crc` sidecar it creates, and its rename starts `readlink` for each
  * `getFileLinkStatus` (about 6 per rename). Every offset-log entry, commit-log
  * entry and RocksDB state changelog is such a file, so a micro-batch paid
  * about 8 process starts per checkpoint file, several ms each.
  *
  * The scheme picks the implementation:
  *  - a path whose `FileSystem` is a `LocalFileSystem` gets Spark's
  *    `FileSystemBasedCheckpointFileManager` over a checksummed
  *    `LocalFileSystem` whose raw file system sets permissions through
  *    `java.nio.file.Files.setPosixFilePermissions` instead of `chmod`
  *    (the sticky bit, which NIO cannot set, still goes to Hadoop).
  *    `FileSystem.rename` is `File.renameTo` behind `exists` checks, so
  *    nothing asks for a link status and no `readlink` starts;
  *  - every other file system (HDFS, S3, ...) gets Spark's default
  *    `FileContextBasedCheckpointFileManager`, unchanged.
  *
  * What the local path keeps:
  *  - temp file + rename, so a reader never sees a half-written file, and
  *    `cancel` deletes the temp file;
  *  - `.crc` sidecars, written on create and verified on read, in the
  *    format `ChecksumFs` writes, so a checkpoint restarts under either
  *    manager;
  *  - permission bits: the same `FsPermission` with the configured umask
  *    applied, only set in-process;
  *  - `overwriteIfPossible = false` on an existing file throws Hadoop's
  *    `FileAlreadyExistsException` (Spark's `SparkFileAlreadyExistsException`)
  *    from an existence check before the rename. The default manager on
  *    `file:` makes the same check: `ChecksumFs.renameInternal` calls the raw
  *    `AbstractFileSystem.rename`, whose `renameInternal(src, dst, overwrite)`
  *    throws `FileAlreadyExistsException` when `getFileLinkStatus(dst)`
  *    finds the file, and only then reaches `File.renameTo`. Neither check
  *    is atomic with the rename; both rely on one writer per checkpoint.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val files: CheckpointFileManager = path.getFileSystem(conf) match {
    case local: LocalFileSystem =>
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override protected val fs: FileSystem = nioPermissionsFs(local.getUri, conf)
      }
    case _ => new FileContextBasedCheckpointFileManager(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
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

object LocalCheckpointFileManager {

  /** Hadoop's raw local file system with `setPermission` done in-process. */
  private final class NioPermissionsRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** The nine rwx bits of a mode as NIO permissions (`PosixFilePermission`
    * lists them in mode order, owner read = 0400 first).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** A checksummed `LocalFileSystem` over [[NioPermissionsRawFs]], set up as
    * `FileSystem.get` sets up the cached one (conf first, then initialize).
    */
  private[graft] def nioPermissionsFs(uri: URI, conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem(new NioPermissionsRawFs)
    fs.setConf(conf)
    fs.initialize(uri, conf)
    fs
  }
}
