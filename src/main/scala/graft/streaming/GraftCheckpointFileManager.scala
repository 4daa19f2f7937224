package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint writes (offset log, commit log, state-store
  * deltas) that start no subprocess on local paths.
  *
  * Without the native libhadoop, Hadoop's `RawLocalFileSystem` runs
  * `chmod` in a child process for every file it creates (twice per
  * checkpoint file: the file and its `.crc`), and Spark's default
  * FileContext-based manager adds ~8 `readlink` forks per rename.
  * Each micro-batch writes two such files, so the forks, not the
  * bytes, set its commit cost: on a 4-vCPU host a traced relay query's
  * `walCommit` p50 was 45 ms with them and 2 ms without.
  *
  * For a path whose resolved scheme is `file`, this manager is
  * Spark's [[FileSystemBasedCheckpointFileManager]] over a
  * [[NioLocalFileSystem]]: the same checksummed local file system
  * (same files, `.crc` sidecars, modes and atomic rename(2)), except
  * that modes are set through `java.nio`. Old checkpoints resume and
  * a plain session reads what this one writes. Every other scheme
  * (and a user's own `fs.file.impl`) gets exactly what
  * `CheckpointFileManager.create` picks without this class.
  *
  * Registered by [[graft.GraftSession.builder]] under [[ConfKey]].
  */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager that does the work (public so tests can see which). */
  val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    val fileImpl = hadoopConf.get("fs.file.impl")
    val conf = new Configuration(hadoopConf)
    if ("file".equalsIgnoreCase(scheme) &&
        (fileImpl == null || fileImpl == classOf[LocalFileSystem].getName)) {
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      // FileSystem.get caches per scheme and ignores the conf of later
      // calls: without this a LocalFileSystem cached earlier in the
      // JVM would come back, forks and all
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new GraftCheckpointFileManager.Local(path, conf)
    } else {
      conf.unset(GraftCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  /** The fork-free local file system in use; None when the path went
    * to Spark's own pick.
    */
  def localFileSystem: Option[FileSystem] = delegate match {
    case l: GraftCheckpointFileManager.Local => Some(l.fileSystem)
    case _ => None
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object GraftCheckpointFileManager {
  /** Spark's (internal) SQL conf naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    def fileSystem: FileSystem = fs
  }
}

/** Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets permission bits with
  * `Files.setPosixFilePermissions` instead of a forked `chmod`. Bits
  * NIO cannot express (sticky, setuid, setgid) and file systems
  * without POSIX attributes still go through Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE in
      // mode-bit order, 0400 first
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }
}
