package graft.streaming

import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing
  .FileSystemBasedCheckpointFileManager

/** Streaming checkpoint and state-store file manager that never forks a
  * process on a local file system.
  *
  * Without the native `libhadoop`, Hadoop's local file system applies the
  * mode of every file and directory it creates by running `chmod`, and
  * `FileContext.rename` (Spark's default manager) resolves links by running
  * `readlink`: hundreds of short-lived processes per streaming query. This
  * manager is Spark's own FileSystem-API fallback over a checksummed local
  * file system whose `setPermission` sets the same bits in-process, so the
  * checkpoint holds the same files (Hadoop's `.crc` siblings included)
  * with the same modes. Non-local checkpoint paths keep their own file
  * system unchanged.
  *
  * Spark instantiates it reflectively from
  * `spark.sql.streaming.checkpointFileManagerClass`; see
  * [[EventStream.withStatePartitions]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  override protected val fs: FileSystem =
    path.getFileSystem(hadoopConf) match {
      case stock: LocalFileSystem =>
        val local = new LocalFileSystem(new NioPermissionsFileSystem)
        local.initialize(stock.getUri, hadoopConf)
        local
      case other => other
    }
}

/** Raw local file system that applies permission bits with
  * `Files.setPosixFilePermissions` instead of a forked `chmod`. Modes with
  * a sticky bit (which NIO cannot express) still take the stock path.
  */
class NioPermissionsFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      attribute.PosixFilePermissions.fromString(
        permission.toString.take(9)))
}
