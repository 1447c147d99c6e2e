package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint and state-store file manager of every stream replay
  * ([[StreamOps.replay]] names it in `spark.sql.streaming
  * .checkpointFileManagerClass`): Spark's `FileSystemBasedCheckpointFileManager`
  * over one JVM-wide [[LocalFileSystem]] whose raw layer sets
  * permissions through `java.nio` instead of a forked `chmod`.
  *
  * Without native libhadoop the stock local file system forks a process
  * for every permission change, and every create, mkdir and checksum
  * sidecar makes one; Spark's default manager (`FileContext`-based) adds
  * link and permission lookups that fork too. A warm q72 replay at the
  * benchmark's input size started about 597 processes under the
  * default manager and 26–31 under this one (PERF.md "Stream replays
  * without per-replay fixed costs"). The files written are the same:
  * the data file, its `.crc` sidecar, the same mode bits, and the
  * rename-based publish.
  *
  * Only `file:` paths are accepted; replays checkpoint under local
  * scratch or temp dirs. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  require(LocalCheckpointFileManager.isLocal(path, hadoopConf),
    s"LocalCheckpointFileManager handles file: paths only, not $path")

  override protected val fs: FileSystem = LocalCheckpointFileManager.fs
}

object LocalCheckpointFileManager {
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The JVM-wide checksummed local file system of every manager. */
  private[graft] lazy val fs: FileSystem = {
    val local = new LocalFileSystem(new NioPermissionLocalFileSystem)
    local.initialize(URI.create("file:///"), new Configuration())
    local
  }
}

/** [[RawLocalFileSystem]] whose `setPermission` calls
  * `Files.setPosixFilePermissions`; a permission with bits outside 0777
  * (sticky, setuid, setgid) goes to the stock, forking path. */
private[graft] class NioPermissionLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val rwx = (0 until 9).map(i => if ((mode & (1 << (8 - i))) != 0) "rwx"(i % 3) else '-')
      Files.setPosixFilePermissions(Paths.get(pathToFile(p).toURI),
        PosixFilePermissions.fromString(rwx.mkString))
    }
  }
}
