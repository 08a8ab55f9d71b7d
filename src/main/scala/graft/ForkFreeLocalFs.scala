package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` [[org.apache.hadoop.fs.AbstractFileSystem]] of a graft
  * session (`fs.AbstractFileSystem.file.impl`, set by
  * [[GraftSession.configure]]): Hadoop's own `LocalFs` layering — a
  * `ChecksumFs` (`.crc` sidecars) over a raw local filesystem — with the
  * raw layer swapped for [[ForkFreeRawLocalFileSystem]].
  *
  * Spark writes its streaming checkpoints (offset and commit logs,
  * RocksDB changelogs and snapshot metadata) through `FileContext`, whose
  * local filesystem without Hadoop's native library forks a `chmod` for
  * every file it creates and a `readlink` for every status lookup a rename
  * makes (four per checkpoint file). Each fork costs the JVM a process
  * start on the micro-batch's blocking commit path. The atomic
  * `FileContext` rename and the checksum files are unchanged. Writes
  * through Hadoop's `FileSystem` API (RocksDB's snapshot SST uploads) do
  * not pass through here.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over a
  * [[ForkFreeRawLocalFileSystem]]: the same default port, server defaults
  * and name validation.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  // as RawLocalFs: the OS, not Hadoop's HDFS rules, decides what is a name
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` with its two forking calls done in the JVM:
  *
  *  - `setPermission` of plain rwx bits goes through
  *    `Files.setPosixFilePermissions` (Hadoop shells out to `chmod`); any
  *    other bit (the sticky bit) still takes Hadoop's path;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus` (Hadoop first shells out to `readlink` to tell);
  *    a symbolic link still takes Hadoop's path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
