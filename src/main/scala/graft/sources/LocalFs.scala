package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a process per file.
  *
  * Without libhadoop (Spark's distribution ships none), Hadoop's
  * `RawLocalFileSystem` runs `/bin/chmod` for every file and directory it
  * creates (a parquet file, its `.crc`, each partition directory) and
  * `readlink` for every `getFileLinkStatus`, which a FileContext rename
  * calls. Here a plain mode is set through `java.nio`, and a path that is
  * not a symbolic link returns its `getFileStatus`, which is what Hadoop
  * returns when `readlink` prints nothing. A mode with the sticky, setuid
  * or setgid bit, and every real symbolic link, still go to Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner read first: bit 8 of the mode
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex if (mode & (1 << (8 - i))) != 0)
        perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `file:` for FileSystem users (every sink and dump): Hadoop's checksummed
  * local file system, `.crc` files and checks unchanged, over the raw one
  * above. It keeps the rename rule of the class Spark's jars register for
  * `file:` (Hive's `ProxyLocalFileSystem`): a rename onto an existing file
  * returns false, as on HDFS, where the raw one would replace the file.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `file:` for FileContext users (streaming checkpoints, the RocksDB state
  * store): Hadoop's `LocalFs`, a `ChecksumFs` over a `RawLocalFs`, with the
  * raw file system above under the delegate.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
      // RawLocalFs's overrides
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
