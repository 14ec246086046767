package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The raw `file:` filesystem without a process per permission change
  * or link-status lookup.
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod`
  * once per created file or directory: a league-partitioned parquet
  * write (partition dirs, part files, `.crc` files, `_temporary` and
  * attempt dirs, `_SUCCESS`) started ~260 `chmod` processes per daily
  * pipeline run, and task time waited on them. This override sets the
  * same rwx bits through NIO, in-process. Modes NIO cannot express
  * (anything above 0777, i.e. the sticky bit) keep the stock path.
  *
  * `getFileLinkStatus` forks `readlink` on every call, even for a plain
  * file; Structured Streaming's checkpoint manager calls it around each
  * atomic rename (24 forks per micro-batch). Only a path that is a
  * symlink needs the stock code: for any other path the stock result is
  * its file status, so that is returned without the fork.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // declaration order is OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }

  // the stock code reads the link at the path's string form, so does this
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (same `.crc`
  * files) over [[NoForkRawLocalFileSystem]].
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext twin, which
  * Structured Streaming's checkpoint manager uses. Mirrors Hadoop's
  * `RawLocalFs` over the no-fork raw filesystem.
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Mirrors Hadoop's `LocalFs`: checksums over [[NoForkRawLocalFs]]. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
