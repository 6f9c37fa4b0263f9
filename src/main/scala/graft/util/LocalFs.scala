package graft.util

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its forked shells. Without the
  * libhadoop native library, the stock class forks `chmod` for every
  * file or directory it creates with a permission (every checkpoint WAL
  * entry, state-store upload, sink part file and `.crc`), and forks
  * `readlink` on every `getFileLinkStatus` (about four per
  * `FileContext.rename`, which is how Spark commits checkpoint files).
  * A fork costs ~3 ms in a JVM with a GB-scale heap; the same call
  * through java.nio costs microseconds.
  *
  * Both overrides give the stock answer. `setPermission` falls back to
  * the stock `chmod` for a sticky bit, a directory carrying setuid or
  * setgid (GNU `chmod` keeps those on directories, `chmod(2)` clears
  * them), a symlink, a non-POSIX filesystem and any error, so failures
  * keep their stock exceptions. `getFileLinkStatus` checks the same path
  * string Hadoop's `FileUtil.readLink` hands to `readlink`, and only a
  * real or dangling symlink there takes the stock path.
  *
  * Bound to `file:` by [[Tuning.sqlDefaults]]: [[ForkFreeLocalFileSystem]]
  * for `FileSystem`, [[ForkFreeLocalFs]] for `FileContext` (Spark's
  * checkpoint file manager).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !setWithNio(pathToFile(p).toPath, permission))
      super.setPermission(p, permission)

  /** `chmod(2)` through java.nio; false, leaving the call to the stock
    * `chmod`, wherever that would act differently or nio cannot act.
    */
  private def setWithNio(file: java.nio.file.Path, permission: FsPermission): Boolean =
    try {
      val mode = Files.getAttribute(file, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int]
      val isLink = (mode & 0xf000) == 0xa000 // S_IFLNK
      val isDirWithSetId = (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
      !isLink && !isDirWithSetId && {
        // no sticky bit, so the symbolic form is the nine rwx characters
        Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
        true
      }
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException | _: IOException => false
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed local FileSystem over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with the fork-free raw FileSystem underneath. Like
  * `LocalFs` it ignores `uri`, which is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]], with its four overrides. */
class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
    conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
