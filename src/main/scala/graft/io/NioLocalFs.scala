package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two shell-forking primitives
  * done through java.nio. Without `libhadoop`, stock `setPermission` runs
  * `chmod` after every create and mkdir, and `getFileLinkStatus` runs
  * `readlink` (twice per `FileContext.rename`); each fork costs tens of
  * milliseconds, and a streaming micro-batch commits several small files.
  * Both overrides fall back to the stock code wherever nio could answer
  * differently, so every result, and every error, is the stock one. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** One `chmod` syscall, as stock's `chmod` process makes. A sticky bit
    * (which nio cannot set), a file system without POSIX attributes, and
    * any failure (a missing file, a dangling link, no permission) take
    * the stock path, so it raises its own error. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declared OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(perm)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    } catch {
      case _: IOException | _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
  }

  /** Stock asks `readlink` about `new File(f.toString)` and, when that
    * is no symlink, returns `getFileStatus(f)`. For a qualified `file:`
    * path that names no file at all, so stock forks to learn nothing. A
    * symlink there takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` binding that
  * streaming checkpoints use: stock `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) with [[NioRawLocalFileSystem]] underneath. The anonymous
  * delegate repeats `RawLocalFs`'s overrides, whose constructors are not
  * public. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      @deprecated("as AbstractFileSystem.getServerDefaults()", "")
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
