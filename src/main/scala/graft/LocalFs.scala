package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes. Without
  * `libhadoop`, `RawLocalFileSystem` starts a `chmod` for every file,
  * `.crc` and directory it creates, and a `readlink` for every
  * `getFileLinkStatus` (four per `FileContext` rename: state-store
  * commits, checkpoint checksums, offset/commit logs). Only those two
  * methods change, with Hadoop's results: `setPermission` applies the
  * low nine mode bits through `java.nio` (a sticky bit, or no POSIX
  * view, takes Hadoop's path); a path that is not a symbolic link has
  * `getFileStatus` as its link status, as in Hadoop's non-link branch
  * (a missing path still throws `FileNotFoundException`), and links,
  * dangling or not, take Hadoop's path.
  *
  * Rejected: turning off Spark's checkpoint checksums, or a raw local
  * filesystem without `.crc` files, drops integrity checks;
  * `FileSystemBasedCheckpointFileManager` changes rename atomicity and
  * still starts `chmod`; `libhadoop` is not shipped with Spark. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      (0 until 9).map(i => if ((mode >> (8 - i) & 1) == 1) "rwx"(i % 3) else '-').mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for `FileSystem`: `LocalFileSystem` (with `.crc` files). */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `file:` for `FileContext`: `LocalFs`, a `ChecksumFs` over `RawLocalFs`. */
class ForklessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
    // RawLocalFs's overrides
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
    override def getServerDefaults() = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
