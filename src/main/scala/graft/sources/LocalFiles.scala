package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem without a
  * child process per file (bound in [[graft.Sessions.LocalFs]]).
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates and `readlink` for every link
  * status it is asked for (checkpoint-log renames ask for them). This
  * raw filesystem answers both in-process:
  *   - `setPermission` with plain rwx bits is
  *     `Files.setPosixFilePermissions`, the same chmod(2) call
  *     (one stat first: see `setIdDirectory`);
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what Hadoop returns for it.
  * Everything else goes to Hadoop unchanged: a sticky bit, a
  * directory with a setuid or setgid bit, a default filesystem
  * without unix attributes, real symlinks, and every other call.
  * Checksums (`.crc`) stay: the `FileSystem` is a
  * [[LocalFileSystem]] over this raw one, and the FileContext binding
  * (streaming checkpoints) is the same `ChecksumFs` over
  * `DelegateToFileSystem` pair as Hadoop's `LocalFs`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if ((permission.toShort & ~0x1ff) != 0 /* beyond rwx: sticky */ ||
        !ForkFreeRawLocalFileSystem.unix ||
        ForkFreeRawLocalFileSystem.setIdDirectory(file))
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file,
        PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private lazy val unix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** A directory with its setuid or setgid bit set: `chmod` with a
    * 4-digit octal mode keeps those bits on a directory, chmod(2)
    * clears them, so such a directory goes to Hadoop's `chmod`. */
  private def setIdDirectory(file: NioPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 /* S_IFDIR */ && (mode & 0xc00) != 0 /* S_ISUID | S_ISGID */
  }
}

/** `fs.file.impl`: checksummed local filesystem over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` half of the FileContext binding: Hadoop's
  * `RawLocalFs` (package-private) over the fork-free raw filesystem. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over the
  * fork-free raw filesystem. Like `LocalFs`, the URI is always `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))
