package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem, bound for every graft JVM by
  * `core-site.xml` (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`):
  * Hadoop's local filesystem without a process per file. Without the
  * Hadoop native library, the stock one forks a `chmod` for every created
  * file, checksum file and directory, and two `readlink`s per path of a
  * FileContext rename (the stream checkpoint's metadata logs): 1130 process
  * starts in a 12 s perfbench `ship` run. Results are the same as stock:
  * `LocalFsSpec` compares modes, listings, link statuses and renames.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** java.nio chmod; a sticky-bit mode (not expressible through java.nio)
    * still takes the forking path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** The stock method runs `readlink` on `f.toString`; when that string
    * names no symlink (always so for a qualified `file:/…` path, which
    * java.io reads as a relative name) its answer is the plain status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The FileContext side (`AbstractFileSystem`, used by the stream
  * checkpoint's metadata logs): Hadoop's `LocalFs`/`RawLocalFs` pair over
  * [[NioRawLocalFileSystem]]. Hadoop instantiates it through the
  * (URI, Configuration) constructor; like `LocalFs` it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
