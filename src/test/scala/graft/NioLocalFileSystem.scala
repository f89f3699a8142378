package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem for the test session: Hadoop's local filesystem
  * with `setPermission` done in-process through java.nio instead of a
  * forked `chmod`. Without the Hadoop native library, RawLocalFileSystem
  * forks one `chmod` per created file, checksum file and directory —
  * thousands of process launches per suite run, each on a write task's
  * critical path. The resulting modes are the same; a sticky-bit mode
  * (not expressible through java.nio) still takes the forking path.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
