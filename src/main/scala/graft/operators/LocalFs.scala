package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The local (`file:`) Hadoop FileSystem every graft store write runs
  * through ([[Layout.writer]]). Hadoop's `RawLocalFileSystem` sets the
  * mode of each file and directory it creates by forking `chmod` unless
  * libhadoop is loaded, and the Spark distribution ships no libhadoop:
  * a curate op's store writes forked 111 processes. This one sets the
  * same permission bits with `Files.setPosixFilePermissions` and starts
  * no process. It still extends `LocalFileSystem`, so `.crc` checksum
  * files are written and verified as before. Hadoop's own code runs when
  * libhadoop is loaded, or for a mode with the sticky bit (or any other
  * bit beyond the 9 permission bits), which a POSIX permission set
  * cannot carry.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || (permission.toShort & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
