package graft.lake

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system with one difference: a mode is
  * set by a chmod system call (`java.nio`'s `unix:mode` attribute), not by
  * the forked `chmod` process `RawLocalFileSystem` falls back to when
  * libhadoop is not loaded — about 3.5 ms for every new directory, file and
  * `.crc` side file. The mode is the same 12 bits `chmod %04o` sets.
  * [[Lake.writeTables]] selects it for its writes. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessLocalFileSystem.Raw)

object ForklessLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & 0xfff))
  }

  /** Whether this platform's file system can set a unix mode. */
  lazy val usable: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
