package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, minus the `chmod` process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * starts one `chmod` process for every file or directory created with
  * a mode: each checkpoint file of every micro-batch, its `.crc` side
  * file, every parquet part. This sets the same mode bits with
  * `Files.setPosixFilePermissions`; a sticky bit, which that call cannot
  * express, still goes through `super`. Installed as `fs.file.impl` by
  * [[Tables.sessionConfs]]: every Spark checkpoint graft makes is a
  * temporary local one, so no other scheme needs it.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
