package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system with permission changes made through
  * `java.nio`, installed for every session by [[graft.Graft.session]]
  * (`spark.hadoop.fs.file.impl`). Without the native `libhadoop`,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for every
  * file and directory a write creates (data file, checksum file, output
  * directory); here it is one system call. The sticky bit has no NIO
  * form, and no file a write creates carries it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }
}
