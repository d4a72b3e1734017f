package graft.perfbench

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's local file system with `setPermission` made by one chmod system
  * call through java.nio, which is what Hadoop itself does when its native
  * library is loaded. Without that library `RawLocalFileSystem` spawns a
  * `chmod` process for every file and directory it creates: about a hundred
  * per copy of the catalog, so a run would time process creation on the
  * host rather than the program. The benchmark's session installs it
  * as `fs.file.impl`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL)
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx.mkString))
  }
}

/** [[NioRawLocalFileSystem]] behind Hadoop's checksum layer, as
  * `LocalFileSystem` wraps the raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
