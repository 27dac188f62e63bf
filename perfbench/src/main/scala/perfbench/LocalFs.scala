package perfbench

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{Files => JF}
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's local file system, except that it sets permissions with a
  * system call (`java.nio`), as Hadoop does when its native library is
  * loaded. Without that library Hadoop starts a `chmod` process for every
  * file and directory it creates (about 200 per `vector_maintain` pass),
  * which times the operating system's process start-up, not the engine.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val all = PosixFilePermission.values // owner rwx, group rwx, others rwx
    val set = new java.util.HashSet[PosixFilePermission]()
    for (i <- 0 until 9 if ((bits >> (8 - i)) & 1) == 1) set.add(all(i))
    JF.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}

/** The checksummed `file:` file system over [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
