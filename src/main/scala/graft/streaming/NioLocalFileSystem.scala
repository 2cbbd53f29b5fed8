package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with a fork-free chmod. Without
  * libhadoop, the stock `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and every file it creates (a part file and its
  * `.crc`) and every directory it makes calls it: about 60 forks, at
  * about 2.7 ms each in a 3 GB JVM, per CDC micro-batch (SCALE.md §54).
  * This one sets the same nine rwx bits with
  * `java.nio.file.Files.setPosixFilePermissions` (about 0.02 ms). A
  * permission carrying a bit NIO cannot express (sticky), or a
  * filesystem without POSIX attributes, takes the stock call.
  *
  * Scoped, never global: [[NioLocalFileSystem.Conf]] routes `file:` to
  * this class on one Hadoop conf or one `DataFrameWriter` only, with the
  * FileSystem cache off for `file:` there, so the cached stock instance
  * every other reader and writer shares is never replaced. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The Hadoop conf keys (also `DataFrameWriter` options) that route
    * the `file:` scheme through this class. Other schemes are untouched. */
  val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The NIO permission set for `p`, or None when `p` has a bit above
    * the nine rwx bits (sticky), which only the stock call can set. */
  def posix(p: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = p.toShort.toInt
    if ((mode & ~0x1ff) != 0) None
    else Some(PosixFilePermissions.fromString((0 until 9).map(i =>
      if ((mode >> (8 - i) & 1) != 0) "rwx"(i % 3) else '-').mkString))
  }

  /** The raw filesystem under [[NioLocalFileSystem]]: its file and
    * directory creation call this `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posix(permission) match {
        case Some(s) =>
          try Files.setPosixFilePermissions(pathToFile(p).toPath, s)
          catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
        case None => super.setPermission(p, permission)
      }
  }
}
