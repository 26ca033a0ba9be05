package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with a fork-free
  * `setPermission`. Without libhadoop, `RawLocalFileSystem` runs a
  * `chmod` process for every file, checksum file and directory a parquet
  * write creates (~9 ms each in a large JVM); here the same mode is one
  * `Files.setPosixFilePermissions` call.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Writer options that resolve `file:` to [[LocalFs]] for ONE write:
    * Spark copies writer options into that write's Hadoop conf, so the
    * writer, its committer and its tasks get an uncached [[LocalFs]],
    * while the session conf and the JVM-wide FileSystem cache keep
    * Hadoop's own local file system.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      // no PosixFilePermission carries the sticky bit: Hadoop sets it
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath,
            PosixFilePermissions.fromString(rwx))
          ()
        } catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
  }
}
