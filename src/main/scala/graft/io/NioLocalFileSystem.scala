package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]:
  * the same `file:` file system, `.crc` sidecars written and verified,
  * except that setting a permission does not fork a process.
  *
  * Without libhadoop, the stock raw layer sets the permission of every file
  * it creates and every directory it makes by forking `chmod`, 2.4–2.7 ms
  * each (OPTIMIZATION_r24.md). `StreamingOps.withStreamConf` installs this
  * class for its streams through [[NioLocalFileSystem.sessionConf]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets the owner/group/other bits of a path with
  * `Files.setPosixFilePermissions`, in-process. Two cases take Hadoop's own
  * path, because a POSIX permission set cannot express them: a permission
  * with the sticky bit, and a directory that carries its set-user-ID or
  * set-group-ID bit (e.g. inherited from a set-group-ID parent), which
  * Hadoop's `chmod 0755` keeps and `chmod(2)` would clear. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (permission.getStickyBit || isSetIdDirectory(f))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f,
      // a plain FsPermission of the same bits: a subclass such as
      // FsCreateModes prints more than the nine rwx characters
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
  }

  private def isSetIdDirectory(f: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    // S_IFMT == S_IFDIR, and S_ISUID | S_ISGID (octal 06000)
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0
  }
}

object NioLocalFileSystem {

  /** Session keys that route `file:` paths through [[NioLocalFileSystem]].
    * The FS cache is off for the scheme because the JVM-wide cache already
    * holds a stock `file:` instance, which `FileSystem.get` would return
    * instead. Both keys affect `file:` paths only. */
  val sessionConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Deletes `root` and everything under it through NIO, without Spark's
    * `JavaUtils.deleteRecursively`, which forks `rm`. Symbolic links are
    * removed, never followed. Best effort: a path that cannot be deleted is
    * left in place. */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => })
    } catch { case _: java.io.IOException => }
}
