package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.io.NioLocalFileSystem

/** [[NioLocalFileSystem]] leaves the same files behind as Hadoop's stock
  * `LocalFileSystem`: same permission bits, same `.crc` sidecars. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fileSystem(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def octal(mode: String): FsPermission =
    new FsPermission(Integer.parseInt(mode, 8).toShort)

  private def perms(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** mkdirs + create through `fs` under a fresh dir; each created path
    * (relative) with its permission string and the bytes read back. */
  private def layout(fs: FileSystem): (Seq[(String, String)], Seq[Byte]) = {
    val root = SparkTestBase.tempDir("graft-nio-fs")
    try {
      val base = new Path(root.toUri)
      assert(fs.mkdirs(new Path(base, "d/e")))
      val out = fs.create(new Path(base, "d/e/f.bin"))
      try out.write("payload".getBytes("UTF-8")) finally out.close()
      val in = fs.open(new Path(base, "d/e/f.bin"))
      val back = try in.readAllBytes().toSeq finally in.close()
      (Seq("d", "d/e", "d/e/f.bin", "d/e/.f.bin.crc")
        .map(rel => rel -> perms(root.resolve(rel))), back)
    } finally NioLocalFileSystem.deleteRecursively(root)
  }

  test("mkdirs, create and the .crc sidecar get the stock LocalFileSystem's " +
      "permissions under umask 022 and 027") {
    for ((umask, dir, file) <- Seq(("022", "rwxr-xr-x", "rw-r--r--"),
        ("027", "rwxr-x---", "rw-r-----"))) {
      val stock = layout(fileSystem(new LocalFileSystem, umask))
      val nio = layout(fileSystem(new NioLocalFileSystem, umask))
      assert(nio == stock, umask)
      assert(stock._1 == Seq("d" -> dir, "d/e" -> dir, "d/e/f.bin" -> file,
        "d/e/.f.bin.crc" -> file), umask)
      assert(nio._2 == "payload".getBytes("UTF-8").toSeq)
    }
  }

  test("setPermission: the sticky bit and a set-group-ID directory take " +
      "Hadoop's path, FsCreateModes sets its masked bits") {
    val root = SparkTestBase.tempDir("graft-nio-sticky")
    def mode(p: NioPath): Int =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    try {
      val fs = fileSystem(new NioLocalFileSystem, "022")
      val p = new Path(root.toUri)
      fs.setPermission(p, octal("1750"))
      // a POSIX permission set has no sticky bit, so only Hadoop's own
      // chmod can have set it
      assert(mode(root) == Integer.parseInt("1750", 8), mode(root).toOctalString)
      fs.setPermission(p, FsCreateModes.create(octal("750"), octal("777")))
      assert(perms(root) == "rwxr-x---")

      // new dirs inherit a set-group-ID parent's bit, and Hadoop's
      // chmod keeps it; both file systems leave the same modes
      val shared = root.resolve("shared")
      Files.createDirectory(shared)
      Files.setAttribute(shared, "unix:mode", Integer.parseInt("2775", 8))
      for ((name, impl) <- Seq("stock" -> new LocalFileSystem,
          "nio" -> new NioLocalFileSystem)) {
        val made = fileSystem(impl, "022")
        assert(made.mkdirs(new Path(shared.toUri.resolve(s"$name/d"))))
        val out = made.create(new Path(shared.toUri.resolve(s"$name/d/f")))
        out.close()
      }
      val modes = Seq("stock", "nio").map { n =>
        Seq(s"$n", s"$n/d", s"$n/d/f").map(r => mode(shared.resolve(r)).toOctalString)
      }
      assert(modes.head == Seq("2755", "2755", "644"), modes)
      assert(modes.last == modes.head, modes)
    } finally NioLocalFileSystem.deleteRecursively(root)
  }

  test("rename replaces an existing target and moves its .crc sidecar") {
    // FileSystemBasedCheckpointFileManager renames with overwriteIfPossible
    // and relies on rename(2) replacing the target
    val fs = fileSystem(new NioLocalFileSystem, "022")
    val root = SparkTestBase.tempDir("graft-nio-rename")
    try {
      val base = new Path(root.toUri)
      for ((name, body) <- Seq("src" -> "new", "dst" -> "old")) {
        val out = fs.create(new Path(base, name))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      assert(fs.rename(new Path(base, "src"), new Path(base, "dst")))
      val in = fs.open(new Path(base, "dst")) // verified against the sidecar
      try assert(new String(in.readAllBytes(), "UTF-8") == "new")
      finally in.close()
      assert(Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .toSet == Set("dst", ".dst.crc"))
    } finally NioLocalFileSystem.deleteRecursively(root)
  }
}
