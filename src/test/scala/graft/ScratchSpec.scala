package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The scratch rule of the write and stream queries: one directory per
  * (query tag, dataset), emptied on every build, under one per-process
  * parent `graft-fmt-<pidhex>` in `java.io.tmpdir`. */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  private val sf = "perfbench/corpus/sf0.001"
  private val queries = Seq("q42_csv_roundtrip", "q70_partitioned_write",
    "q82_idempotent_reload", "q222_watermark_late_drop")
  private val scratchTags =
    Seq("q42", "q70", "q82", "q222_src", "q222_out", "q222_ck")

  private val tmp = Paths.get(sys.props("java.io.tmpdir"))
  private val pidHex = java.lang.Long.toHexString(ProcessHandle.current().pid())
  private val parent = tmp.resolve(s"graft-fmt-$pidHex")

  private def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  /** The directory names the queries' tags own for `dataset`. */
  private def dirsOf(dataset: String): Set[String] =
    scratchTags.map(t => s"$t-${hex(md5(dataset).take(6))}").toSet

  /** Sorted-row hash of each query, built and collected over `dataset`. */
  private def run(dataset: String): Map[String, String] = {
    val byName = SparkEntry.contracts.map(c => c.name -> c.plan).toMap
    queries.map { n =>
      val rows = byName(n)(spark, dataset).collect().map(_.toString).sorted
      n -> hex(md5(rows.mkString("\n")))
    }.toMap
  }

  test("each (tag, dataset) owns one directory under the process's parent") {
    val second = SparkTestBase.tempDir("graft-scratch-corpus")
    try {
      Files.list(Paths.get(sf)).forEach(f =>
        Files.copy(f, second.resolve(f.getFileName)))
      val tmpBefore = names(tmp)
      val before = names(parent)
      val first = run(sf)
      val afterFirst = names(parent)
      assert(dirsOf(sf).subsetOf(afterFirst))
      assert((afterFirst -- before).subsetOf(dirsOf(sf)),
        "a query made a directory outside its (tag, dataset) key")
      assert(run(sf) == first, "a rebuild over emptied scratch changed rows")
      assert(names(parent) == afterFirst, "a rebuild made another directory")
      assert(run(second.toString) == first)
      assert(names(parent) -- afterFirst == dirsOf(second.toString),
        "the second dataset does not get its own directories")
      // the parent is this process's only graft-fmt-* entry in tmpdir
      val made = names(tmp) -- tmpBefore
      assert(made.filter(n => n.startsWith("graft-fmt-") &&
        n.endsWith(pidHex)).subsetOf(Set(parent.getFileName.toString)))
    } finally io.NioLocalFileSystem.deleteRecursively(second)
  }
}
