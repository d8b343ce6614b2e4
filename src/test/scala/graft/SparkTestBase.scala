package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (Test / fork := true). */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Graft.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The run's one parent of spec temp directories, removed at JVM exit
    * (the rule the contract's `Shared.scratch` parent follows), so a
    * `testOnly *` run leaves nothing in `java.io.tmpdir`. */
  private lazy val tempParent: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-spec")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.io.NioLocalFileSystem.deleteRecursively(p)))
    p
  }

  /** A new empty directory named `prefix`… under the run's parent. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tempParent, prefix)

  /** Run `f` on a sibling session of the shared SparkContext built WITH
    * `GraftExtensions` (SQL functions and optimizer rules registered), then
    * make the shared session active and default again. */
  def withExtensions[T](f: SparkSession => T): T = {
    session // the sibling shares the shared session's SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Graft.builder(4).appName("graft-ext-test")
      .withExtensions(new GraftExtensions).getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(session)
      SparkSession.setActiveSession(session)
    }
  }
}
