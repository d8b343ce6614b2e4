package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (Test / fork := true). */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Graft.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

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
