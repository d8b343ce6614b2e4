package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.Overlap

/** The run harness around the queries: the one session policy, the
  * query/oracle contract, the bench's retest-reference resolution,
  * `Overlap.runAll`'s failure handling and the census of main-code
  * knobs. */
class HarnessSpec extends AnyFunSuite with TimeLimits {
  implicit val signaler: Signaler = ThreadSignaler

  test("the shared test session runs on Graft.builder's policy") {
    val s = SparkTestBase.session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("withExtensions resolves haversine_m, then restores the shared session") {
    val shared = SparkTestBase.session
    val d = SparkTestBase.withExtensions { s =>
      assert(s ne shared)
      assert(s.sparkContext eq shared.sparkContext)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      s.sql("SELECT haversine_m(0.0, 0.0, 0.0, 1.0) AS d").head().getDouble(0)
    }
    assert(math.abs(d - 111194.9) < 1.0) // one equatorial degree
    assert(SparkSession.getActiveSession.contains(shared))
    assert(SparkSession.getDefaultSession.contains(shared))
  }

  test("every contract query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, "queries without an oracle")
    assert((o -- q).isEmpty, "oracles without a query")
  }

  test("the contract is 261 records with unique names") {
    val names = SparkEntry.contracts.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, "a query name is defined twice")
    assert(names.size == 261)
  }

  test("bench reference: the newest round artifact is picked by round number") {
    val dir = Files.createTempDirectory("bench-ref").toFile
    def touch(name: String, mtime: Long): java.io.File = {
      val f = new java.io.File(dir, name)
      Files.writeString(f.toPath, "{}")
      assert(f.setLastModified(mtime))
      f
    }
    val t0 = System.currentTimeMillis() - 60000
    touch("BENCH_r22.json", t0 + 1000)
    touch("BENCH_r9.json", t0 + 2000)
    touch("BENCH_r21_c8.json", t0 + 3000) // not a round artifact
    assert(Bench.roundOf(new java.io.File("BENCH_r22.json")) == 22)
    // no snapshot: the fallback reference is r22, not the name-sorted r9
    val (ref, _) = Bench.refIn(dir)
    assert(ref.map(_.getName).contains("BENCH_r22.json"))
    // a snapshot older than both: the staleness warning names r22
    val snap = touch("bench_ref.json", t0)
    val (snapRef, newer) = Bench.refIn(dir)
    assert(snapRef.contains(snap))
    assert(newer.map(_.getName).contains("BENCH_r22.json"))
    // a snapshot refreshed after them: no warning
    assert(snap.setLastModified(t0 + 5000))
    assert(Bench.refIn(dir)._2.isEmpty)
  }

  test("Overlap.runAll returns results in submission order") {
    val firstMayFinish = new CountDownLatch(1)
    val out = Overlap.runAll(Seq(
      () => { firstMayFinish.await(10, TimeUnit.SECONDS); "a" },
      () => { firstMayFinish.countDown(); "b" }))
    assert(out == Seq("a", "b"))
  }

  test("Overlap.runAll rethrows the first failure without waiting on earlier jobs") {
    val never = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val boom = new IllegalStateException("job 1 failed")
    val thrown = failAfter(10.seconds) {
      intercept[IllegalStateException] {
        Overlap.runAll(Seq(
          () => try never.await() catch {
            case e: InterruptedException => interrupted.countDown(); throw e
          },
          () => throw boom))
      }
    }
    assert(thrown eq boom)
    // the still-running sibling was cancelled, not left behind
    assert(interrupted.await(10, TimeUnit.SECONDS))
  }

  test("knob census: main code reads no graft.* system property and no " +
      "spark.graft.* key but spark.graft.route.scratchBytes") {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, "src/main/scala not found from the working dir")
    val sysProp = ("""(?:sys\.props|getProperty|getBoolean|getInteger|getLong)""" +
      """[\w.]*\(\s*"(graft\.[\w.]+)"""").r
    val confKey = """spark\.graft\.[\w.]*\w""".r
    val knobs = files.flatMap { f =>
      val src = Files.readString(f)
      (sysProp.findAllMatchIn(src).map(_.group(1)) ++ confKey.findAllIn(src))
        .filter(_ != "spark.graft.route.scratchBytes")
        .map(k => s"${f.getFileName}: $k")
    }.distinct
    assert(knobs.isEmpty, "an experiment came back as a knob")
  }
}
