package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def pairs(es: (Long, Long)*) = es.toDF("id_a", "id_b")

  test("regular graphs are a fixed point of the integer recurrence") {
    // single edge (1-regular) and triangle (2-regular): every node keeps
    // exactly base units at every iteration — 150000 + d*((base*85) DIV
    // (100*d)) = base when d divides the contribution cleanly
    val out = Graph.integerPageRank(
        pairs(1L -> 2L, 10L -> 11L, 11L -> 12L, 10L -> 12L))
      .select("id", "units").as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1000000L))
    assert(out.keySet == Set(1L, 2L, 10L, 11L, 12L))
  }

  test("star graph: the hub accumulates rank, leaves lose it") {
    // hub 0 with 3 leaves, three iterations:
    //   1: hub  = 150000 + 3·((1000000·85) DIV 100)       = 2700000
    //      leaf = 150000 + (1000000·85) DIV (100·3)        = 433333
    //   2: hub  = 150000 + 3·((433333·85) DIV 100)         = 1254999
    //      leaf = 150000 + (2700000·85) DIV (100·3)        = 915000
    //   3: hub  = 150000 + 3·((915000·85) DIV 100)         = 2483250
    //      leaf = 150000 + (1254999·85) DIV (100·3)        = 505583
    val out = Graph.integerPageRank(pairs(0L -> 1L, 0L -> 2L, 0L -> 3L))
      .select("id", "d", "units").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ((3L, 2483250L)))
    assert(out(1L) == ((1L, 505583L)))
    assert(out(2L) == ((1L, 505583L)))
    assert(out(3L) == ((1L, 505583L)))
  }

  test("triangleCounts: K4 corners in 3 each; cycles and chains in none") {
    // K4 (every node in C(3,2)=3 triangles), a 4-cycle (10-13), a chain
    // (20-22), plus duplicate/reversed edges that must canonicalize away
    val es = pairs(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), // reversed duplicates
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),
      (20L, 21L), (21L, 22L))
    val got = Graph.triangleCounts(es)
      .select("id", "triangles").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("iterations are deterministic under repartitioning") {
    val es = (1L to 30L).map(i => (i, (i * 7) % 31 + 31))
    val a = Graph.integerPageRank(pairs(es: _*))
      .select("id", "units").as[(Long, Long)].collect().toSet
    val b = Graph.integerPageRank(pairs(es: _*).repartition(7))
      .select("id", "units").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("kCorePeel: pendant chain peels away, triangle core survives") {
    import spark.implicits._
    // triangle 1-2-3 (2-core) with a pendant path 3-4-5: one peel drops
    // 5 (deg 1), the next drops 4; the triangle's degrees never dip
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val got = Graph.kCorePeel(es).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }
}
