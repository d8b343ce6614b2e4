package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GeoFunctions
import graft.operators.GeoJoin

class GeoJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("banded radiusJoin returns exactly the crossJoin+filter result") {
    val left = (1 to 200).map(i =>
      (i.toLong, ((i * 37) % 17000) / 100.0 - 85, ((i * 91) % 35000) / 100.0 - 175))
      .toDF("lid", "lat", "lon")
    val right = (1 to 50).map(i =>
      (i.toLong, ((i * 53) % 17000) / 100.0 - 85, ((i * 71) % 35000) / 100.0 - 175))
      .toDF("rid", "s_lat", "s_lon")
    val r = 1500000.0

    val banded = GeoJoin.radiusJoin(left, right, r, "lat", "lon", "s_lat", "s_lon")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = left.crossJoin(right)
      .withColumn("d", GeoFunctions.haversineMeters(col("lat"), col("lon"),
        col("s_lat"), col("s_lon")))
      .filter(col("d") <= r)
      .select("lid", "rid").as[(Long, Long)].collect().toSet

    assert(brute.nonEmpty)
    assert(banded == brute)
  }

  test("knnJoin equals brute-force windowed top-k, including isolated points") {
    val left = (1 to 150).map(i =>
      (i.toLong, ((i * 37) % 17000) / 100.0 - 85, ((i * 91) % 35000) / 100.0 - 175))
      .toDF("lid", "lat", "lon")
    val right = (1 to 20).map(i =>
      (i.toLong, ((i * 53) % 17000) / 100.0 - 85, ((i * 71) % 35000) / 100.0 - 175))
      .toDF("rid", "s_lat", "s_lon")

    // small radius so plenty of left rows are NOT covered → fallback exercised
    val knn = GeoJoin.knnJoinBanded(left, right, 3, 1000000.0,
      "lid", "rid", "lat", "lon", "s_lat", "s_lon")
      .select("lid", "knn_rank", "rid").as[(Long, Long, Long)].collect().toSet

    val brute = {
      val j = left.crossJoin(right)
        .withColumn("dist_m", GeoFunctions.haversineMeters(col("lat"), col("lon"),
          col("s_lat"), col("s_lon")))
      graft.operators.Transforms.topKPerGroup(j, Seq(col("lid")),
        Seq(col("dist_m").asc, col("rid").asc), 3, "knn_rank")
        .select("lid", "knn_rank", "rid").as[(Long, Long, Long)].collect().toSet
    }
    assert(knn == brute)
    assert(knn.size == 150 * 3)
  }

  test("terminal all-pairs pass: parity when k exceeds coverage, spread plan") {
    val left = (1 to 40).map(i =>
      (i.toLong, ((i * 37) % 17000) / 100.0 - 85, ((i * 91) % 35000) / 100.0 - 175))
      .toDF("lid", "lat", "lon")
    val right = (1 to 20).map(i =>
      (i.toLong, ((i * 53) % 17000) / 100.0 - 85, ((i * 71) % 35000) / 100.0 - 175))
      .toDF("rid", "s_lat", "s_lon")

    // k > |right|: no left row can ever be covered, so every escalation pass
    // fails and the terminal all-pairs pass computes the whole result
    val knn = GeoJoin.knnJoinBanded(left, right, 25, 1000.0,
      "lid", "rid", "lat", "lon", "s_lat", "s_lon")
      .select("lid", "knn_rank", "rid").as[(Long, Long, Long)].collect().toSet
    val brute = {
      val j = left.crossJoin(right)
        .withColumn("dist_m", GeoFunctions.haversineMeters(col("lat"), col("lon"),
          col("s_lat"), col("s_lon")))
      graft.operators.Transforms.topKPerGroup(j, Seq(col("lid")),
        Seq(col("dist_m").asc, col("rid").asc), 25, "knn_rank")
        .select("lid", "knn_rank", "rid").as[(Long, Long, Long)].collect().toSet
    }
    assert(knn == brute)
    assert(knn.size == 40 * 20) // every left row emits all |right| neighbors

    // the all-pairs candidate builder itself: each pair exactly once and, in
    // the big-right regime (auto-broadcast off — at scale the right side is
    // over the threshold by definition), a shuffle join spread over many
    // buckets instead of one degenerate (band,cell) task
    val cand = GeoJoin.allPairsCandidates(left, right,
      "lid", "rid", "lat", "lon", "s_lat", "s_lon")
    assert(cand.count() == 40L * 20L)
    // (AQE would coalesce this toy 800-row shuffle to one partition; the
    // assertion is about the partitioning the plan REQUESTS at scale)
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val big = GeoJoin.allPairsCandidates(left, right,
        "lid", "rid", "lat", "lon", "s_lat", "s_lon")
      val plan = big.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"right side broadcast:\n$plan")
      assert(plan.contains("hashpartitioning(_bkt"), s"no salt-key shuffle:\n$plan")
      assert(big.rdd.getNumPartitions > 1, "terminal scan collapsed to one task")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("knnBroadcast is bit-identical to the windowed cross join, incl dist") {
    val left = (1 to 150).map(i =>
      (i.toLong, ((i * 37) % 17000) / 100.0 - 85, ((i * 91) % 35000) / 100.0 - 175))
      .toDF("lid", "lat", "lon")
    val right = (1 to 20).map(i =>
      (i.toLong, ((i * 53) % 17000) / 100.0 - 85, ((i * 71) % 35000) / 100.0 - 175))
      .toDF("rid", "s_lat", "s_lon")

    // right's (rid, s_lat, s_lon) rows are the point set as they stand
    val bc = GeoJoin.knnBroadcast(left, right.collect(), 3,
      "lid", "rid", "lat", "lon")
      .select("lid", "knn_rank", "rid", "dist_m")
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = {
      val j = left.crossJoin(right)
        .withColumn("dist_m", GeoFunctions.haversineMeters(col("lat"), col("lon"),
          col("s_lat"), col("s_lon")))
      graft.operators.Transforms.topKPerGroup(j, Seq(col("lid")),
        Seq(col("dist_m").asc, col("rid").asc), 3, "knn_rank")
        .select("lid", "knn_rank", "rid", "dist_m")
        .as[(Long, Long, Long, Double)].collect().toSet
    }
    assert(bc == brute)   // exact doubles — same scalar haversine
    assert(bc.size == 150 * 3)

    // dispatch: small right side routes knnJoin through the broadcast path
    val viaDispatch = GeoJoin.knnJoin(left, right, 3, 1000000.0,
      "lid", "rid", "lat", "lon", "s_lat", "s_lon")
      .select("lid", "knn_rank", "rid", "dist_m")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaDispatch == brute)
  }
}
