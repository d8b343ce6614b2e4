package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomAgg, BloomMightContain, BloomOps}
import graft.operators.Blocklist
import org.apache.spark.unsafe.types.UTF8String

class BlocklistSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("bloom has no false negatives and a sane false-positive rate") {
    val bits = new Array[Long]((10 * 1000 + 63) / 64)
    val k = 5
    (0 until 1000).foreach(i =>
      BloomOps.setBits(bits, UTF8String.fromString(s"key-$i"), k))
    val ser = BloomOps.serialize(bits, k)
    // every inserted key answers true
    assert((0 until 1000).forall(i =>
      BloomOps.mightContain(ser, UTF8String.fromString(s"key-$i"))))
    // absent keys: ~1% expected at 10 bits/key, assert well under 3%
    val fp = (0 until 10000).count(i =>
      BloomOps.mightContain(ser, UTF8String.fromString(s"absent-$i")))
    assert(fp < 300, s"false-positive rate too high: $fp/10000")
  }

  test("distributed BloomAgg merge equals single-partition build") {
    val keys = (0 until 500).map(i => s"k$i").toDF("key").repartition(8)
    val blob = keys.agg(BloomAgg(numBits = 4096, numHashes = 5)
      .column(col("key"))).head.getAs[Array[Byte]](0)
    assert((0 until 500).forall(i =>
      BloomOps.mightContain(blob, UTF8String.fromString(s"k$i"))))
  }

  test("bloomAntiJoin and the exact semi join partition the input exactly") {
    val big = (0L until 2000L).map(i => (i, s"val-${i % 700}"))
      .toDF("id", "key")
    val block = (0 until 700).filter(_ % 3 == 0).map(i => s"val-$i").toDF("key")
    val semi = big.join(block, Seq("key"), "left_semi")
    val anti = Blocklist.bloomAntiJoin(big, block, "key")
    val expectedAnti = big.join(block, Seq("key"), "left_anti")
    assert(anti.select("id").as[Long].collect().sorted.toSeq ==
      expectedAnti.select("id").as[Long].collect().sorted.toSeq)
    assert(semi.count() + anti.count() == 2000L)
  }

  test("null keys: anti keeps them, semi drops them — plain-join semantics") {
    val big = Seq((1L, "hit"), (2L, null.asInstanceOf[String]), (3L, "miss"))
      .toDF("id", "key")
    val block = Seq("hit").toDF("key")
    // a null key never equals a blocklist key: left_anti keeps the row,
    // left_semi doesn't — the bloom fast path must not change that
    val anti = Blocklist.bloomAntiJoin(big, block, "key")
      .select("id").as[Long].collect().sorted.toSeq
    val semi = big.join(block, Seq("key"), "left_semi")
      .select("id").as[Long].collect().sorted.toSeq
    assert(anti == Seq(2L, 3L))
    assert(semi == Seq(1L))
  }

  test("big-side bloom probe stays inside whole-stage codegen") {
    val big = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "key")
    val block = Seq("v1", "v2").toDF("key")
    val plan = Blocklist.bloomAntiJoin(big, block, "key")
      .queryExecution.executedPlan.toString
    // the probe filter must not break codegen (no CodegenFallback wrapper)
    assert(plan.contains("bloom_might_contain"))
    assert(!plan.contains("CodegenFallback"))
  }
}
