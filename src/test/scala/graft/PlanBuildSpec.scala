package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GeoJoin

/** Building a plan is not running it: the etl_ref builders start no Spark
  * job and no query execution of their own (no schema-inference job, no
  * `.rdd` probe), so all their work is left to the one execution. Builders
  * whose write or stream is the operator under test start a fixed side
  * work. */
class PlanBuildSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  private val sf = "perfbench/corpus/sf0.001"

  /** (jobs, query executions) that `body` started on this thread. Listener
    * events arrive asynchronously and in order, so a marker action run
    * after `body` is the point by which all of `body`'s events were seen. */
  private def sideWork(s: SparkSession)(body: => Unit): (Seq[Int], Int) = {
    val sc = s.sparkContext
    val group = s"plan-build-${System.nanoTime}"
    val jobs = new ConcurrentLinkedQueue[Int]
    val qes = new ConcurrentLinkedQueue[String]
    val markerSeen = new CountDownLatch(1)
    def inGroup(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties)) jobs.add(e.jobId)
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains("plan_build_marker")) markerSeen.countDown()
        else qes.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        qes.add(f)
    }
    sc.addSparkListener(jobListener)
    s.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, "plan build")
      try body finally sc.clearJobGroup()
      s.range(1).select(lit(1).as("plan_build_marker")).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events lag")
      // the job listener shares the queue the marker's events went through
      (jobs.toArray.toSeq.map(_.asInstanceOf[Int]), qes.size)
    } finally {
      s.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** (jobs, query executions) each named contract builder started. */
  private def builderSideWork(names: Seq[String]): Map[String, (Int, Int)] = {
    val byName = SparkEntry.contracts.map(c => c.name -> c.plan).toMap
    names.map { n =>
      var df: DataFrame = null
      val (jobs, qes) = sideWork(spark) { df = byName(n)(spark, sf) }
      assert(df != null)
      n -> (jobs.size, qes)
    }.toMap
  }

  test("etl_ref builders start no job and no query execution") {
    val names = Seq("q03_watermark_join", "q08_unpivot", "q21_window_agg",
      "q33_fixed_width", "q37_wasde_parse", "q38_geo_radius_join",
      "q247_pl_contract")
    assert(builderSideWork(names) == names.map(_ -> (0, 0)).toMap)
  }

  test("the write and stream builders start a fixed side work") {
    // each builder runs its write or its stream while the plan is built,
    // because that write or stream is the operator under test; a stream's
    // own jobs run on its thread, outside the build's job group. q18's kNN
    // join fetches its broadcast point set while the plan is built.
    val names = Seq("q18_geo_topk", "q42_csv_roundtrip",
      "q70_partitioned_write", "q90_streaming_agg", "q96_streaming_dedup",
      "q222_watermark_late_drop")
    assert(builderSideWork(names) == Map(
      // bounded collect of the broadcast side (a size probe and a second
      // fetch were 3 jobs and 2 executions)
      "q18_geo_topk" -> (1, 1),
      // the CSV write
      "q42_csv_roundtrip" -> (1, 1),
      // the partitioned write (2 jobs) and the read-back's schema job
      "q70_partitioned_write" -> (3, 1),
      // the stream: its memory-sink view and its one data batch
      "q90_streaming_agg" -> (0, 2),
      "q96_streaming_dedup" -> (0, 2),
      // the max-ts head (2), two batch-file writes (2 each), the read-back's
      // schema job
      "q222_watermark_late_drop" -> (7, 3)))
  }

  test("the spread text builders size their fan-out without a probe") {
    // q67 and q88 spread a narrow documents scan through Spread.fanOutScan,
    // which reads the width from the physical plan; a `.rdd` width read
    // would start a QueryExecution while the plan is still being built
    val names = Seq("q67_winnow_fp", "q88_decontamination")
    assert(builderSideWork(names) == names.map(_ -> (0, 0)).toMap)
  }

  test("the dedup and similarity builders start a fixed side work") {
    // every contract dedup and similarity join runs with an explicit cap
    // (or none); what these builders start is their eager checkpoints,
    // size probes and bounded collects, pinned so a change to the joins
    // shows here
    val names = Seq("q121_prefix_jaccard", "q154_containment",
      "q245_prefix_hotness", "q253_prefix_hotness_sampled",
      "q259_containment_onesided", "q261_containment_union", "q32_ann_lsh",
      "q94_embedding_neardup", "q128_hard_negatives", "q220_semantic_dedup",
      "q248_bucket_hotness", "q249_lsh_capped", "q254_ann_lsh_multitable",
      "q256_ann_lsh_multiprobe")
    assert(builderSideWork(names) == Map(
      // checkpoints of the shingle front, the prefix table and the kept
      // prefix, and the verify's broadcast probe
      "q121_prefix_jaccard" -> (11, 4),
      // the shingle front's checkpoint and the verify's broadcast probe
      "q154_containment" -> (4, 2),
      "q259_containment_onesided" -> (4, 2),
      // the shingle front's checkpoint
      "q245_prefix_hotness" -> (2, 1),
      "q253_prefix_hotness_sampled" -> (2, 1),
      // the shingle front's checkpoint, the banded table's two pins and
      // the verify's broadcast probe
      "q261_containment_union" -> (8, 4),
      // connectedComponents' bounded edge collect
      "q220_semantic_dedup" -> (2, 1)) ++
      Seq("q32_ann_lsh", "q94_embedding_neardup", "q128_hard_negatives",
        "q248_bucket_hotness", "q249_lsh_capped", "q254_ann_lsh_multitable",
        "q256_ann_lsh_multiprobe").map(_ -> (0, 0)))
  }

  test("radiusJoin spreads a narrow scan, from the physical plan alone") {
    val dir = SparkTestBase.tempDir("plan-build").toString
    spark.range(0, 40, 1, 1)
      .select(col("id").as("k"), (col("id") % 17).cast("double").as("lat"),
        (col("id") % 29).cast("double").as("lon"))
      .write.mode("overwrite").parquet(s"$dir/one")
    spark.range(0, 40, 1, 4)
      .select(col("id").as("k"), (col("id") % 17).cast("double").as("lat"),
        (col("id") % 29).cast("double").as("lon"))
      .write.mode("overwrite").parquet(s"$dir/four")
    def scan(p: String) =
      spark.read.schema(Tables.schemaOf(spark, p)).parquet(p)
    val right = scan(s"$dir/one")
      .select(col("k").as("r"), col("lat").as("s_lat"), col("lon").as("s_lon"))
    val par = spark.sparkContext.defaultParallelism
    def spreads(left: DataFrame): Seq[Int] = {
      var out: DataFrame = null
      val (jobs, qes) = sideWork(spark) {
        out = GeoJoin.radiusJoin(left, right, 300000.0,
          "lat", "lon", "s_lat", "s_lon")
      }
      assert((jobs, qes) == (Nil, 0), "building the join ran side work")
      out.queryExecution.logical.collect {
        case r: Repartition if r.shuffle => r.numPartitions
      }
    }
    val narrow = scan(s"$dir/one")
    assert(narrow.queryExecution.executedPlan.execute().getNumPartitions == 1)
    assert(spreads(narrow) == Seq(par))
    // a scan as wide as the cores keeps its partitioning
    val wide = scan(s"$dir/four")
    assert(wide.queryExecution.executedPlan.execute().getNumPartitions >= par)
    assert(spreads(wide).isEmpty)
  }
}
