package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Fresh-JVM-per-arm A/B for the autocap bucket-size pin (r18 VERDICT
  * item 5): the r18 1M-vector A/B was confounded by same-JVM carryover
  * (a preceding 45 GB spill arm + ContextCleaner lag moved L2 walls 50%
  * and scratch 2.4×), so it rejected the pin on principle, not on a
  * clean number. This tool runs EXACTLY ONE arm per JVM — the
  * [[VectorScaleRehearsal]] `lsh_pair_recall` arm (single-table autocap
  * `lshNearPairs`, the shape the pin targets) on the identical
  * deterministic 400k corpus — and the pin is toggled via the operator's
  * own dev knob `-Dgraft.lsh.pinSizes=true`, so both arms measure the
  * SHIPPED code path, not a replica.
  *
  * Run (fresh JVM each, via the snapshot-classes java runner):
  *   java -Dgraft.lsh.pinSizes=false … graft.tools.LshPinAB 400000
  *   java -Dgraft.lsh.pinSizes=true  … graft.tools.LshPinAB 400000
  * Prints one LSHPINAB line with wall / spill / peak scratch + recall.
  */
object LshPinAB {

  private def dirBytes(p: java.io.File): Long =
    if (p.isFile) p.length()
    else Option(p.listFiles()).toSeq.flatten.map(dirBytes).sum

  def main(args: Array[String]): Unit = {
    val nVec = args.headOption.map(_.toInt).getOrElse(400000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.builder(cpus.toInt)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64"))
      .config("spark.local.dir", "target/lshpin_scratch")
      .appName("lsh-pin-ab").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val peakTask = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakTask.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })
    val scratchRoot = new java.io.File("target/lshpin_scratch")
    val peakScratch = new AtomicLong
    val poller = new Thread(() => {
      while (!Thread.currentThread().isInterrupted) {
        peakScratch.updateAndGet(p => math.max(p, dirBytes(scratchRoot)))
        try Thread.sleep(2000)
        catch { case _: InterruptedException => return }
      }
    }, "lshpin-poller")
    poller.setDaemon(true); poller.start()

    // identical corpus generator to VectorScaleRehearsal (seed 7, dim 64,
    // 30% planted clusters of 2-20, Gaussian background) so the arm is
    // same-class with the r17/r18 recordings
    val dim = 64
    val rnd = new scala.util.Random(7)
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Array[Float])](nVec)
    var id = 0L; var cid = 0L
    val clustered = (nVec * 3) / 10
    while (rows.length < clustered) {
      val sz = math.min(2 + rnd.nextInt(19), clustered - rows.length + 2)
      val base = Array.fill(dim)(rnd.nextGaussian())
      (0 until sz).foreach { _ =>
        rows += ((id, cid, base.map(x => (x + rnd.nextGaussian() * 0.03).toFloat)))
        id += 1
      }
      cid += 1
    }
    val sizes = rows.groupBy(_._2).map(_._2.size)
    val truthPairs = sizes.filter(_ > 1).map(s => s.toLong * (s - 1) / 2).sum
    while (rows.length < nVec) {
      rows += ((id, -1L, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      id += 1
    }
    val dir = s"target/lshpin_vec_$nVec.parquet"
    rows.toSeq.toDF("vec_id", "cluster", "embedding").repartition(64)
      .write.mode("overwrite").parquet(dir)
    rows.clear()
    val vecs = spark.read.parquet(dir)
    val clusterOf = vecs.select(col("vec_id"), col("cluster"))

    val pinned = java.lang.Boolean.getBoolean("graft.lsh.pinSizes")
    // arg 2: single (default) = lshNearPairs; multiprobe =
    // lshNearPairsMultiProbe — the sibling autocap path with the same
    // rollup-action mechanism, priced separately before its default pin
    val mode = args.drop(1).headOption.getOrElse("single")
    def run(df: org.apache.spark.sql.DataFrame) = mode match {
      case "multiprobe" => Similarity.lshNearPairsMultiProbe(df, "vec_id",
        "embedding", bits = 16, minSim = 0.9, maxBucket = 0)
      case "tables" => Similarity.lshNearPairsTables(df, "vec_id",
        "embedding", tables = 2, bits = 16, minSim = 0.9, maxBucket = 0)
      case _ => Similarity.lshNearPairs(df, "vec_id", "embedding",
        bits = 16, minSim = 0.9, maxBucket = 0)
    }
    // one JIT/codegen warm pass on a 20k slice (NOT the measured corpus
    // size class), so neither arm pays cold-JIT — the r18 table's
    // asterisked confound
    run(vecs.limit(20000)).count()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    memSpill.set(0); diskSpill.set(0); peakTask.set(0); peakScratch.set(0)

    val t0 = System.nanoTime()
    val pairs = run(vecs)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val within = pairs
      .join(clusterOf.withColumnRenamed("vec_id", "id_a")
        .withColumnRenamed("cluster", "ca"), "id_a")
      .join(clusterOf.withColumnRenamed("vec_id", "id_b")
        .withColumnRenamed("cluster", "cb"), "id_b")
      .filter(col("ca") === col("cb") && col("ca") >= 0).count()
    val secs = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2500) // let the poller catch the tail
    println(f"LSHPINAB n=$nVec mode=$mode pin=$pinned wall=$secs%.1f s " +
      f"recall=${within.toDouble / truthPairs}%.4f " +
      f"spill_mem=${memSpill.get / 1e6}%.0f MB " +
      f"spill_disk=${diskSpill.get / 1e6}%.0f MB " +
      f"peak_task=${peakTask.get / 1e6}%.0f MB " +
      f"peak_scratch=${peakScratch.get / 1e9}%.2f GB")
    spark.stop()
  }
}
