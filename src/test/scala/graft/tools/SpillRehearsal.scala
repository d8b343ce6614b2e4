package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Tight-memory spill rehearsal (dev-only; r12 VERDICT item 4 / r13 item
  * 3): the 100-TB posture claims the heavy dedup chains DEGRADE under
  * memory pressure (spill to disk) instead of cliffing (OOM). Local mode
  * can't cap executor memory independently — the executor IS the driver
  * JVM — so the heap is varied from OUTSIDE via `SPARK_DRIVER_MEM`
  * (build.sbt threads it into the forked JVM's -Xmx):
  *
  * {{{
  * SPARK_DRIVER_MEM=8g sbt "Test/runMain graft.tools.SpillRehearsal"
  * SPARK_DRIVER_MEM=4g sbt "Test/runMain graft.tools.SpillRehearsal"
  * SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.tools.SpillRehearsal"
  * }}}
  *
  * Runs the q121 / q154 / q63 chains on the [[ScaleRehearsal]] 10×
  * corpus (generate it first if absent) and prints one line per chain
  * with wall time, rows, and the run's TaskMetrics totals:
  * memoryBytesSpilled / diskBytesSpilled summed over tasks, and the max
  * per-task peakExecutionMemory. Numbers land in BASELINE.md ("spill
  * rehearsal"). A successful 2g run with nonzero spill and unchanged
  * row counts is the "degrades, doesn't cliff" evidence; an OOM crash
  * prints nothing further — absence of the later lines IS the signal. */
object SpillRehearsal {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.builder(cpus.toInt)
      .appName("spill-rehearsal").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = args.headOption.getOrElse("target/scale_rehearsal_docs.parquet")
    require(new java.io.File(dir).exists(),
      s"rehearsal corpus missing at $dir — run graft.tools.ScaleRehearsal first")
    // "vecsOnly" second arg: run just the embedding cells — the text
    // chains' ~0.5 GB/task aggregation floor sits ABOVE the vector path's
    // working set, so the vector cells need heaps the text chains cannot
    // survive to show their own degrade behavior (r16)
    val vecsOnly = args.drop(1).headOption.contains("vecsOnly")
    val docs = spark.read.parquet(dir)

    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
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

    val heapG = Runtime.getRuntime.maxMemory() / 1e9
    println(f"SPILL heap=$heapG%.1f g cpus=$cpus corpus=$dir")

    def timed(name: String)(f: => Long): Unit = {
      memSpill.set(0); diskSpill.set(0); peakTask.set(0)
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously (the public API has no
      // drain hook) — a short settle keeps the totals complete
      Thread.sleep(1000)
      println(f"SPILL $name rows=$n%d time=$secs%.1f s " +
        f"spill_mem=${memSpill.get / 1e6}%.0f MB " +
        f"spill_disk=${diskSpill.get / 1e6}%.0f MB " +
        f"peak_task=${peakTask.get / 1e6}%.0f MB")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    if (!vecsOnly) {
      timed("q121_prefix_jaccard") {
        Dedup.prefixJaccardPairs(docs, "doc_id", "text").count()
      }
      timed("q154_containment") {
        Dedup.containmentPairs(docs, "doc_id", "text").count()
      }
      timed("q63_connected_components") {
        val pairs = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .select(col("cluster")).distinct().count()
      }
    }

    // ---- r15 (r14 judge item 5): the EMBEDDING side under the same
    // halved-heap grid — SpillRehearsal covered only the text chains, so
    // the vector path's degrade-not-cliff claim was extrapolated. Same
    // rehearsal vectors (20k × 64-dim; ScaleRehearsal writes them). ----
    import graft.operators.Similarity
    val vdir = "target/scale_rehearsal_vecs.parquet"
    if (new java.io.File(vdir).exists()) {
      val vecs = spark.read.parquet(vdir)
      timed("q220_semantic_dedup_e2e") {
        val pairs = Similarity.lshNearPairs(vecs, "vec_id", "embedding",
            bits = 4, minSim = 0.35,
            signature = Similarity.hyperplaneSignatureLattice)
          .select(col("id_a"), col("id_b"))
        Dedup.connectedComponents(vecs, "vec_id", pairs)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size")).count()
      }
      timed("q249_lsh_capped") {
        Similarity.lshNearPairs(vecs, "vec_id", "embedding",
          bits = 4, minSim = 0.1,
          signature = Similarity.hyperplaneSignatureLattice,
          maxBucket = 40).count()
      }
      // the cell above proves the GUARD (4 lattice bits over 20k vecs →
      // every bucket ≫ 40 → 0 pairs, constant at every heap); this one
      // keeps the buckets so the within-bucket join actually runs under
      // memory pressure — the cell that can spill (r16 first-run audit)
      timed("q249_lsh_capped_loose") {
        Similarity.lshNearPairs(vecs, "vec_id", "embedding",
          bits = 4, minSim = 0.35,
          signature = Similarity.hyperplaneSignatureLattice,
          maxBucket = 4000).count()
      }
      timed("q83_ivf_build_probe") {
        val (model, indexed) = Similarity.ivfIndex(vecs, "vec_id",
          "embedding", nLists = 64, fitSample = 0.2)
        val probe = vecs.select(col("embedding")).head()
          .getSeq[Float](0).map(_.toDouble)
        Similarity.ivfTopK(model, indexed.localCheckpoint(), "vec_id",
          "embedding", probe, 10, nProbe = 4).count()
      }
    } else println(s"SPILL vecs missing at $vdir — run ScaleRehearsal " +
      "first for the embedding cells")
    println("SPILL done")
    spark.stop()
  }
}
