package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dev probe (r19): what routeBucketCap does containmentPairs derive on
  * the 500k rehearsal corpus, and what candidate volume does the banded
  * chain's bucket rollup forecast at that cap vs the 1000 floor?
  * Hypothesis under test: containment's FULL-dfreq autocap admits the
  * boilerplate char-shingles (dfreq ≈ corpus/3, below the 0.5 template
  * floor), so routeBucketCap = 2×cap is corpus-scale and the routed
  * chain readmits the accident-bucket blowup the r18 cap change was
  * supposed to prevent (q121 is immune: its cap comes from the PREFIX
  * table where hot shingles are pruned by construction).
  *
  * Run: SNAP_HEAP=48g tools/run_snap.sh -Dspark.driver.maxResultSize=12g \
  *   graft.tools.CrouteCapProbe target/scale_rehearsal_100x_500000.parquet
  */
object CrouteCapProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse("target/scale_rehearsal_100x_500000.parquet")
    val spark = graft.Graft.builder(16)
      .config("spark.sql.shuffle.partitions", "64")
      .appName("croute-cap-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(dir)
    val base = docs.filter(length(trim(col("text"))) > 0)
    val nDocs = base.select(col("doc_id")).distinct().count()

    // the containment dfreq table: the REAL tokenization (char-8 shingle
    // explode via the shared builder)
    val dfreq = Dedup.shingleToksPlan(base, "doc_id", "text", 8)
      .groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val rollup = Dedup.countRollup(dfreq, "dfreq")
    val cap = Dedup.capBelowTemplateFloorLocal(rollup, nDocs, 0.5, "probe")
    val routeBucketCap =
      math.min(math.max(1000L, 2L * cap), Int.MaxValue.toLong)
    println(s"CROUTECAP nDocs=$nDocs cap=$cap routeBucketCap=$routeBucketCap")
    println("CROUTECAP dfreq rollup tail (top 10 by dfreq): " +
      rollup.sortBy(-_._1).take(10).mkString(", "))

    // banded bucket-size rollup on the PRODUCTION XxLanes banding (the
    // md5 twin's rollup mis-modeled the accident classes on the first
    // pass): candidate volume at cap B is Σ_{m ≤ B} n_buckets(m)·C(m,2)
    val buckets = Dedup.bandedMinhash(base, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 8,
      fam = graft.operators.Dedup.XxLanes)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("m"))
    val brollup = Dedup.countRollup(buckets, "m")
    val volChosen = Dedup.volCappedBucketCap(brollup, 8, 498488, "probe")
    println(s"CROUTECAP volCappedBucketCap=$volChosen")
    def volAt(capB: Long): Double = brollup.iterator
      .filter(_._1 <= capB)
      .map { case (m, nb) => nb.toDouble * m.toDouble * (m - 1).toDouble / 2 }
      .sum
    println("CROUTECAP banded bucket rollup tail (top 10 by m): " +
      brollup.sortBy(-_._1).take(10).mkString(", "))
    println(f"CROUTECAP candidates at cap1000=${volAt(1000)}%.3e " +
      f"at routeCap=${volAt(routeBucketCap)}%.3e")
    spark.stop()
  }
}
