package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dev probe (r20): the one-sided probe's dfreq→cumulative-candidate
  * curve on a rehearsal corpus, plus the planted quotes' rarest-witness
  * dfreq distribution — the numbers behind the probe-cap floor design
  * (what does reaching the default dfreq-20 posture COST at each scale,
  * and where do the quote witnesses actually sit?).
  *
  * Run: java … graft.tools.OneSidedCapProbe <corpusDir>
  */
object OneSidedCapProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse("target/scale_rehearsal_100x_300000.parquet")
    val spark = graft.Graft.builder(16)
      .config("spark.sql.shuffle.partitions", "64")
      .appName("onesided-cap-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(dir)
    val base = docs.filter(length(trim(col("text"))) > 0)
    val nDocs = base.select(col("doc_id")).distinct().count()

    val toks = Dedup.shingleToksPlan(base, "doc_id", "text", 8)
      .localCheckpoint()
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val probe = toks.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(graft.functions.PrefixMinK.columnK(8)(
        col("n"), col("dfreq"), col("tok")).as("pk"))
      .select(col("doc_id"), explode(col("pk.items")).as("x"))
      .select(col("doc_id"), col("x.dfreq").as("dfreq"))
      .localCheckpoint()
    val rollup = Dedup.countRollup(probe, "dfreq")
    var cum = 0.0
    println(s"CAPPROBE nDocs=$nDocs probeRows=${probe.count()}")
    rollup.takeWhile { case (d, _) => d <= 100 }.foreach { case (d, n) =>
      cum += n.toDouble * d
      println(f"CAPPROBE dfreq=$d n_rows=$n cum_cand=$cum%.3e " +
        f"cum_per_doc=${cum / nDocs}%.1f")
    }
    // planted asym quotes (ids >= 30M): min probe dfreq per quote = the
    // cheapest witness the cap must admit to find the pair
    val q = probe.filter(col("doc_id") >= 30000000L &&
        col("doc_id") < 31000000L)
      .groupBy(col("doc_id")).agg(min(col("dfreq")).as("minw"))
    if (q.count() > 0) {
      val hist = q.groupBy(col("minw")).agg(count(lit(1)).as("n"))
        .orderBy(col("minw")).collect()
      println("CAPPROBE quote rarest-witness dfreq histogram: " +
        hist.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(", "))
    }
    spark.stop()
  }
}
