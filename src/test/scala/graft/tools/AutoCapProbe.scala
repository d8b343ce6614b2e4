package graft.tools

import org.apache.spark.sql.functions._

/** Disposable bisect for the r15 skew-autocap spike: stage timings of the
  * autoCap q121 chain on the skew rehearsal corpus. */
object AutoCapProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val skew = spark.read.parquet("target/scale_rehearsal_skew.parquet")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[acap] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n)")
    }

    // run 1: full autocap arm as the rehearsal does
    time("autocap-full") {
      graft.operators.Dedup.prefixJaccardPairs(skew, "doc_id", "text",
          maxDocsPerTok = 0)
        .filter(col("id_a") >= 10000000L && col("id_b") >= 10000000L)
        .count()
    }
    time("autocap-full-warm") {
      graft.operators.Dedup.prefixJaccardPairs(skew, "doc_id", "text",
          maxDocsPerTok = 0)
        .filter(col("id_a") >= 10000000L && col("id_b") >= 10000000L)
        .count()
    }
    time("hotness") {
      graft.operators.Dedup.prefixHotness(skew, "doc_id", "text")
        .limit(5).collect().length.toLong
    }
    // manual A/B of just the prefix chain on the SKEW corpus
    import graft.functions.TextFunctions
    val base = skew.filter(length(trim(col("text"))) > 0)
    val toks = base
      .select(col("doc_id"),
        TextFunctions.charShingles(
          TextFunctions.normalize(col("text")), 8).as("arr"))
      .select(col("doc_id"), size(col("arr")).as("n"),
        explode(col("arr")).as("tok"))
      .localCheckpoint()
    time("toks-ckpt-count")(toks.count())
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val newPre = toks.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(graft.functions.PrefixMinK.column(3, 5)(
        col("n"), col("dfreq"), col("tok")).as("pk"))
      .select(col("doc_id"), col("pk.n").as("n"),
        explode(col("pk.items")).as("x"))
    time("skew-prefix-NEW")(newPre.count())
    time("skew-prefix-NEW-warm")(newPre.count())
    val oldPre = toks.join(dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("dfreq"), col("tok"))).as("td"))
      .select(col("doc_id"), size(col("td")).as("n"), explode(expr(
        "slice(array_sort(td), 1, size(td) - (size(td) * 3 + 4) DIV 5 + 1)")).as("x"))
    time("skew-prefix-OLD")(oldPre.count())
    time("skew-prefix-OLD-warm")(oldPre.count())
    spark.stop()
  }
}
