package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.functions.ShingleOps

/** Dev-only scale rehearsal for the dedup family (NOT part of the
  * library): synthesizes a 10×-sf0.1 (50k-doc) documents table with the
  * adversarial shapes the small test data lacks — corpus-hot boilerplate
  * shingles in a third of all docs, power-law near-dup cluster sizes up
  * to 120 members — then times q121/q119/q107/q63's operator chains and
  * prints pair/cluster counts, proving the skew caps bind gracefully
  * instead of going quadratic. Numbers land in BASELINE.md ("scale
  * rehearsal"). Run: `sbt "Test/runMain graft.tools.ScaleRehearsal"`. */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // NOTE: driver heap comes from the launching JVM (sbt's -Xmx) —
    // spark.driver.memory set here would be a silent no-op in local mode
    val spark = graft.Graft.builder(cpus.toInt)
      .appName("scale-rehearsal").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nDocs = args.headOption.map(_.toInt).getOrElse(50000)
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 4000).map(i => s"w${i}t${(i * 7) % 97}")
    val boiler = "subscribe to our newsletter accept all cookies terms of " +
      "service privacy policy all rights reserved contact us about careers"

    // power-law cluster sizes: mostly singletons, a heavy tail up to 120
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var total = 0
    while (total < nDocs) {
      val u = rnd.nextDouble()
      val s = math.min(math.max(1, (math.pow(u, -0.45) - 0.6).toInt), 120)
      val take = math.min(s, nDocs - total)
      sizes += take
      total += take
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    sizes.foreach { sz =>
      val base = (0 until 45).map(_ => vocab(rnd.nextInt(vocab.length)))
      (0 until sz).foreach { m =>
        // members differ in ~3 tokens => Jaccard well above 3/5
        val words = base.zipWithIndex.map { case (w, i) =>
          if (m > 0 && i % 17 == m % 17 && i < 44)
            vocab(rnd.nextInt(vocab.length))
          else w
        }
        val withBoiler =
          if (id % 3 == 0) boiler + " " + words.mkString(" ")
          else words.mkString(" ")
        rows += ((id, withBoiler))
        id += 1
      }
    }
    val dir = "target/scale_rehearsal_docs.parquet"
    rows.toSeq.toDF("doc_id", "text").repartition(32)
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val nClusters = sizes.count(_ > 1)
    println(s"REHEARSAL docs=$nDocs clusters>1=$nClusters " +
      s"largest=${sizes.max} boilerplate_docs=${rows.count(_._1 % 3 == 0)}")

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"REHEARSAL $name rows=$n%d time=$secs%.1f s")
      // same isolation hygiene as Bench (r5 lesson): localCheckpoint
      // blocks pinned by a finished chain steal execution memory from the
      // next one and widen the run-to-run band — release them before the
      // next timing
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    timed("q121_prefix_jaccard") {
      // default cap 20: pairs inside >20-member clusters are excluded by
      // the documented recall bound; the run must stay sub-quadratic
      Dedup.prefixJaccardPairs(docs, "doc_id", "text").count()
    }
    timed("q121_prefix_jaccard_cap128") {
      // cap above the largest synthetic cluster: full recall, the Σnd²
      // candidate cost grows but must remain bounded (no hot-shingle blowup
      // because prefixes exclude the boilerplate: it is corpus-hot, so it
      // ranks last in every doc)
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", maxDocsPerTok = 128)
        .count()
    }
    // ---- r13: skew-injected recall rehearsal (r12 VERDICT item 1) ----
    // ONE near-dup cluster bigger than every cap under test: 200 members,
    // each one token off a shared 45-word base, every member carrying the
    // corpus-hot boilerplate. Planted recall is measured directly
    // (C(200,2) = 19900 within-cluster pairs, ids >= 10M so the count is
    // exact), then the two prescribed recoveries: the prefixHotness
    // diagnostic reads the cluster size off the corpus, and the cap
    // raised above it restores the pairs.
    val megaBase = (0 until 45).map(_ => vocab(rnd.nextInt(vocab.length)))
    val mega = (0L until 200L).map { m =>
      val words =
        if (m == 0L) megaBase
        else megaBase.updated((m % 45).toInt, s"mega${m}u${m * 7}")
      (10000000L + m, words.mkString(" ") + " " + boiler)
    }
    val sdir = "target/scale_rehearsal_skew.parquet"
    spark.read.parquet(dir)
      .unionByName(mega.toDF("doc_id", "text"))
      .repartition(32).write.mode("overwrite").parquet(sdir)
    val skew = spark.read.parquet(sdir)
    val planted = 199L * 100L
    Seq(5, 20, 256).foreach { cap =>
      timed(s"q121_skew_cap$cap") {
        val megaPairs = Dedup.prefixJaccardPairs(skew, "doc_id", "text",
            maxDocsPerTok = cap)
          .filter(col("id_a") >= 10000000L && col("id_b") >= 10000000L)
          .count()
        println(s"REHEARSAL skew cap=$cap mega_recall=$megaPairs/$planted")
        megaPairs
      }
    }
    timed("q121_skew_autocap") {
      // r14: the cap derived from the data (maxDocsPerTok = 0) must
      // recover the full planted recall the hand caps above lose — the
      // template floor is 0.5 × 50,200 docs, the hottest prefix-nd is
      // the ~200-member mega cluster, so autoCap lands at ≈ maxNd and
      // the prefix filter is lossless (same id-filter pushdown as the
      // capped arms: this times the diagnostic + the mega slice, not a
      // full-corpus join)
      val megaPairs = Dedup.prefixJaccardPairs(skew, "doc_id", "text",
          maxDocsPerTok = 0)
        .filter(col("id_a") >= 10000000L && col("id_b") >= 10000000L)
        .count()
      println(s"REHEARSAL skew autocap mega_recall=$megaPairs/$planted")
      megaPairs
    }
    timed("prefix_hotness_diagnostic") {
      // the cap you'd choose, read off the data: hottest prefix-nd rows
      // (the mega cluster lands ~200; the boilerplate, corpus-hot in a
      // third of 50k docs, must NOT inflate this — prefixes exclude it)
      val top = Dedup.prefixHotness(skew, "doc_id", "text")
        .limit(5).collect()
      println("REHEARSAL hotness_top=" +
        top.map(r => s"nd=${r.getLong(0)}(toks=${r.getLong(1)})")
          .mkString(","))
      top.length.toLong
    }

    timed("q119_shared_passages") {
      Dedup.sharedPassagePairs(docs, "doc_id", "text").count()
    }
    timed("q196_span_removal") {
      // 1/3 of docs carry the 19-word boilerplate prefix → ~15 hot-gram
      // starts each: the chain the r12 native rewrite (wordGrams +
      // tokenSpanFilter) moved off interpreted HOF lambdas
      Dedup.duplicatedSpanRemoval(docs, "doc_id", "text",
        gramN = 5, minDocs = 2)
        .agg(sum(col("n_dropped"))).head.getLong(0)
    }
    // q144 shape A/B: the oracle-portable string posture vs the hashed
    // production posture (8-byte keys through the distinct + aggregates).
    // Same result counts required — the hash swap changes shuffle width,
    // not semantics (modulo the documented ~n²/2⁶⁵ collision caveat).
    val srcDocs = docs.withColumn("src",
      concat(lit("s"), (col("doc_id") % 20).cast("string")))
    timed("q144_source_novelty_strings") {
      graft.operators.Corpus.sourceNovelty(srcDocs, "src", "text").count()
    }
    timed("q144_source_novelty_hashed") {
      graft.operators.Corpus.sourceNovelty(srcDocs, "src", "text",
        hashed = true).count()
    }
    timed("q107_minhash_chain") {
      val sig = Dedup.md5MinhashSignatures(
        docs.filter(length(trim(col("text"))) > 0), "doc_id", "text",
        numHashes = 16).localCheckpoint()
      Dedup.candidatesFromSignatures(sig, numHashes = 16).count()
    }
    timed("q63_connected_components") {
      val pairs = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .select(col("cluster")).distinct().count()
    }

    // ---- r11: directed containment at 10x (q154 shape) ----
    timed("q154_containment") {
      Dedup.containmentPairs(docs, "doc_id", "text").count()
    }

    // ---- r11: edit-distance-1 join at 10x (q202 shape) ----
    timed("q202_editdist_join") {
      // ~25k identifier-like strings; every third is a 1-char typo of its
      // predecessor — the SymSpell deletion-neighborhood join must stay
      // linear in len and find exactly the planted pairs plus collisions
      val ernd = new scala.util.Random(45)
      val raw = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      (0L until (nDocs / 2).toLong).foreach { i =>
        val s =
          if (i % 3 == 2 && raw.nonEmpty) {
            val prev = raw.last._2 // planted typo: substitute one char
            val p = ernd.nextInt(prev.length)
            prev.updated(p, ('a' + ernd.nextInt(26)).toChar)
          } else
            f"sku-${ernd.nextInt(100000)}%05d-${('a' + ernd.nextInt(26)).toChar}"
        raw += ((i, s))
      }
      val strs = raw.toSeq.toDF("id", "s").localCheckpoint()
      Dedup.editDistanceJoin(strs, "id", "s").count()
    }

    // ---- round-10 families (r11 rehearsal): CDC chunking + runs ----
    timed("q234_cdc_chunk_runs") {
      // q234's chain: CDC chunk hashes → frequency-capped hash equi-join
      // → diagonal run detection; the cap must keep the boilerplate
      // chunk (in a third of all docs) out of the candidate join
      import org.apache.spark.sql.expressions.Window
      val ch = docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), posexplode(graft.functions.CdcOps
          .cdcChunksCol(col("text"), 8, 64)).as(Seq("j", "c")))
        .select(col("doc_id"), col("j").cast("long").as("j"),
          md5(col("c")).as("ch"))
      val capped = ch.groupBy(col("ch"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
        .filter(col("n") <= 20 && col("nd") >= 2).select("ch")
      val cIn = ch.join(capped, "ch")
      val p = cIn.select(col("ch"), col("doc_id").as("d1"), col("j").as("j1"))
        .join(cIn.select(col("ch"), col("doc_id").as("d2"),
          col("j").as("j2")), "ch")
        .filter(col("d1") < col("d2"))
        .select("d1", "d2", "j1", "j2").distinct()
      p.withColumn("diag", col("j1") - col("j2"))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("d1"), col("d2"), col("diag"))
          .orderBy(col("j1"))))
        .groupBy(col("d1"), col("d2"), col("diag"),
          (col("j1") - col("rn")).as("grp"))
        .agg(count(lit(1)).as("len"))
        .filter(col("len") >= 2).count()
    }

    // ---- round-10 families: JW-gated golden-record ER (q233 shape) ----
    timed("q233_jw_golden_record") {
      // synthetic dirty names: ~12k entities, 1-4 variants each differing
      // in a trailing token — blocks on the first token, JW >= 15/16 gate,
      // CC, then the most-frequent-name pick
      import org.apache.spark.sql.expressions.Window
      val adj = Vector("almond", "antique", "aquamarine", "azure", "beige",
        "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
        "burnished", "chartreuse", "chiffon", "chocolate", "coral")
      val nrnd = new scala.util.Random(44)
      val nrows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var nid = 0L
      while (nrows.length < nDocs / 2) {
        val base = (0 until 4).map(_ => adj(nrnd.nextInt(adj.length)))
        val variants = 1 + nrnd.nextInt(4)
        (0 until variants).foreach { v =>
          val name =
            if (v == 0) base.mkString(" ")
            else (base.dropRight(1) :+ (base.last + v)).mkString(" ")
          nrows += ((nid, name)); nid += 1
        }
      }
      val names = nrows.toSeq.toDF("id", "name")
        .withColumn("blk", split(col("name"), " ").getItem(0))
        .repartition(32).localCheckpoint()
      val pairs = names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
        .filter(graft.functions.JaroWinklerOps.jaroWinklerCol(
          col("a.name"), col("b.name")) >= 0.9375)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val clusters = Dedup.connectedComponents(
        names.select(col("id")), "id", pairs)
      val m = clusters.join(names.select(col("id"), col("name")), "id")
      val freq = m.groupBy(col("cluster"), col("name"))
        .agg(count(lit(1)).as("cnt"))
      freq.withColumn("rk", row_number().over(Window
          .partitionBy(col("cluster"))
          .orderBy(col("cnt").desc, col("name").asc)))
        .filter(col("rk") === 1).count()
    }

    // ---- ANN / similarity family at 10x the sf0.1 embeddings table ----
    // 20k 64-dim vectors in ~2.3k clusters: each cluster is a base vector
    // plus small per-member noise (members sit well above cosine 0.9 of
    // each other — real near-dup structure), singleton tail is noise.
    val nVec = 20000
    val dim = 64
    val vrnd = new scala.util.Random(43)
    val vrows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var vid = 0L
    while (vrows.length < nVec) {
      val sz = { val u = vrnd.nextDouble()
        math.min(math.max(1, (math.pow(u, -0.4) - 0.7).toInt), 20) }
      val base = Array.fill(dim)(vrnd.nextGaussian())
      (0 until math.min(sz, nVec - vrows.length)).foreach { _ =>
        val v = base.map(x => (x + vrnd.nextGaussian() * 0.03).toFloat)
        vrows += ((vid, v)); vid += 1
      }
    }
    val vdir = "target/scale_rehearsal_vecs.parquet"
    vrows.toSeq.toDF("vec_id", "embedding").repartition(32)
      .write.mode("overwrite").parquet(vdir)
    val vecs = spark.read.parquet(vdir)
    println(s"REHEARSAL vecs=$nVec dim=$dim")

    timed("q32_lsh_pairs") {
      Similarity.lshNearPairs(vecs, "vec_id", "embedding").count()
    }
    // the r14 hot-bucket guard at rehearsal scale: the hotness diagnostic
    // prices the within-bucket join, autoCap (maxBucket = 0) derives the
    // cap from the distribution — on this non-collapsed corpus it must
    // keep every genuine bucket, so the pair count equals uncapped
    timed("bucket_hotness") {
      val top = Similarity.bucketHotness(vecs, "vec_id", "embedding")
        .limit(3).collect().map(r => s"m=${r.getLong(0)}(${r.getLong(1)})")
      println(s"REHEARSAL hotness_top=${top.mkString(",")}")
      top.length.toLong
    }
    timed("q32_lsh_pairs_autocap") {
      Similarity.lshNearPairs(vecs, "vec_id", "embedding",
        maxBucket = 0).count()
    }
    timed("q94_embedding_neardup") {
      Similarity.embeddingNearDup(vecs, "vec_id", "embedding")
        .filter(col("is_dup")).count()
    }
    timed("q31_brute_topk") {
      val q = vecs.limit(1).select(col("embedding").as("qe"))
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10).count()
    }
    timed("q83_ivf_build_probe") {
      val (model, indexed) = Similarity.ivfIndex(vecs, "vec_id", "embedding",
        nLists = 64, fitSample = 0.2)
      val probe = vrows.head._2.map(_.toDouble).toSeq
      Similarity.ivfTopK(model, indexed.localCheckpoint(), "vec_id",
        "embedding", probe, 10, nProbe = 4).count()
    }
    timed("q128_hard_negatives") {
      Similarity.hardNegatives(vecs, "vec_id", "embedding",
        anchorIds = Seq(0L, 100L, 1000L, 5000L), k = 8).count()
    }

    // ---- round-10 families: semantic dedup e2e (q220 shape) ----
    timed("q220_semantic_dedup_e2e") {
      // LSH candidate pairs → CC → per-cluster sizes: the full pipeline
      // at 10x vectors, keeper share printed by the count
      val pairs = Similarity.lshNearPairs(vecs, "vec_id", "embedding",
          bits = 4, minSim = 0.35,
          signature = Similarity.hyperplaneSignatureLattice)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.connectedComponents(vecs, "vec_id", pairs)
      clusters.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size")).count()
    }
    spark.stop()
  }
}
