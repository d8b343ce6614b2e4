package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, Spread}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  val base = "spark is a unified analytics engine for large scale data processing " +
    "with high level apis in scala java python and r plus an optimized engine"
  val nearDup = base.replace("optimized", "optimised") // 1-char different
  val docs = Seq(
    (1L, base, "en"),
    (2L, nearDup, "en"),
    (3L, base.toUpperCase, "en"), // exact dup after normalization
    (4L, "totally unrelated text about cooking pasta with tomatoes and basil leaves for dinner tonight yum", "en"))
    .toDF("doc_id", "text", "lang")

  test("fanOutScan sizes from the plan: a narrow single-leaf input spreads, " +
      "a streaming frame passes through") {
    val dir = SparkTestBase.tempDir("fanout").toString
    docs.repartition(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(Spread.scanPartitions(scan) == Some(1))
    assert(Spread.scanPartitions(scan.filter(col("lang") === "en")) == Some(1))
    // an exchange decides the width, not the scan
    assert(Spread.scanPartitions(scan.groupBy("lang").count()).isEmpty)
    val spread = Spread.fanOutScan(scan, col("doc_id"))
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spread.collect().toSet == scan.collect().toSet)
    // any single leaf sizes, not only a file scan: a cached frame, a
    // local checkpoint, local rows and a range spread like the scan
    val cached = scan.cache()
    try {
      assert(Spread.scanPartitions(cached) == Some(1))
      assert(Spread.fanOutScan(cached, col("doc_id")).rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    } finally cached.unpersist()
    assert(Spread.scanPartitions(scan.localCheckpoint()) == Some(1))
    assert(Spread.scanPartitions(docs.limit(1)) == Some(1))
    assert(Spread.scanPartitions(spark.range(0, 10, 1, 1).toDF()) == Some(1))
    // df.rdd on a streaming frame throws; the plan-based probe never asks
    val stream = spark.readStream.schema(scan.schema).parquet(dir)
    assert(Spread.fanOutScan(stream, col("doc_id")) eq stream)
  }

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val dupGroup = out.filter(col("n_dups") === 2).collect()
    assert(dupGroup.length == 1)
    assert(dupGroup(0).getAs[Long]("keeper") == 1L)
    assert(out.count() == 3) // 4 docs, one merged pair
  }

  test("minhash LSH finds the near-duplicate pair") {
    val pairs = Dedup.minhashCandidatesPortable(docs, "doc_id", "text",
      bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.contains((1L, 4L)), "unrelated docs must not collide in all bands")
  }

  test("ngram jaccard high for near-dups, low for unrelated") {
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) > 0.8)
    assert(j((1L, 4L)) < 0.4)
  }

  test("brute-force cosine top-k: query vector ranks itself first with sim 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val top = SpecOracles.bruteForceTopK(vecs, "vec_id", "embedding", q, 2)
      .as[(Long, Double)].collect()
    assert(top(0)._1 == 0L && math.abs(top(0)._2 - 1.0) < 1e-12)
    assert(top(1)._1 == 1L)
  }

  test("IVF top-k: high recall vs brute force with partial probing") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (model, indexed) = Similarity.ivfIndex(emb, "vec_id", "embedding", nLists = 8)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Seq[Float]].head().map(_.toDouble)
    val ivf = Similarity.ivfTopK(model, indexed, "vec_id", "embedding", qv,
      k = 10, nProbe = 4).select("vec_id").as[Long].collect().toSet
    val brute = SpecOracles.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qe")), 10)
      .select("vec_id").as[Long].collect().toSet
    // query itself always found (its own cell is the nearest centroid)
    assert(ivf.contains(0L))
    // probing half the lists should recover most of the true top-10
    assert((ivf intersect brute).size >= 5, s"recall too low: $ivf vs $brute")
  }

  test("LSH near pairs: identical vectors share a bucket with sim 1") {
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => i.toFloat / 16)),
      (1L, Array.tabulate(16)(i => i.toFloat / 16)),
      (2L, Array.tabulate(16)(i => -i.toFloat / 16)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearPairs(vecs, "vec_id", "embedding",
      minSim = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("LSH hot-bucket cap: hotness reads the collapse, an explicit cap keeps " +
      "genuine clusters") {
    // 40 identical "template" vectors (signature collapse — their bucket's
    // pair set is a disguised cross join), a 3-member genuine cluster in a
    // different direction, and 5 alternating-sign singletons
    val template = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => (j + 1).toFloat)))
    val cluster = (100L until 103L).map(i =>
      (i, Array.tabulate(8)(j => if (j % 2 == 0) -2f else 1f)))
    val singles = (200L until 205L).map(i =>
      (i, Array.tabulate(8)(j =>
        if ((j + i) % 3 == 0) -(j + 7).toFloat else (i % 5 + j).toFloat)))
    val vecs = (template ++ cluster ++ singles).toDF("vec_id", "embedding")
    // at the joins' 4 lattice bits the template, the cluster and the
    // singletons sit in different buckets (singletons share buckets in
    // pairs, below cosine 0.99)
    val sig = (template ++ cluster ++ singles).map { case (i, v) =>
      i -> SpecOracles.latticeSignature(v, 4, 0) }.toMap
    assert(singles.forall(s => sig(s._1) != sig(0L) && sig(s._1) != sig(100L)))
    assert(sig(0L) != sig(100L))

    // the diagnostic's hottest row IS the collapsed bucket
    val hot = Similarity.bucketHotness(vecs, "vec_id", "embedding")
      .as[(Long, Long)].collect()
    assert(hot.head._1 == 40L, s"hottest m: ${hot.head}")
    assert(hot.exists(_._1 == 3L), s"cluster bucket missing: ${hot.toSeq}")

    val clusterPairs = (for {
      a <- 100L until 103L; b <- (a + 1) until 103L
    } yield (a, b)).toSet

    // explicit cap below the template size: the collapsed bucket produces
    // no pairs, the genuine cluster's pairs all survive
    val capped = Similarity.lshNearPairs(vecs, "vec_id", "embedding",
        minSim = 0.99, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == clusterPairs, s"capped: $capped")

    // cap off (default): superset — the template bucket's quadratic pair
    // set is back, identical vectors at sim 1
    val off = Similarity.lshNearPairs(vecs, "vec_id", "embedding",
        minSim = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(off.size == clusterPairs.size + 40 * 39 / 2, s"off size: ${off.size}")
  }

  /** 40 vectors: a 12-member near-cluster around one random direction
    * (cosine ≈ 0.99 to each other) and 28 random fillers. */
  private def lshVectors(seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val base = Array.tabulate(16)(_ => rnd.nextGaussian().toFloat)
    (0L until 40L).map { i =>
      val v =
        if (i < 12L) base.zipWithIndex.map { case (x, j) =>
          x + (0.05 * ((i * 7 + j) % 5 - 2)).toFloat }
        else Array.tabulate(16)(_ => rnd.nextGaussian().toFloat)
      (i, v)
    }
  }

  test("multi-table LSH: table 0 reproduces the single table, OR lifts " +
    "recall, pairs deduped") {
    // with 4 bits per table some near pairs land in different buckets in
    // one table but collide in the other — the second table can only ADD
    // pairs
    val raw = lshVectors(11)
    val vecs = raw.toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val single = pairsOf(Similarity.lshNearPairs(vecs, "vec_id",
      "embedding", minSim = 0.9))
    val two = pairsOf(Similarity.lshNearPairsTables(vecs, "vec_id",
      "embedding", minSim = 0.9))
    // monotone recall: every single-table pair survives
    assert(single.toSet.subsetOf(two.toSet), "2-table lost pairs")
    // OR-dedup: no (id_a, id_b) appears twice even when both tables agree
    assert(two.distinct.size == two.size, "pairs must be deduped")
    // the driver-side OR-construction: a collision in table 0 or table 1,
    // verified by exact cosine
    val v = raw.toMap
    def sig(i: Long, t: Int) = SpecOracles.latticeSignature(v(i), 4, t)
    val want = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if sig(a, 0) == sig(b, 0) || sig(a, 1) == sig(b, 1)
      if SpecOracles.cosine(v(a), v(b)) >= 0.9
    } yield (a, b)).toSet
    assert(two.toSet == want, s"extra=${two.toSet -- want} " +
      s"missing=${want -- two.toSet}")
    val wantSingle = want.filter { case (a, b) => sig(a, 0) == sig(b, 0) }
    assert(single.toSet == wantSingle)
  }

  test("multi-probe LSH: equals the declarative Hamming<=1 predicate, " +
    "no duplicates, home pairs kept") {
    val raw = lshVectors(13)
    val vecs = raw.toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq

    // driver-side reference: the lattice signatures, pairs at Hamming
    // <= 1, verified by exact cosine — the declarative form
    val v = raw.toMap
    val sigs = v.map { case (i, x) => i -> SpecOracles.latticeSignature(x, 4, 0) }
    for (minSim <- Seq(0.9, 0.1)) {
      val want = (for {
        a <- 0L until 40L; b <- (a + 1) until 40L
        if SpecOracles.hamming64(sigs(a), sigs(b)) <= 1
        if SpecOracles.cosine(v(a), v(b)) >= minSim
      } yield (a, b)).toSet
      val got = pairsOf(Similarity.lshNearPairsMultiProbe(vecs, "vec_id",
        "embedding", minSim = minSim))
      assert(got.distinct.size == got.size,
        "each qualifying pair must be emitted exactly once")
      assert(got.toSet == want, s"multiprobe != Hamming<=1 reference at " +
        s"$minSim: extra=${got.toSet -- want} missing=${want -- got.toSet}")
      // the probe set can only ADD pairs over the single table
      val single = pairsOf(Similarity.lshNearPairs(vecs, "vec_id",
        "embedding", minSim = minSim))
      assert(single.toSet.subsetOf(got.toSet), "probing lost home pairs")
    }

    // scale shape: the candidate join is an equi-join on the bucket —
    // never a cartesian/nested-loop (the Hamming predicate must be
    // reached through probe-bucket expansion, not pair enumeration)
    val plan = Similarity.lshNearPairsMultiProbe(vecs, "vec_id",
      "embedding", minSim = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"multiprobe plan degenerated to pair enumeration:\n$plan")
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val nodes = (1L to n.toLong).toDF("id")
      val pairEdges = (1 to n).map { _ =>
        val a = rnd.nextInt(n).toLong + 1; val b = rnd.nextInt(n).toLong + 1
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val pairs = pairEdges.toDF("id_a", "id_b")
      // both dispatch arms must agree with union-find: the driver-side
      // fast path (default limit) and the iterative label propagation
      // (limit 0 forces it)
      val got = graft.operators.Dedup.connectedComponents(nodes, "id", pairs)
        .as[(Long, Long)].collect().toMap
      val gotIter = graft.operators.Dedup.connectedComponents(nodes, "id",
          pairs, broadcastEdgeLimit = 0)
        .as[(Long, Long)].collect().toMap
      // reference union-find
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairEdges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val expect = (1L to n.toLong).map(i => i -> find(i)).toMap
      // normalize: cluster label must be the min member either way
      assert(got == expect, s"trial $trial")
      assert(gotIter == expect, s"trial $trial (iterative)")
    }
  }

  test("embeddingNearDup flags later near-neighbors, earliest wins") {
    import spark.implicits._
    // 0, 1, 2 nearly collinear (same LSH bucket, cos ≈ 1); 3 orthogonal
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f)),
      (1L, Array(0.99f, 0.0f, 0.1f)),
      (2L, Array(1.01f, 0.0f, 0.1f)),
      (3L, Array(0.0f, 1.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDup(vecs, "vec_id", "embedding",
      minSim = 0.99)
      .as[(Long, Boolean, Long)].collect().toSet
    assert(got == Set((0L, false, -1L), (1L, true, 0L), (2L, true, 0L),
      (3L, false, -1L)))
  }

  test("boilerplateSpans counts corpus-repeated spans per doc") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon" // one shared 5-gram
    val docs = Seq(
      (0L, s"$shared zeta"),   // spans: shared+1 more, 1 boiler
      (1L, s"eta $shared"),    // spans: shared+1 more, 1 boiler
      (2L, "one two three four five six"), // 2 spans, 0 boiler
      (3L, "   ")              // filtered out
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateSpans(docs, "doc_id", "text")
      .select("doc_id", "n_distinct", "n_boiler")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 2L, 1L), (1L, 2L, 1L), (2L, 2L, 0L)))
    // both orders of the shared span's neighbors stay distinct spans; the
    // ratio column mirrors n_boiler / n_distinct
    val ratios = Dedup.boilerplateSpans(docs, "doc_id", "text")
      .select("doc_id", "boiler_ratio").as[(Long, Double)].collect().toMap
    assert(ratios(0L) == 0.5 && ratios(2L) == 0.0)
  }

  test("meanPool computes exact per-position means, any partitioning") {
    import spark.implicits._
    val vs = Seq((0, Seq(1.0f, -2.0f)), (0, Seq(3.0f, 4.0f)), (1, Seq(0.5f, 0.25f)))
      .toDF("label", "embedding").repartition(5)
    val got = Similarity.meanPool(vs, "label", "embedding")
      .select("grp", "pos", "n", "sum_u", "mean_v")
      .as[(Int, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (0, 0L, 2L, 4000000L, 2.0), (0, 1L, 2L, 2000000L, 1.0),
      (1, 0L, 1L, 500000L, 0.5), (1, 1L, 1L, 250000L, 0.25)))
  }

  test("prefixJaccardPairs equals the unfiltered shingle join") {
    import spark.implicits._
    val d = (0L until 40L).map { i =>
      val body = (1 to 25).map(j => s"tk${(i * 31 + j * 7) % 211}").mkString(" ")
      // make docs 2k/2k+1 near-identical, others unrelated
      (i, if (i % 2 == 1) {
        val prev = (1 to 25).map(j => s"tk${((i - 1) * 31 + j * 7) % 211}").mkString(" ")
        prev + " tail"
      } else body)
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(d, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force: all-pairs distinct-shingle jaccard at the same threshold
    val toks = d.select(col("doc_id"),
        explode(graft.functions.TextFunctions.charShingles(
          graft.functions.TextFunctions.normalize(col("text")), 8)).as("s"))
      .distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val expected = toks.as("x").join(toks.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("ni"))
      .join(sizes.as("sx"), col("a") === col("sx.doc_id"))
      .join(sizes.as("sy"), col("b") === col("sy.doc_id"))
      .filter(col("ni") * 5 >= (col("sx.n") + col("sy.n") - col("ni")) * 3)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
    assert(got.forall { case (a, b) => b == a + 1 && a % 2 == 0 })
  }

  test("prefix cap recall bound: clusters larger than the cap are missed, raising the cap recovers them") {
    import spark.implicits._
    // a 27-member exact-dup cluster: every shingle of every member is in
    // all 27 documents' prefixes, i.e. prefix-hot beyond the default cap
    // of 20 — the documented recall bound, not a bug. Unrelated docs with
    // their own vocabulary are unaffected either way.
    val template = (1 to 40).map(j => s"base${j * 13 % 101}").mkString(" ")
    val cluster = (0L until 27L).map(i => (i, template))
    val others = (100L until 110L).map(i =>
      (i, (1 to 40).map(j => s"solo${i}w$j").mkString(" ")))
    val d = (cluster ++ others).toDF("doc_id", "text")
    val capped = Dedup.prefixJaccardPairs(d, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty) // all 351 qualifying pairs lost to the cap
    // cap above the cluster size -> exact recall (27 choose 2 pairs)
    val raised = Dedup.prefixJaccardPairs(d, "doc_id", "text",
      maxDocsPerTok = 30)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(raised.size == 351 &&
      raised == (for (a <- 0L until 27L; b <- a + 1 until 27L)
        yield (a, b)).toSet)
  }

  test("skew injection: 200-member near-dup mega-cluster + corpus-hot " +
      "boilerplate — recall at cap {5,20,diagnostic}, chain recovery") {
    import spark.implicits._
    // the r12 judge's rehearsal shape in unit form: one near-dup cluster
    // LARGER than any cap a sane default would pick (200 members, each
    // one word off the template), a boilerplate phrase in EVERY document
    // (corpus-hot shingles), 60 unrelated docs, and a 12-member
    // pure-boilerplate exact-dup cluster (the docs that are ONLY the
    // boilerplate — the realistic cookie-banner page)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 3000).map(i => f"w$i%04dx${(i * 11) % 89}")
    val boiler = "accept all cookies terms of service privacy policy"
    val template = Vector.tabulate(24)(_ => vocab(rnd.nextInt(vocab.length)))
    val mega = (0L until 200L).map { m =>
      val words =
        if (m == 0) template
        else template.updated((m % 24).toInt, s"uniq${m}z${m * 3}")
      (m, words.mkString(" ") + " " + boiler)
    }
    val unrelated = (1000L until 1060L).map(i =>
      (i, (0 until 24).map(j => s"solo${i}q$j").mkString(" ") + " " + boiler))
    val pureBoiler = (2000L until 2012L).map(i => (i, boiler))
    val all = mega ++ unrelated ++ pureBoiler
    val d = all.toDF("doc_id", "text")

    // ground truth by brute force over the SAME normalize+shingle
    // semantics (lower/trim/ws-collapse; distinct char 8-grams; the
    // integer 5·I >= 3·U threshold)
    def sh(s: String): Set[String] =
      s.trim.toLowerCase.replaceAll("\\s+", " ").sliding(8).toSet
    val sets = all.map { case (id, t) => id -> sh(t) }.toMap
    val ids = all.map(_._1).toVector
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      inter = (sets(ids(i)) & sets(ids(j))).size
      union = sets(ids(i)).size + sets(ids(j)).size - inter
      if 5 * inter >= 3 * union
    } yield (ids(i), ids(j))).toSet
    val megaTruth = truth.filter { case (a, b) => a < 1000L && b < 1000L }
    val boilerTruth = truth.filter { case (a, b) => a >= 2000L && b >= 2000L }
    assert(megaTruth.size == 199 * 100) // C(200,2): all members mutual dups
    assert(boilerTruth.size == 66) // C(12,2) exact dups
    assert(truth == megaTruth ++ boilerTruth) // unrelated docs pair nothing

    def found(cap: Int): Set[(Long, Long)] =
      Dedup.prefixJaccardPairs(d, "doc_id", "text", maxDocsPerTok = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // cap 5 / default 20: the mega cluster exceeds both — recall
    // COLLAPSES but is not exactly zero (tokens at each member's prefix
    // CUT boundary land in only a few members' prefixes, so their
    // prefix-nd is small even though their corpus dfreq is ~200; pairs
    // found through them are verified-true — the cap costs recall, never
    // precision). The 12-way boilerplate cluster fits under 20 only.
    val at5 = found(5)
    assert(at5.subsetOf(truth)) // exact verification: no false positives
    val recall5 = at5.intersect(megaTruth).size.toDouble / megaTruth.size
    assert(recall5 < 0.10, s"cap5 mega recall $recall5")
    assert(at5.intersect(boilerTruth).isEmpty) // boiler prefix-nd = 12 > 5
    val at20 = found(20)
    assert(at20.subsetOf(truth))
    assert(at20.intersect(boilerTruth) == boilerTruth)
    val recall20 = at20.intersect(megaTruth).size.toDouble / megaTruth.size
    assert(recall20 < 0.10, s"cap20 mega recall $recall20")

    // recovery arm 1 — chain union at LOW cap: the exact-dup chain
    // (hash-groupBy, no cap anywhere) returns every EXACT-dup cluster's
    // pairs, so union(exact, capped-prefix) recovers the boilerplate
    // cluster without touching the cap; it cannot recover the near-dup
    // mega pairs (members differ), which need arm 2
    val fp = d.select(col("doc_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("h"))
    val exactPairs = fp.as("a")
      .join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert((at5 ++ exactPairs).intersect(boilerTruth) == boilerTruth)
    assert(exactPairs.intersect(megaTruth).isEmpty) // near-dups: arm 2's job

    // recovery arm 2 — cluster-size-aware cap raise, with the cap read
    // off the prefixHotness diagnostic instead of guessed: the hottest
    // prefix-nd is the mega cluster (~200), NOT the corpus-hot
    // boilerplate (272 docs) — prefixes exclude boilerplate shingles in
    // every doc that has any content of its own, so the diagnostic is
    // not inflated by template noise
    val hot = Dedup.prefixHotness(d, "doc_id", "text")
      .as[(Long, Long)].collect()
    val maxNd = hot.map(_._1).max
    // the hottest prefix token sits in MOST of the mega cluster's 200
    // prefixes (not all — the per-member prefix cut shifts slightly with
    // each member's unique word), and far below the 272-doc corpus: the
    // diagnostic reads the cluster, not the boilerplate
    assert(maxNd >= 150L && maxNd <= 200L, s"maxNd=$maxNd")
    // cap = maxNd drops NOTHING (every prefix token has nd <= maxNd by
    // definition), and the prefix filter alone is lossless — full
    // recall, exact verification untouched
    val raised = found(maxNd.toInt)
    assert(raised == truth)
  }

  test("containmentPairs: quote-in-article found directed, Jaccard misses it, cap binds") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog again and again"
    val tail = (1 to 60).map(j => s"unique${j}filler").mkString(" ")
    val d = Seq(
      (1L, quote),              // sub: every shingle appears in doc 2
      (2L, quote + " " + tail), // sup: long article embedding the quote
      (3L, (1 to 40).map(j => s"other${j}stuff").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text")
      .select(col("id_sub").as[Long], col("id_sup").as[Long],
        col("cont_r").as[Double]).collect()
    // directed: 1 ⊂ 2 at containment 1.0; the reverse direction fails
    // (2's shingles are mostly outside 1) and doc 3 pairs with nobody
    assert(got.toSeq == Seq((1L, 2L, 1.0)), got.toSeq)
    // Jaccard at its 3/5 threshold can't see the pair — the union is
    // dominated by the long doc
    val jacc = Dedup.prefixJaccardPairs(d, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(jacc.isEmpty, jacc.toSeq)
    // cap 1: the sub-sup witness shingles have dfreq 2 > 1 — documented
    // recall bound, same contract as the Jaccard prefix cap
    val capped = Dedup.containmentPairs(d, "doc_id", "text",
      maxDocsPerTok = 1)
      .select("id_sub", "id_sup").as[(Long, Long)].collect()
    assert(capped.isEmpty, capped.toSeq)
  }

  test("containmentPairsOneSided: quote-in-doc pairs via the rarest-k " +
      "probe, exact verify, explicit cap (r20)") {
    import spark.implicits._
    // the casym shape in miniature: 30 tiny quotes (subs), each embedded
    // verbatim in one long article (sups) whose filler dominates the
    // union — word-shingle Jaccard ≈ 0.04, containment 1.0. The quote
    // shingles sit at dfreq 2 (quote + its article), so the one-sided
    // probe finds every pair from the SUB side's own rarest shingles.
    val plants = (0 until 30).map { i =>
      val quote = (1 to 12).map(j => s"qt${i}w${j}x${(i * j) % 37}")
        .mkString(" ")
      val filler = (1 to 280).map(j => s"fl${i}v$j").mkString(" ")
      (100L + i, quote, 1000L + i, quote + " " + filler)
    }
    val lone = (5000L until 5040L).map(i =>
      (i, (1 to 50).map(j => s"ln${i}u$j").mkString(" ")))
    val d = (plants.map(p => (p._1, p._2)) ++
      plants.map(p => (p._3, p._4)) ++ lone).toDF("doc_id", "text")
    val want = plants.map(p => (p._1, p._3)).toSet

    // the default cap (20, the oracle-mirrorable shape q259 runs)
    val cappedDf = Dedup.containmentPairsOneSided(d, "doc_id", "text")
    val cappedPlan = cappedDf.queryExecution.optimizedPlan.toString
    assert(cappedPlan.contains("rarest_min_k") &&
      !cappedPlan.contains("prefix_min_k"),
      s"one-sided probe marker missing:\n$cappedPlan")
    val got = cappedDf
      .select("id_sub", "id_sup").as[(Long, Long)].collect().toSet
    assert(want.subsetOf(got), s"missing=${(want -- got).toSeq.sorted}")
    // precision is the shared exact verify's: every emitted pair is a
    // true ≥3/4 containment — here only the planted pairs exist
    assert(got == want, s"extra=${(got -- want).toSeq.sorted}")
    // cap 1 starves the dfreq-2 witnesses — the documented capped-recall
    // contract, same as the exact join's
    val starved = Dedup.containmentPairsOneSided(d, "doc_id", "text",
      maxDocsPerTok = 1)
      .select("id_sub", "id_sup").as[(Long, Long)].collect().toSet
    assert(starved.isEmpty, starved)
  }

  test("a zero cap fails loudly on every capped join") {
    // a cap of 0 keeps no token and no bucket, so it would silently return
    // no pairs; each join refuses it before building anything
    val vecs = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Seq[() => DataFrame](
      () => Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        maxDocsPerTok = 0),
      () => Dedup.containmentPairs(docs, "doc_id", "text", maxDocsPerTok = 0),
      () => Dedup.containmentPairsOneSided(docs, "doc_id", "text",
        maxDocsPerTok = 0),
      () => Similarity.lshNearPairs(vecs, "vec_id", "embedding",
        minSim = 0.9, maxBucket = 0)
    ).foreach(join => intercept[IllegalArgumentException](join()))
  }

  test("route complementarity: rarest-k is adversarially blind to " +
      "near-identical families, bands to asymmetric quotes — the union " +
      "route covers both (r20)") {
    import spark.implicits._
    // ONE corpus carrying both failure shapes. Family: 40 docs sharing
    // a 120-word core, each with a TEN-word unique tail — the tail
    // spans ≥ 60 unique char-8 shingles (dfreq 1), so every member's
    // rarest-8 probe is entirely its own tail, which is exactly the
    // shingle set MISSING from every other member: the one-sided probe
    // generates no within-family candidates at all. (A one-WORD tail is
    // NOT adversarial — it spans < 8 unique shingles and the probe
    // spills into dfreq-40 core shingles, which is also worth knowing:
    // blindness needs the unique region to outspan the probe.) The
    // tails stay ≤ 8% of the doc so containment holds at 3/4. Quote: a
    // 12-word sub inside a 288-word sup — word-3-shingle J ≈ 0.034,
    // below the banded chain's resolution (per-band collision ≈ J²;
    // this fixed corpus measurably misses all 8 bands — the minhash
    // lanes are deterministic md5, so the outcome is pinned by the
    // fixture, matching the 0.2% recall measured at 300k).
    val core = (0 until 120).map(i => f"fam$i%03d").mkString(" ")
    val family = (0L until 40L).map(i =>
      (i, core + " " + (0 until 10).map(k => s"tl${i}q$k").mkString(" ")))
    val quote = (1 to 12).map(j => s"aq${j}z${j * 11 % 29}").mkString(" ")
    val filler = (1 to 288).map(j => s"af${j}k").mkString(" ")
    val d = (family ++ Seq((900L, quote), (901L, quote + " " + filler)))
      .toDF("doc_id", "text")

    def sh(s: String): Set[String] =
      s.trim.toLowerCase.replaceAll("\\s+", " ").sliding(8).toSet
    val sets = (family ++ Seq((900L, quote), (901L, quote + " " + filler)))
      .map { case (id, t) => id -> sh(t) }.toMap
    val famTruth = (for {
      a <- family.map(_._1).iterator
      b <- family.map(_._1)
      if a != b
      if 4 * (sets(a) & sets(b)).size >= 3 * sets(a).size
    } yield (a, b)).toSet
    assert(famTruth.size == 40 * 39, s"fixture drift: ${famTruth.size}")
    val truth = famTruth + ((900L, 901L))

    val oneSided = Dedup.containmentPairsOneSided(d, "doc_id", "text")
      .select("id_sub", "id_sup").as[(Long, Long)].collect().toSet
    assert(oneSided.contains((900L, 901L)),
      "one-sided probe lost its own headline class (the quote)")
    assert(oneSided.intersect(famTruth).isEmpty,
      s"fixture no longer adversarial for rarest-k: " +
        s"${oneSided.intersect(famTruth).take(5)}")

    // q261's banded generator (md5 lanes, 8 bands of 2), before the
    // both-directions emit and the verify: an unordered candidate pair,
    // so a family pair missing here is lost to the banded leg, and the
    // quote may not even be a candidate
    val bandedSym = Dedup.minhashCandidatesPortable(d, "doc_id", "text",
      bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = bandedSym ++ bandedSym.map(_.swap)
    assert(famTruth.subsetOf(banded),
      s"banded leg lost family pairs: ${(famTruth -- banded).take(5)}")
    assert(!banded.contains((900L, 901L)),
      "fixture no longer adversarial for the bands (quote collided); " +
        "change the filler vocabulary to restore the pinned miss")

    // q261's union (md5 lanes + explicit one-sided cap) covers both
    // shapes, and verifies once against the same threshold — nothing
    // beyond the truth set can survive
    val union = Dedup.containmentUnionPortable(d, "doc_id", "text")
      .select("id_sub", "id_sup").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(union),
      s"union lost pairs: ${(truth -- union).take(5)}")
    assert(union == truth, s"extra=${(union -- truth).take(5)}")
  }

  test("sharedPassagePairs finds the copied span, not unrelated docs") {
    import spark.implicits._
    // a ~250-char distinctive passage shared by docs 1 and 2 with
    // different surroundings; docs 3 and 4 share nothing
    val passage = (1 to 30).map(i => s"wq${i}xv${i * 7 % 97}").mkString(" ")
    val d = Seq(
      (1L, s"$passage unique closing words for the first document here"),
      (2L, s"a completely different opening sentence then $passage"),
      (3L, "standalone text about nothing shared with anything else at all"),
      (4L, "another independent document with its own private vocabulary")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedPassagePairs(d, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("lineDedup: corpus-hot lines dropped, order kept, within-doc repeats survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared header\nbody one\nbody one\ntail one"),
      (2L, "shared header\nbody two"),
      (3L, "shared header")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text")
      .select(col("doc_id").as[Long], col("text_clean").as[String],
        col("n_lines").as[Long], col("n_dropped").as[Long])
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // a line repeated WITHIN one doc is not corpus-hot (distinct-doc count
    // 1) and survives with its multiplicity and order intact
    assert(got(1L) == (("body one\nbody one\ntail one", 4L, 1L)))
    assert(got(2L) == (("body two", 2L, 1L)))
    // all-boilerplate doc stays present, empty
    assert(got(3L) == (("", 1L, 1L)))
  }

  test("duplicatedSpanRemoval: shared passage excised, overlap merged, unique text kept in order") {
    import spark.implicits._
    // Docs 1 and 2 share the 7-word passage "the quick brown fox jumps over
    // fences" (three overlapping hot 5-grams merge into ONE covered span);
    // their unique prefix/suffix tokens survive in order. Doc 3 is unique
    // and untouched; doc 4 is entirely the shared passage → fully dropped;
    // doc 5 is shorter than one gram → no grams, untouched.
    val p = "The quick brown fox jumps over fences"
    val docs = Seq(
      (1L, s"alpha beta $p gamma"),
      (2L, s"$p delta epsilon zeta"),
      (3L, "a wholly unique document with original words"),
      (4L, p),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanRemoval(docs, "doc_id", "text")
      .select(col("doc_id").as[Long], col("n_tokens").as[Long],
        col("n_dropped").as[Long], col("text_clean").as[String])
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((10L, 7L, "alpha beta gamma")))
    assert(got(2L) == ((10L, 7L, "delta epsilon zeta")))
    assert(got(3L) == ((7L, 0L, "a wholly unique document with original words")))
    assert(got(4L) == ((7L, 7L, "")))
    assert(got(5L) == ((2L, 0L, "tiny doc")))
  }

  test("editDistanceJoin equals brute-force levenshtein<=1 on random-ish strings") {
    import spark.implicits._
    val strs = Seq("alpha", "alphb", "alpha1", "lpha", "beta", "betas",
      "gamma", "gamm", "gamme", "delta", "dleta", "x", "", "xy")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
    val got = Dedup.editDistanceJoin(df, "id", "s")
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Long)]
      .collect().toSet
    val brute = (for {
      (a, i) <- strs.zipWithIndex; (b, j) <- strs.zipWithIndex
      if i < j
      d = {
        // classic DP levenshtein
        val m = Array.tabulate(a.length + 1, b.length + 1) { (x, y) =>
          if (x == 0) y else if (y == 0) x else 0 }
        for (x <- 1 to a.length; y <- 1 to b.length)
          m(x)(y) = math.min(math.min(m(x - 1)(y) + 1, m(x)(y - 1) + 1),
            m(x - 1)(y - 1) + (if (a(x - 1) == b(y - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      if d <= 1
    } yield (i.toLong, j.toLong, d.toLong)).toSet
    assert(got == brute)
  }

  test("hardNegatives: similar-but-not-duplicate wins; near-dup and self excluded") {
    import spark.implicits._
    // anchor 0; vec 1 is a near-identical copy (near-dup → excluded);
    // vec 2 points the same general direction (the hard negative);
    // vec 3 is orthogonal (easy negative); vec 4 is opposite. At the
    // joins' 4 lattice bits vec 0 and vec 1 share a bucket, so the
    // exclusion sees the near-dup pair.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(vecs, "vec_id", "embedding",
        anchorIds = Seq(0L), k = 3, minSim = 0.9)
      .select(col("negative").as[Long], col("rnk").as[Long]).collect()
      .map(r => r._2 -> r._1).toMap
    // rank 1 = the hard negative (sim 0.8), never the near-dup or self
    assert(got(1L) == 2L)
    assert(!got.values.toSet.contains(0L) && !got.values.toSet.contains(1L))
    // remaining ranks follow cosine order: orthogonal, then opposite
    assert(got(2L) == 3L && got(3L) == 4L)
  }

  test("leakageSafeSplit: cluster members share a split; buckets ~uniform") {
    import spark.implicits._
    // 3000 nodes, every pair (2k, 2k+1) a near-dup edge → 1500 clusters
    val nodes = (0L until 3000L).toDF("doc_id")
    val pairs = (0L until 3000L by 2).map(a => (a, a + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.connectedComponents(nodes, "doc_id", pairs)
    val split = Dedup.leakageSafeSplit(clusters)
    // leakage-safety: both members of every pair landed in the same split
    val byDoc = split.select(col("doc_id").as[Long], col("split").as[String])
      .collect().toMap
    (0L until 3000L by 2).foreach(a => assert(byDoc(a) == byDoc(a + 1)))
    // determinism: a re-run assigns identical splits
    val again = Dedup.leakageSafeSplit(clusters)
      .select(col("doc_id").as[Long], col("split").as[String]).collect().toMap
    assert(again == byDoc)
    // ~uniform at the CLUSTER level: 1500 clusters at 204/26/26 in 256ths
    val perSplit = split.groupBy("split").agg(
      countDistinct(col("cluster")).as[Long]).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSplit("train") > 1000 && perSplit("val") > 50 && perSplit("test") > 50)
    assert(perSplit.values.sum == 1500)
  }

  test("randomProjection: exact integer reference, determinism, no shuffle") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(-1.5f, 2.0f, 0.125f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // driver-side reference: same quantization, same coefficient lattice
    def ref(v: Array[Float], i: Int): Long =
      v.zipWithIndex.map { case (x, j) =>
        math.floor(x.toDouble * 1e6 + 0.5).toLong *
          ((31L * i + 17L * j + 13L * i * j) % 67 % 7 - 3)
      }.sum
    Seq((1L, Array(0.5f, -0.25f, 1.0f)), (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(-1.5f, 2.0f, 0.125f))).zip(out).foreach {
      case ((id, v), row) =>
        assert(row.getLong(0) == id)
        (0 until 8).foreach { i =>
          assert(row.getLong(1 + i) == ref(v, i), s"vec $id dim $i")
        }
    }
    // zero vector projects to exactly zero in every dim
    assert((1 to 8).forall(i => out(1).getLong(i) == 0L))
    // non-degeneracy: a purely additive lattice ((31i+17j) mod 7) is a
    // function of (i+j) mod 7 — unit vectors 7 apart collide and row p7
    // repeats p0; the bilinear term must prevent both
    val units = Seq(
      (0L, Array.tabulate(16)(j => if (j == 0) 1.0f else 0.0f)),
      (7L, Array.tabulate(16)(j => if (j == 7) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val us = Similarity.randomProjection(units, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert((1 to 8).exists(i => us(0).getLong(i) != us(1).getLong(i)),
      "e0 and e7 must project differently")
    val ramp = Seq((0L, Array.tabulate(16)(j => (j + 1) * 0.1f)))
      .toDF("vec_id", "embedding")
    val rp = Similarity.randomProjection(ramp, "vec_id", "embedding")
      .collect()(0)
    assert(rp.getLong(8) != rp.getLong(1), "p7 must not repeat p0")
    // map-only: no Exchange at any corpus size
    val plan = Similarity.randomProjection(vecs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("crossGroupPairMatrix: unordered labels, shares, is_cross flag") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    val docs = Seq((1L, "web"), (2L, "web"), (3L, "books"), (4L, "news"),
      (5L, "books")).toDF("doc_id", "source")
    val got = Dedup.crossGroupPairMatrix(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getAs[String]("src_a"),
        r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("share_r"),
          r.getAs[Boolean]("is_cross"))).toMap
    // (1,3) and (2,3) normalize to books-web via least/greatest,
    // (4,5) is books-news, (1,2) stays within-web
    assert(got == Map(
      ("books", "web") -> ((2L, 0.5, true)),
      ("books", "news") -> ((1L, 0.25, true)),
      ("web", "web") -> ((1L, 0.25, false))))
  }

  test("LSH candidate size dispatch: recompute path (huge stats) == checkpoint path") {
    // A DataFrame rebuilt from a raw RDD gets the planner's default size
    // estimate (Long.MaxValue-ish), which flips candidatesFromBanded's
    // 512 MB input bound to the recompute branch — the 100 TB shape. The
    // candidate set must be identical to the checkpointing branch the
    // small LocalRelation input takes.
    val hugeStats = spark.createDataFrame(docs.rdd, docs.schema)
    assert(hugeStats.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(512L << 20), "RDD-backed input must exceed the dispatch bound")
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(512L << 20), "LocalRelation input must stay under the bound")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidatesPortable(d, "doc_id", "text", bands = 8)
        .as[(Long, Long)].collect().toSet
    assert(run(hugeStats) == run(docs))
  }
}
