package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---- chunkWithOverlap -------------------------------------------------

  test("chunking: doc shorter than window yields exactly one full-doc chunk") {
    val out = Corpus.chunkWithOverlap(docs(1L -> "a b c"), "doc_id", "text",
        size = 64, stride = 48)
      .select("chunk_idx", "chunk_tok", "first_tok")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 3L, "a")))
  }

  test("chunking: window boundaries, overlap, and tail coverage") {
    // 10 tokens, size 4, stride 3 → ceil((10-4)/3)=2 extra chunks →
    // starts 1,4,7; the k=2 chunk covers tokens 7..10, so no 4th chunk
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val out = Corpus.chunkWithOverlap(docs(1L -> text), "doc_id", "text",
        size = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tok", "first_tok")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 4L, "w1"), (1L, 4L, "w4"), (2L, 4L, "w7")))
  }

  test("chunking: a stride-misaligned tail gets its own short chunk") {
    // 11 tokens, size 4, stride 3 → ceil((11-4)/3)=3 extras → starts
    // 1,4,7,10 → last chunk is tokens 10,11 (length 2)
    val text = (1 to 11).map(i => s"w$i").mkString(" ")
    val out = Corpus.chunkWithOverlap(docs(1L -> text), "doc_id", "text",
        size = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tok", "first_tok")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 4L, "w1"), (1L, 4L, "w4"),
      (2L, 4L, "w7"), (3L, 2L, "w10")))
  }

  test("chunking: exact multiple emits no empty tail chunk") {
    // 7 tokens, size 4, stride 3 → starts 1,4 (4+3=7 covers the tail; a
    // start at 7+ would add tokens only if 7 < n)
    val text = (1 to 7).map(i => s"w$i").mkString(" ")
    val idxs = Corpus.chunkWithOverlap(docs(1L -> text), "doc_id", "text",
        size = 4, stride = 3)
      .select("chunk_idx").as[Long].collect().toSeq.sorted
    assert(idxs == Seq(0L, 1L))
  }

  test("chunking: every token is covered and consecutive chunks overlap") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val chunks = Corpus.chunkWithOverlap(docs(1L -> text), "doc_id", "text",
        size = 16, stride = 12)
      .orderBy("chunk_idx").select("chunk_tok").as[Long].collect()
    // starts 1,13,...; last start ≤ 100; total coverage = 12*(n-1)+last ≥ 100
    assert(chunks.init.forall(_ == 16L))
    assert(12 * (chunks.length - 1) + chunks.last >= 100)
  }

  // ---- sequencePacking ---------------------------------------------------

  test("sequence packing: offsets accumulate per source, straddles counted, empty docs excluded") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(
      ("a", 1L, words(6)),   // [0,6)   pack 0
      ("a", 2L, words(3)),   // [6,9)   straddles packs 0-1 (seqLen 8)
      ("a", 3L, words(8)),   // [9,17)  straddles packs 1-2
      ("a", 4L, "   "),      // empty after trim → excluded
      ("b", 5L, words(20))). // [0,20) in its own source: packs 0-2
      toDF("source", "doc_id", "text")
    val got = Corpus.sequencePacking(df, "source", "doc_id", "text",
        seqLen = 8)
      .select($"doc_id", $"start_off", $"pack_first", $"pack_last",
        $"n_packs")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((0L, 0L, 0L, 1L)))
    assert(got(2L) == ((6L, 0L, 1L, 2L)))
    assert(got(3L) == ((9L, 1L, 2L, 2L)))
    assert(!got.contains(4L))
    assert(got(5L) == ((0L, 0L, 2L, 3L)))
  }

  test("sequence packing resolves caller column names, not literal " +
      "source/doc_id") {
    // r14 review: the window referenced the INPUT names after the
    // projection renamed them, so any non-default names crashed analysis
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(("a", 1L, words(6)), ("a", 2L, words(3)))
      .toDF("src", "id", "body")
    val got = Corpus.sequencePacking(df, "src", "id", "body", seqLen = 8)
      .select($"doc_id", $"start_off").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 6L))
  }

  // ---- waterfillAllocation ----------------------------------------------

  test("waterfill: saturated take capacity, rest split by weight, sum == budget") {
    // caps 10/40/200, weights 2/1/1, budget 150: s1 needs t*2 but has only
    // 10 → saturates (10/2=5 is the smallest ratio); remaining 140 splits
    // 1:1 → 70 each; s2 (cap 40 < 70)?? 40/1=40 ≤ t → also saturates.
    // After s1,s2 saturate: remaining 100 to s3 alone.
    val df = Seq(("s1", 10L, 2L), ("s2", 40L, 1L), ("s3", 200L, 1L))
      .toDF("source", "cap", "w").withColumn("budget", lit(150L))
    val got = Corpus.waterfillAllocation(df, "source", "cap", "w", "budget")
      .select($"source", $"is_saturated", $"alloc")
      .as[(String, Boolean, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("s1") == ((true, 10.0)))
    assert(got("s2") == ((true, 40.0)))
    assert(got("s3") == ((false, 100.0)))
    assert(got.values.map(_._2).sum == 150.0)
  }

  test("waterfill: budget above total capacity saturates everything") {
    val df = Seq(("a", 5L, 1L), ("b", 7L, 3L))
      .toDF("source", "cap", "w").withColumn("budget", lit(100L))
    val got = Corpus.waterfillAllocation(df, "source", "cap", "w", "budget")
      .select($"is_saturated", $"alloc").as[(Boolean, Double)].collect()
    assert(got.forall(_._1) && got.map(_._2).sum == 12.0)
  }

  test("waterfill: no saturation → pure weight-proportional split") {
    val df = Seq(("a", 100L, 1L), ("b", 100L, 3L))
      .toDF("source", "cap", "w").withColumn("budget", lit(40L))
    val got = Corpus.waterfillAllocation(df, "source", "cap", "w", "budget")
      .select($"source", $"is_saturated", $"alloc")
      .as[(String, Boolean, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == ((false, 10.0)) && got("b") == ((false, 30.0)))
  }

  // ---- budgetSample ------------------------------------------------------

  test("budget sample: admits docs while budget not exhausted before them") {
    val df = Seq(("s1", 1L, 10L), ("s1", 2L, 10L), ("s1", 3L, 10L),
      ("s2", 4L, 100L)).toDF("source", "doc_id", "w")
    val out = Corpus.budgetSample(df, "source", "doc_id", col("w"),
        budget = 15L)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    // s1: first doc (cum 10 < 15 before it at 0), second (cum-before 10 <
    // 15), third blocked (cum-before 20); s2's single over-budget doc still
    // admitted (budget is a low-water mark)
    assert(out.count(_._1 == "s1") == 2)
    assert(out.contains(("s2", 4L)))
  }

  test("budget sample: selection order is the deterministic hash order") {
    val df = (1L to 20L).map(i => ("s", i, 1L)).toDF("source", "doc_id", "w")
    val a = Corpus.budgetSample(df, "source", "doc_id", col("w"), 5L)
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.budgetSample(df, "source", "doc_id", col("w"), 5L)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 5)
  }

  // ---- weightedSample ------------------------------------------------------

  test("weighted sample: k-cap per group, deterministic, weight-dominant") {
    val df = ((1L to 20L).map(i => ("s1", i, 1L)) :+ (("s1", 99L, 1000000000L)))
      .toDF("source", "doc_id", "w")
    val out = Corpus.weightedSample(df, "source", "doc_id", col("w"), k = 5)
      .select("doc_id", "rk").as[(Long, Long)].collect().toMap
    assert(out.size == 5)
    // key = u^(1/w): the 1e9-weight doc's key is 1 - O(1e-9), above any
    // unit-weight draw in this fixture → it must rank first
    assert(out(99L) == 1L)
    val again = Corpus.weightedSample(df.repartition(7), "source", "doc_id",
        col("w"), k = 5)
      .select("doc_id", "rk").as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  // ---- wordEntropy --------------------------------------------------------

  test("entropy: all-distinct doc has H=log2(N) and TTR=1") {
    val out = Corpus.wordEntropy(docs(1L -> "a b c d"), "doc_id", "text")
      .select("n_tok", "n_types", "ttr_r", "entropy_r")
      .as[(Long, Long, Double, Double)].head()
    assert(out == ((4L, 4L, 1.0, 2.0)))
  }

  test("entropy: single repeated word has H=0") {
    val out = Corpus.wordEntropy(docs(1L -> "x x x x x"), "doc_id", "text")
      .select("n_types", "ttr_r", "entropy_r")
      .as[(Long, Double, Double)].head()
    assert(out == ((1L, 0.2, 0.0)))
  }

  test("entropy: exact 5e-7 rounding tie resolves half-up in integers") {
    // 13×'a' + 3 singletons in 16 tokens: µb(16)·16 − 13·µb(13) = 16000000
    // − 13·3700440 = ... lands the average EXACTLY on 0.9933925 — a 6dp
    // tie that double rounding resolves engine-dependently; the integer
    // carrier must give the half-up value deterministically
    val text = (Seq.fill(13)("a") ++ Seq("b", "c", "d")).mkString(" ")
    val out = Corpus.wordEntropy(docs(1L -> text), "doc_id", "text")
      .select("entropy_r").as[Double].head()
    val sumUb = 13L * math.round(1e6 * (math.log(13) / math.log(2)))
    val numer = math.round(1e6 * 4) * 16L - sumUb
    val expected = ((2 * numer + 16) / 32L).toDouble / 1e6
    assert(out == expected)
  }

  // ---- bigramSurprisal ----------------------------------------------------

  test("surprisal: deterministic continuations cost zero bits") {
    // corpus where every w1 has exactly one continuation → n == n_w1
    val out = Corpus.bigramSurprisal(
        docs(1L -> "a b c", 2L -> "a b c"), "doc_id", "text")
      .select("doc_id", "n_bi", "surprisal_ub", "avg_bits_r")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 0L, 0.0), (2L, 2L, 0L, 0.0)))
  }

  test("surprisal: a 50/50 branch costs exactly one bit") {
    // 'a' continues to b and c equally; docs see one 'a *' bigram each
    val out = Corpus.bigramSurprisal(
        docs(1L -> "a b", 2L -> "a c"), "doc_id", "text")
      .select("avg_bits_r").as[Double].collect().toSeq
    assert(out == Seq(1.0, 1.0))
  }

  // ---- group sketches -----------------------------------------------------

  test("group sketch equals MIN-merge of per-doc signatures (mergeability)") {
    val df = Seq((1L, "g1", "the quick brown fox jumps over the lazy dog"),
      (2L, "g1", "a completely different set of words goes here now"),
      (3L, "g2", "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "source", "text")
    val direct = Corpus.groupMinhashSketch(df, "source", "text")
      .select("source", "lane", "h").as[(String, Long, String)]
      .collect().toSet
    val fromDocs = Dedup.md5MinhashSignatures(df, "doc_id", "text")
      .join(df.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), posexplode(col("ls")).as(Seq("lane", "h")))
      .groupBy("source", "lane").agg(min("h").as("h"))
      .select("source", "lane", "h").as[(String, Long, String)]
      .collect().toSet
    assert(direct == fromDocs)
    // identical text ⇒ identical sketch, so g1/g2 agreement is ≥ the
    // shared-document fraction of g1's lanes (here: some lanes must agree)
    val est = Corpus.sketchPairSimilarity(
        Corpus.groupMinhashSketch(df, "source", "text"), "source")
      .select("n_agree").as[Long].head()
    assert(est > 0L && est <= 16L)
  }

  test("sketch similarity: identical groups estimate Jaccard 1") {
    val df = Seq((1L, "g1", "alpha beta gamma delta epsilon zeta"),
      (2L, "g2", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.sketchPairSimilarity(
        Corpus.groupMinhashSketch(df, "source", "text"), "source")
      .select("grp_a", "grp_b", "n_agree", "est_r")
      .as[(String, String, Long, Double)].head()
    assert(out == (("g1", "g2", 16L, 1.0)))
  }

  // ---- count-min sketch ----------------------------------------------------

  test("CMS estimates are one-sided: est >= exact for every heavy hitter") {
    val df = docs(1L -> "a a a a b b b c c d",
      2L -> "a a b c d e f g h i")
    val out = Corpus.cmsHeavyHitters(df, "text", k = 5)
      .select("w", "n_exact", "n_est", "overshoot")
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 5)
    assert(out.forall { case (_, exact, est, over) =>
      est >= exact && over == est - exact })
    // 'a' appears 6 times and must top the exact ranking
    assert(out.map(r => r._1 -> r._2).toMap.apply("a") == 6L)
  }

  test("CMS is exact when the vocabulary is far below the width") {
    // 4 distinct words in 4096 buckets/row: collisions essentially
    // impossible across all 4 rows → estimates equal exact counts
    val df = docs(1L -> "alpha alpha beta gamma delta delta delta")
    val out = Corpus.cmsHeavyHitters(df, "text", k = 4)
      .select("overshoot").as[Long].collect()
    assert(out.forall(_ == 0L))
  }

  test("CMS sketches merge: summed slice sketches equal the full sketch") {
    val a = docs(1L -> "x y z x", 2L -> "p q r")
    val b = docs(3L -> "x p x q", 4L -> "y y z")
    val full = Corpus.countMinSketch(a.unionByName(b)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w")), "w")
      .select("r", "bucket", "n").as[(Long, Long, Long)].collect().toSet
    val merged = Corpus.countMinSketch(a
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w")), "w")
      .unionByName(Corpus.countMinSketch(b
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w")), "w"))
      .groupBy("r", "bucket").agg(sum("n").as("n"))
      .select("r", "bucket", "n").as[(Long, Long, Long)].collect().toSet
    assert(merged == full)
  }

  // ---- incremental model maintenance --------------------------------------

  test("merged slice models equal the whole-corpus model") {
    val df = docs(1L -> "a b a b a c", 2L -> "b a b c d e",
      3L -> "a b c a b c", 4L -> "e d c b a a")
    val whole = Corpus.bigramModel(Corpus.docBigrams(df, "doc_id", "text"))
      .select("w1", "w2", "n", "n_w1")
      .as[(String, String, Long, Long)].collect().toSet
    val merged = Corpus.mergeBigramModels(Seq(
        Corpus.bigramModel(Corpus.docBigrams(
          df.filter(col("doc_id") <= 2), "doc_id", "text")),
        Corpus.bigramModel(Corpus.docBigrams(
          df.filter(col("doc_id") > 2), "doc_id", "text"))))
      .select("w1", "w2", "n", "n_w1")
      .as[(String, String, Long, Long)].collect().toSet
    assert(merged == whole)
  }

  test("PMI: disjoint perfect pairs score exactly log2(T/n) micro-bits") {
    // 6 docs "a b" + 6 docs "c d": T=12, each pair n=6 with marginals 6 →
    // PMI = log2(6·12/36) = 1 bit exactly; ties broken by (w1, w2)
    val df = ((1L to 6L).map(i => (i, "a b")) ++
      (7L to 12L).map(i => (i, "c d"))).toDF("doc_id", "text")
    val out = Corpus.pmiTopPairs(df, "doc_id", "text")
      .select("w1", "w2", "pmi_ub", "pmi_r")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(("a", "b", 1000000L, 1.0), ("c", "d", 1000000L, 1.0)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "BETA  "), (4L, "delta")).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(v1, v2, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    // normalization makes "BETA  " == "beta" → unchanged despite the edit
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "removed", 4L -> "added"))
    val v2b = Seq((2L, "beta prime")).toDF("doc_id", "text")
    val changed = Corpus.snapshotDiff(v1, v2b, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(changed(2L) == "changed")
  }

  test("temperatureRebalance: quotas sum to T, sqrt weights flatten the " +
      "head, deterministic selection") {
    import spark.implicits._
    // 800 'en', 150 'de', 50 'fr'
    val docs = ((1 to 800).map(i => (i.toLong, "en")) ++
      (801 to 950).map(i => (i.toLong, "de")) ++
      (951 to 1000).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val t2 = Corpus.temperatureRebalance(docs, "lang", "doc_id", 100L)
      .groupBy("lang").agg(max("quota").as[Long]).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights floor(√(n·10¹²)): en 28284271, de 12247448, fr 7071067,
    // W = 47602786; base 100·w DIV W = 59/25/14, the 2 leftover seats go
    // to the largest remainders (fr 40667696, de 34675150)
    assert(t2 == Map("en" -> 59L, "de" -> 26L, "fr" -> 15L))
    // the tail is boosted above its 80/15/5 proportional share
    assert(t2("fr") > 5L && t2("de") > 15L && t2("en") < 80L)
    // selection is deterministic and honors quotas exactly
    val sel = Corpus.temperatureRebalance(docs, "lang", "doc_id", 100L)
      .select(col("doc_id").as[Long]).collect().sorted
    val sel2 = Corpus.temperatureRebalance(docs.repartition(13), "lang",
      "doc_id", 100L).select(col("doc_id").as[Long]).collect().sorted
    assert(sel.length == 100 && sel.sameElements(sel2))
  }

  test("distributionDrift: zero on identical slices, positive on shift, missing cat ok") {
    import spark.implicits._
    val sliceA = (Seq.fill(60)("en") ++ Seq.fill(30)("de") ++ Seq.fill(10)("fr"))
      .zipWithIndex.map(_.swap).toDF("id", "lang")
    // identical distribution → every contribution 0
    val same = Corpus.distributionDrift(sliceA, sliceA, "lang")
      .select(col("contrib_r").as[Double]).collect()
    assert(same.forall(_ == 0.0))
    // shifted: de collapses, es appears only in B
    val sliceB = (Seq.fill(80)("en") ++ Seq.fill(5)("de") ++ Seq.fill(15)("es"))
      .zipWithIndex.map(_.swap).toDF("id", "lang")
    val drift = Corpus.distributionDrift(sliceA, sliceB, "lang")
      .select(col("lang").as[String], col("contrib_r").as[Double])
      .collect().toMap
    // PSI contributions are non-negative; shifted categories dominate
    assert(drift.size == 4 && drift.values.forall(_ >= 0.0))
    assert(drift("de") > drift("en") && drift("es") > 0.0 && drift("fr") > 0.0)
  }

  test("changelogApply: latest-per-id wins, deletes drop, inserts land") {
    import spark.implicits._
    val snap = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val log = Seq(
      (2L, 1L, "upsert", "two v1"),
      (2L, 2L, "upsert", "two v2"),   // latest wins
      (3L, 1L, "delete", null.asInstanceOf[String]),
      (4L, 1L, "upsert", "four"),     // insert
      (5L, 1L, "upsert", "five v1"),
      (5L, 2L, "delete", null.asInstanceOf[String]) // upsert then delete → gone
    ).toDF("doc_id", "seq", "op", "text")
    val got = Corpus.changelogApply(snap, log, "doc_id", "seq", "op")
      .select(col("doc_id").as[Long], col("text").as[String])
      .collect().toMap
    assert(got == Map(1L -> "one", 2L -> "two v2", 4L -> "four"))
  }

  test("knBigramModel: continuation counts and discounted probabilities, hand-checked") {
    import spark.implicits._
    // three docs "a b a b a c" (every bigram reaches the c12 ≥ 3 floor):
    // c12 ab=6 ba=6 ac=3; c1 a=9 b=6; N1+(a·)=2 N1+(b·)=1;
    // N1+(·a)=1 N1+(·b)=1 N1+(·c)=1; N1+(··)=3
    val docs = (1L to 3L).map(i => (i, "a b a b a c")).toDF("doc_id", "text")
    val got = Corpus.knBigramModel(docs, "doc_id", "text")
      .select(col("w1"), col("w2"), col("c12").as[Long], col("c1").as[Long],
        col("n_follow").as[Long], col("n_precede").as[Long],
        col("n_bigrams").as[Long], col("p_kn").as[Double])
      .as[(String, String, Long, Long, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.size == 3)
    assert(got(("a", "b"))._3 == 6 && got(("a", "b"))._4 == 9 &&
      got(("a", "b"))._5 == 2 && got(("a", "b"))._6 == 1 &&
      got(("a", "b"))._7 == 3)
    // P(b|a) = 5.25/9 + (0.75·2/9)·(1/3); P(a|b) = 5.25/6 + (0.75/6)·(1/3);
    // P(c|a) = 2.25/9 + (0.75·2/9)·(1/3)
    assert(math.abs(got(("a", "b"))._8 - 0.6388888888888888) < 1e-12)
    assert(math.abs(got(("b", "a"))._8 - 0.9166666666666666) < 1e-12)
    assert(math.abs(got(("a", "c"))._8 - 0.3055555555555556) < 1e-12)
    // interpolated KN is a proper conditional: seen mass + the unseen
    // w2=a share (0 + (0.75·2/9)·(1/3) = 1/18) sums to 1 for context 'a'
    assert(math.abs(got(("a", "b"))._8 + got(("a", "c"))._8 + 1.0 / 18 - 1.0) < 1e-12)
  }

  test("scd2Build: intervals chain, deletes close without emitting, trailing live") {
    import spark.implicits._
    val log = Seq(
      (1L, 0L, "upsert", "one v0"),   // single live version
      (2L, 0L, "upsert", "two v0"),
      (2L, 3L, "upsert", "two v1"),   // non-contiguous seqs chain by value
      (3L, 0L, "upsert", "three v0"),
      (3L, 1L, "delete", null.asInstanceOf[String]), // closes, no current row
      (4L, 5L, "delete", null.asInstanceOf[String])  // delete-only id: no rows
    ).toDF("doc_id", "seq", "op", "text")
    val got = Corpus.scd2Build(log, "doc_id", "seq", "op")
      .select(col("doc_id").as[Long], col("text").as[String],
        col("valid_from").as[Long], col("valid_to").as[Option[Long]],
        col("is_current").as[Boolean])
      .collect().map(r => (r._1, r._3) -> (r._2, r._4, r._5)).toMap
    assert(got.size == 4)
    assert(got((1L, 0L)) == (("one v0", None, true)))
    assert(got((2L, 0L)) == (("two v0", Some(3L), false)))
    assert(got((2L, 3L)) == (("two v1", None, true)))
    assert(got((3L, 0L)) == (("three v0", Some(1L), false)))
  }

  test("importanceWeights rank target-like docs above off-target docs") {
    import spark.implicits._
    // target domain speaks {alpha beta gamma}; the rest speaks {delta
    // epsilon zeta}. Two unlabeled probes, one per dialect.
    val docs = (
      (1 to 6).map(i => (i.toLong, "alpha beta gamma alpha beta", true)) ++
      (7 to 12).map(i => (i.toLong, "delta epsilon zeta delta zeta", false)) ++
      Seq((13L, "alpha gamma beta beta", false),   // looks like target
          (14L, "zeta delta epsilon zeta", false)) // doesn't
    ).toDF("doc_id", "text", "is_target")
    val w = Corpus.importanceWeights(docs, "doc_id", "text", col("is_target"))
      .select(col("doc_id").as[Long], col("importance_ub").as[Long],
        col("n_tok").as[Long]).collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(w(13L)._1 > 0 && w(14L)._1 < 0)
    assert(w(13L)._1 > w(14L)._1)
    // every doc scored, token counts exact
    assert(w.size == 14 && w(13L)._2 == 4)
    // determinism under repartitioning: exact long equality
    val w2 = Corpus.importanceWeights(docs.repartition(7), "doc_id", "text",
      col("is_target")).select(col("doc_id").as[Long],
        col("importance_ub").as[Long]).collect().toMap
    assert(w.map { case (k, v) => k -> v._1 } == w2)
  }

  test("ratioRound6 resolves exact 5e-7 ties half-up in integer arithmetic") {
    // 1/2000000 = 0.0000005 — an exact tie at 6 decimals → rounds up to 1e-6
    val out = Seq((1L, 2000000L)).toDF("n", "d")
      .select(Corpus.ratioRound6(col("n"), col("d")).as("r"))
      .as[Double].head()
    assert(out == 1e-6)
  }

  test("ratioRound6 stays exact past the old LONG carrier (r14 review class)") {
    // 2e6 · 6e12 = 1.2e19 > 2⁶³ — the former Long carrier wrapped here
    // (to a negative quotient); the DECIMAL carrier must match the
    // BigDecimal derivation of the same half-up formula exactly
    val cases = Seq((6000000000000L, 7L), (9000000000000000L, 9999991L),
      (1L, 6000000000000L))
    val got = cases.toDF("n", "d")
      .select(Corpus.ratioRound6(col("n"), col("d")).as("r"))
      .as[Double].collect().toSeq
    val want = cases.map { case (n, d) =>
      ((BigDecimal(n) * 2000000 + d) / (BigDecimal(d) * 2))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong.toDouble / 1e6
    }
    assert(got == want, s"$got vs $want")
  }

  // ---- repetitionGate (Gopher) ------------------------------------------

  /** Driver-side reference of the Gopher stats — independent plain-Scala
    * derivation of the same contract the DuckDB oracle mirrors. */
  private def refGate(id: Long, text: String): (Long, Long, Long, Seq[Long], Seq[Long], Seq[Long]) = {
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val normChars = toks.mkString(" ").codePointCount(0, toks.mkString(" ").length).toLong
    val ns = Seq(2, 3, 4, 5, 10)
    val perN = ns.map { n =>
      if (toks.length < n) (0L, 0L, 0L)
      else {
        val counts = toks.sliding(n).map(_.mkString(" ")).toSeq
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        // toSeq first: mapping a Map to (count, len) pairs would collapse
        // equal counts into one Map key and keep an arbitrary length
        val top = counts.toSeq.map { case (g, c) =>
          (c, g.codePointCount(0, g.length).toLong) }.max
        val dup = counts.collect { case (g, c) if c >= 2 =>
          c * g.codePointCount(0, g.length) }.sum
        (top._1, top._1 * top._2, dup)
      }
    }
    (id, toks.length.toLong, normChars,
      perN.map(_._1), perN.map(_._2), perN.map(_._3))
  }

  test("repetitionGate equals a driver-side reference on adversarial docs") {
    val rows = Seq(
      1L -> "spam spam spam spam spam",
      2L -> "one two three four five six seven eight nine ten eleven twelve",
      3L -> "solo",
      4L -> "aa bb aa bb aa bb aa bb aa bb",
      5L -> "Mixed CASE mixed case MIXED case mixed",
      6L -> ("tok " * 15).trim)
    val out = Corpus.repetitionGate(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == rows.length)
    out.zip(rows).foreach { case (r, (id, text)) =>
      val (rid, nW, nC, tc, ch, dup) = refGate(id, text)
      assert(r.getLong(0) == rid && r.getLong(1) == nW && r.getLong(2) == nC,
        s"doc $id base stats")
      assert(Seq(r.getLong(3), r.getLong(5), r.getLong(7)) == tc.take(3),
        s"doc $id top counts")
      assert(Seq(r.getLong(4), r.getLong(6), r.getLong(8)) == ch.take(3),
        s"doc $id top chars")
      assert(Seq(r.getLong(9), r.getLong(10)) == Seq(dup(3), dup(4)),
        s"doc $id dup masses")
    }
  }

  test("repetitionGate: verdict, tie-break, code points, filtering, plan") {
    val d = Seq(
      1L -> "spam spam spam spam spam spam",             // pathological
      // clean prose must be LONG enough that a count-1 top gram is a small
      // char fraction — Gopher's thresholds assume real-length documents
      // (a 10-word doc "fails" top-2gram 20% on one 11-char occurrence)
      2L -> (1 to 40).map(i => f"w$i%02d").mkString(" "),
      // 2-gram tie at count 3: "aa aa" (5 chars) vs "bbbb bbbb" (9 chars)
      // → deterministic longer-gram tie-break
      3L -> "aa aa aa aa bbbb bbbb bbbb bbbb",
      // astral plane: 😀 is 2 UTF-16 units but ONE code point — char
      // masses must count code points (both engines' length())
      4L -> "😀 😀 😀",
      5L -> "   ").toDF("doc_id", "text")
    val out = Corpus.repetitionGate(d, "doc_id", "text")
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(!byId.contains(5L), "whitespace-only doc filtered")
    assert(!byId(1L).getBoolean(11) && byId(2L).getBoolean(11),
      "keep verdict separates spam from prose")
    assert(byId(3L).getLong(3) == 3L && byId(3L).getLong(4) == 27L,
      "count tie breaks to the longer gram (3 x 'bbbb bbbb' = 27 chars)")
    // 😀 😀: 2 occurrences x 3 code points; norm_chars = 5
    assert(byId(4L).getLong(2) == 5L && byId(4L).getLong(3) == 2L &&
      byId(4L).getLong(4) == 6L, "astral chars counted as code points")
    // repetition is per-document: the whole gate is a narrow map, ZERO
    // exchanges at any corpus size
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gate must not shuffle; plan:\n$plan")
  }

  // ---- sourceNovelty ----------------------------------------------------

  test("sourceNovelty: known-answer fixture, no gram join") {
    // char 8-shingles; sources a and b share doc text "abcdefghij"
    // (distinct shingles abcdefgh, bcdefghi, cdefghij), c ("qqqqqqqqqq" →
    // the single distinct shingle qqqqqqqq) is disjoint. So a and b have 0
    // unique shingles, c is 100% novel.
    val d = Seq((1L, "a", "abcdefghij"), (2L, "b", "abcdefghij"),
        (3L, "c", "qqqqqqqqqq"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.sourceNovelty(d, "source", "text")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", 3L, 0L, 0.0), ("b", 3L, 0L, 0.0), ("c", 1L, 1L, 1.0)), out.toSeq)
    // scale shape: uniques derive from the per-shingle aggregate — there
    // must be no join keyed on the shingle column (the only join is the
    // #sources-sized tot⋈uni); a SortMergeJoin would mean a corpus-sized
    // join-back snuck in
    val plan = Corpus.sourceNovelty(d, "source", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"corpus-sized join-back:\n$plan")
  }

  // ---- invertedIndex ----------------------------------------------------

  test("rrfFuse: micro-exact reciprocals, one-sided docs, deterministic ties") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (10L, 2L), (40L, 3L)).toDF("doc_id", "rank")
    val got = Corpus.rrfFuse(a, b, "doc_id", topK = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("fused_u")).toMap
    // 1e6/61 = 16393.44 → 16393; 1e6/62 = 16129.03 → 16129;
    // 1e6/63 = 15873.02 → 15873
    assert(got(10L) == 16393L + 16129L)
    assert(got(20L) == 16129L + 16393L)
    assert(got(30L) == 15873L)  // absent from B contributes nothing
    assert(got(40L) == 15873L)
    // 10 and 20 tie exactly; 30/40 tie — doc_id must break both
    val order = Corpus.rrfFuse(a, b, "doc_id", topK = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(order == Seq(10L, 20L, 30L, 40L))
  }

  test("giniConcentration: equal lengths → 0, known unequal fixture") {
    import spark.implicits._
    val eq = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
    val r0 = Corpus.giniConcentration(eq, "doc_id", "text").collect()(0)
    assert(r0.getAs[Long]("total_tokens") == 9L)
    assert(r0.getAs[Double]("gini_r") == 0.0)
    // lengths 1, 3: ranks 1, 2 → G = (2·(1+6) − 3·4)/(2·4) = 2/8 = 0.25
    val un = Seq((1L, "a"), (2L, "b b b")).toDF("doc_id", "text")
    val r1 = Corpus.giniConcentration(un, "doc_id", "text").collect()(0)
    assert(r1.getAs[Double]("gini_r") == 0.25)
  }

  test("zipfFit: two-point power-law fixture recovers slope -1 exactly") {
    import spark.implicits._
    // aa×2 (rank 1, x=0, y=1e6), bb×1 (rank 2, x=1e6, y=0): OLS through
    // two exact micro-bit points → slope EXACTLY -1
    val docs = Seq((1L, "aa aa bb")).toDF("doc_id", "text")
    val r = Corpus.zipfFit(docs, "text").collect()(0)
    assert(r.getAs[Long]("vocab") == 2L)
    assert(r.getAs[Double]("slope_r") == -1.0)
    // single-word corpus: degenerate x variance → NULL slope
    val one = Seq((1L, "aa aa")).toDF("doc_id", "text")
    assert(Option(Corpus.zipfFit(one, "text").collect()(0)
      .get(1)).isEmpty)
  }

  test("vocabCoverage: frequency-desc rank, word tiebreak, cumulative shares") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = Corpus.vocabCoverage(docs, "text")
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("w"),
        r.getAs[Long]("n"), r.getAs[Long]("cum_n"),
        r.getAs[Double]("cover_r")))
    assert(got.toSeq == Seq((1L, "a", 3L, 3L, 0.5),
      (2L, "b", 2L, 5L, 0.833333), (3L, "c", 1L, 6L, 1.0)))
    // tie on frequency → lexicographic word order decides the rank
    val tie = Seq((1L, "z y z y")).toDF("doc_id", "text")
    val tw = Corpus.vocabCoverage(tie, "text")
      .orderBy("rank").collect().map(_.getAs[String]("w"))
    assert(tw.toSeq == Seq("y", "z"))
  }

  test("sourceScorecard: exact gate shares, one row per source") {
    import spark.implicits._
    val docs = Seq(
      // en, 2 words, 2 sentences, 2 syllables → Flesch 121.22 (readable)
      ("s1", "Go. Go.", "en", 7L),
      // fr, 60 words, 1 sentence, 180 syllables → Flesch −107.865
      ("s1", Seq.fill(60)("banana").mkString(" "), "fr", 100L)
    ).toDF("source", "text", "lang", "n_chars")
    val r = Corpus.sourceScorecard(docs, "source", "text", "lang", "n_chars")
      .collect()(0)
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("sum_chars") == 107L)
    assert(r.getAs[Double]("mean_chars_r") == 53.5)
    assert(r.getAs[Double]("en_share_r") == 0.5)
    assert(r.getAs[Double]("readable_share_r") == 0.5)
    assert(r.getAs[Double]("long_share_r") == 0.5)
  }

  test("readability: hand-computed Flesch, sentence floor, empty filtered") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, 2 sentences, 6 vowel groups →
      // 206.835 − 1.015·3 − 84.6·1 = 119.19
      (1L, "The cat sat. The dog ran!"),
      // no terminal punctuation → sentence floor 1; 2 words, 3 groups →
      // 206.835 − 2.03 − 126.9 = 77.905
      (2L, "hello world"),
      (3L, "   ")).toDF("doc_id", "text")
    val got = Corpus.readability(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_sentences"),
          r.getAs[Long]("n_syllables"), r.getAs[Double]("flesch_r"))).toMap
    assert(got == Map(
      1L -> ((6L, 2L, 6L, 119.19)),
      2L -> ((2L, 1L, 3L, 77.905))))
  }

  test("jsDivergence: hand-checked value, exact 0 identical, exact 1 disjoint") {
    import spark.implicits._
    // g1 = "x x y" (A=3), g2 = "x z" (B=2); shared word x: a=2, b=1,
    // aB=4, bA=3 → sp = 2·(1e6+2000000−2807355)+1·1e6 = 1385290,
    // sq = (1e6+1584963−2807355)+1e6 = 777608,
    // JS = halfup((1385290·2+777608·3)/12)/1e6 = 0.425284
    val d1 = Seq(("g1", "x x y"), ("g2", "x z")).toDF("src", "text")
    val r1 = Corpus.jsDivergence(d1, "src", "text").collect()(0)
    assert(r1.getAs[Long]("n_common") == 1L)
    assert(r1.getAs[Long]("sp_ub") == 1385290L)
    assert(r1.getAs[Long]("sq_ub") == 777608L)
    assert(r1.getAs[Double]("js_r") == 0.425284)
    // identical distributions cancel to EXACTLY zero (no float residue)
    val d2 = Seq(("a", "p q q r"), ("b", "q r p q")).toDF("src", "text")
    assert(Corpus.jsDivergence(d2, "src", "text")
      .collect()(0).getAs[Double]("js_r") == 0.0)
    // disjoint vocabularies survive the inner join via the pair scaffold
    val d3 = Seq(("a", "only here"), ("b", "different words")).toDF("src", "text")
    val r3 = Corpus.jsDivergence(d3, "src", "text").collect()(0)
    assert(r3.getAs[Long]("n_common") == 0L && r3.getAs[Double]("js_r") == 1.0)
  }

  test("cdcChunkStats: content-anchored boundaries survive a prefix edit") {
    // The CDC property fixed-stride chunking lacks: prepend text to a doc
    // and the boundaries re-anchor, so the unedited tail's chunks keep
    // their identity and are detected as SHARED between the two versions.
    val body = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet forest before nightfall arrives ") * 6
    val d = Seq(
      (1L, body),
      (2L, "PREFIX INSERTED AT THE FRONT >>> " + body),
      (3L, "completely unrelated content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val out = Corpus.cdcChunkStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (n1, s1, l1) = out(1L)
    val (n2, s2, _) = out(2L)
    val (_, s3, l3) = out(3L)
    // both versions chunk into several pieces and share most of the body:
    // over half of doc 1's characters sit in chunks doc 2 also contains
    assert(n1 > 3 && n2 > 3, s"chunking degenerated: $out")
    assert(s1 > 0 && s2 > 0, s"no shared chunks after prefix edit: $out")
    assert(l1 * 2 > body.length, s"shared_len too small: $out")
    // the unrelated doc shares nothing
    assert(s3 == 0L && l3 == 0L, s"false sharing: $out")
    // chunks partition the text exactly: per-doc shared_len <= length
    assert(l1 <= body.length)
  }

  test("invertedIndex: known answer, deterministic tie-break, plan shape") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana cherry"),
      (4L, "  "), (5L, "cherry"), (6L, "cherry")).toDF("doc_id", "text")
    val out = Corpus.invertedIndex(d, "doc_id", "text")
      .orderBy("term", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // apple: df 2, total 3; tf tie (1) between docs 1? no: doc1 tf 2,
    // doc2 tf 1. banana: doc3 tf 3, doc1 tf 1. cherry: tf tie 1 between
    // docs 2, 3, 5 and 6 → doc-id tiebreak ranks doc2 first, and the top-3
    // postings cut doc6.
    assert(out.toSeq == Seq(
      ("apple", 2L, 3L, 1L, 1L, 2L), ("apple", 2L, 3L, 2L, 2L, 1L),
      ("banana", 2L, 4L, 1L, 3L, 3L), ("banana", 2L, 4L, 2L, 1L, 1L),
      ("cherry", 4L, 4L, 1L, 2L, 1L), ("cherry", 4L, 4L, 2L, 3L, 1L),
      ("cherry", 4L, 4L, 3L, 5L, 1L)),
      out.toSeq)
    // term-partitioned windows, never a global single partition
    val plan = Corpus.invertedIndex(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("SinglePartition"), plan)
    assert(!plan.contains("SortMergeJoin"), s"self-join snuck in:\n$plan")
  }
}
