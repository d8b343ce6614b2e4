package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Transforms}

/** Scale-machinery checks: extension registration, salted aggregation,
  * bucketed co-located joins (no shuffle at join time). */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("GraftExtensions registers SQL functions in a fresh session") {
    SparkTestBase.withExtensions { s =>
      val r = s.sql(
        """SELECT haversine_m(19.4326, -99.1332, 19.4326, -99.1332) AS d,
          |       simhash64(array('a','b')) AS h,
          |       size(word_shingles('a b c d', 2)) AS n,
          |       size(md5_simhash_chunks('a b c')) AS nc,
          |       size(md5_minhash_lanes('a b c d e', 3, 16)) AS nl,
          |       size(char_shingles('abcdefgh', 8)) AS ncs,
          |       size(gopher_repetition('a a a a')) AS ng,
          |       gopher_repetition('a a a a')[10] AS gw,
          |       word_grams(array('a','b','c'), 2) AS wg,
          |       token_span_filter(array('a','b','c','d'), array(1), 2) AS sf,
          |       deletion_variants('abc') AS dv,
          |       sorted_intersect_count(char_shingle_hashes('abcdefgh', 8),
          |                              char_shingle_hashes('abcdefgh', 8)) AS ic,
          |       jaro_winkler('martha', 'martha') AS jw,
          |       size(cdc_chunks('abcdef', 2, 4)) AS cc,
          |       word_grams(NULL, 2) AS wgn""".stripMargin)
        .collect().head
      assert(r.getDouble(0) == 0.0)
      assert(r.getLong(1) == r.getLong(1))
      assert(r.getInt(2) == 3)
      assert(r.getInt(3) == 4)    // simhash chunks
      assert(r.getInt(4) == 16)   // minhash lanes
      assert(r.getInt(5) == 1)    // one distinct 8-shingle of an 8-char string
      assert(r.getInt(6) == 12)   // 5 n-values x 2 + n_words + norm_chars
      assert(r.getLong(7) == 4L)  // n_words rides at index 10
      assert(r.getSeq[String](8) == Seq("a b", "b c"))
      assert(r.getSeq[String](9) == Seq("a", "d")) // span [1,2] drops b,c
      assert(r.getSeq[String](10) == Seq("abc", "bc", "ac", "ab"))
      assert(r.getLong(11) == 1L)      // one distinct 8-shingle ∩ itself
      assert(r.getDouble(12) == 1.0)   // identical strings
      assert(r.getInt(13) >= 1)        // at least one CDC chunk
      // bare NULL literal (NullType, no cast) is NULL-in/NULL-out — the
      // help text's contract covers it, not just a typed null array
      // (r13 ADVICE)
      assert(r.isNullAt(14))
      // an integer argument past 2^31 fails registration loudly instead
      // of wrapping (word_grams(.., 2^32+2) used to become n=2 silently)
      val e = intercept[Exception](
        s.sql("SELECT word_grams(array('a','b','c'), 4294967298)").collect())
      assert(e.getMessage.contains("out of range") ||
        Option(e.getCause).exists(_.getMessage.contains("out of range")),
        e.getMessage)
    }
  }

  test("kernel type guards reject bad inputs at analysis time") {
    // word_grams over array<int> would read misaligned offset words at
    // runtime (UnsafeArrayData packs 4-byte slots); token_span_filter
    // with nullable starts would read a null slot as 0, fabricating a
    // span at position 0. Both must die in analysis, not at eval.
    import graft.functions.{ShingleOps, TextFunctions}
    val wgErr = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq(1, 2, 3))).toDF("xs")
        .select(ShingleOps.wordGramsCol(col("xs"), 2)).collect()
    }
    assert(wgErr.getMessage.contains("word_grams"))
    // ...but an untyped NULL passes analysis and returns NULL (r13
    // ADVICE: the guard is about element layout, not about nullness)
    assert(spark.range(1)
      .select(ShingleOps.wordGramsCol(lit(null), 2).as("w"))
      .collect().head.isNullAt(0))
    val nullStarts = intercept[org.apache.spark.sql.AnalysisException] {
      // Option elements -> array<int> with containsNull=true
      Seq((Seq("a", "b", "c"), Seq(Option(1))))
        .toDF("toks", "st")
        .select(TextFunctions.tokenSpanFilter(col("toks"), col("st"), 2))
        .collect()
    }
    assert(nullStarts.getMessage.contains("token_span_filter"))
    val wideStarts = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("a", "b"), Seq(1L))).toDF("toks", "st")
        .select(TextFunctions.tokenSpanFilter(col("toks"), col("st"), 2))
        .collect()
    }
    assert(wideStarts.getMessage.contains("token_span_filter"))
    // and the normalization promise: unsorted starts give the same
    // answer as sorted ones
    val un = Seq((Seq("a", "b", "c", "d", "e"), Seq(3, 0)))
      .toDF("toks", "st")
      .select(TextFunctions.tokenSpanFilter(col("toks"), col("st"), 2)
        .as("kept"))
      .collect().head.getSeq[String](0)
    assert(un == Seq("c")) // spans [0,1] and [3,4] leave only index 2
  }

  test("BandedDistanceJoinRule rewrites SQL cross join + haversine filter") {
    SparkTestBase.withExtensions { s =>
      import s.implicits._
      (1 to 300).map(i =>
        (i.toLong, ((i * 37) % 17000) / 100.0 - 85, ((i * 91) % 35000) / 100.0 - 175))
        .toDF("lid", "lat", "lon").createOrReplaceTempView("lpts")
      (1 to 40).map(i =>
        (i.toLong, ((i * 53) % 17000) / 100.0 - 85, ((i * 71) % 35000) / 100.0 - 175))
        .toDF("rid", "rlat", "rlon").createOrReplaceTempView("rpts")
      for (r <- Seq(120000.0, 900000.0, 1500000.0, 6000000.0)) {
        val q = s.sql(
          s"""SELECT lid, rid FROM lpts CROSS JOIN rpts
             |WHERE haversine_m(lat, lon, rlat, rlon) <= $r""".stripMargin)
        val optimized = q.queryExecution.optimizedPlan.toString
        assert(optimized.contains("Generate") && optimized.contains("_graft_gk"),
          s"rule did not fire at r=$r:\n$optimized")
        assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
          s"cartesian product must be eliminated at r=$r")

        val got = q.as[(Long, Long)].collect().toSet
        val brute = s.sql(
          s"""SELECT /*+ BROADCAST(rpts) */ lid, rid
             |FROM lpts JOIN rpts
             |  ON 12742000.0 * asin(sqrt(
             |    sin(radians(rlat - lat) / 2) * sin(radians(rlat - lat) / 2) +
             |    cos(radians(lat)) * cos(radians(rlat)) *
             |    sin(radians(rlon - lon) / 2) * sin(radians(rlon - lon) / 2))) <= $r""".stripMargin)
          .as[(Long, Long)].collect().toSet
        assert(got == brute,
          s"r=$r missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
      }
    }
  }

  test("saltedAggregate equals direct aggregation on skewed keys") {
    // one hot key with 10k rows, many cold keys
    val rows = (1 to 10000).map(i => ("HOT", i.toDouble)) ++
      (1 to 500).map(i => (s"k${i % 50}", i.toDouble))
    val df = rows.toDF("key", "v")
    val salted = Transforms.saltedAggregate(df, "key", 8,
      partials = Seq(
        ("cnt", (c: org.apache.spark.sql.Column) => count(c), lit(1)),
        ("sm", (c: org.apache.spark.sql.Column) => sum(c), col("v"))),
      merges = Seq(
        ("cnt", (c: org.apache.spark.sql.Column) => sum(c)),
        ("sm", (c: org.apache.spark.sql.Column) => sum(c))))
      .select(col("key"), col("cnt").cast("long"), col("sm").cast("double"))
      .as[(String, Long, Double)].collect().toMap2
    val direct = df.groupBy("key").agg(count(lit(1)).as("cnt"), sum("v").as("sm"))
      .select(col("key"), col("cnt"), col("sm"))
      .as[(String, Long, Double)].collect().toMap2
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (c1, s1)) =>
      val (c2, s2) = direct(k)
      assert(c1 == c2 && math.abs(s1 - s2) < 1e-6, s"key $k")
    }
  }

  implicit class TupleMap[A, B, C](xs: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = xs.map(t => t._1 -> (t._2, t._3)).toMap
  }

  test("bucketed tables join without a shuffle exchange") {
    // stale managed-table locations survive across JVMs (in-memory catalog,
    // on-disk warehouse) — clear them first
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get(s"spark-warehouse/$t")
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("plan shapes: the 100TB-critical queries avoid pathological operators") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q50 interval join: banded equi-join, never a cartesian/nested-loop
    val p50 = plan("q50_interval_join")
    assert(!p50.contains("CartesianProduct"), p50)
    assert(!p50.contains("BroadcastNestedLoopJoin"), p50)

    // q31 global top-k: TakeOrderedAndProject, not a global-sort or a
    // single-partition window over the full scan
    val p31 = plan("q31_ann_cosine")
    assert(p31.contains("TakeOrderedAndProject"), p31)

    // q18 broadcast kNN: zero Exchange after the fan-out repartition —
    // no join, no window over candidates
    val p18 = plan("q18_geo_topk")
    assert(!p18.contains("SortMergeJoin") && !p18.contains("CartesianProduct"), p18)
    assert(p18.contains("knn_against_points") || p18.contains("Generate"), p18)

    // q29 portable minhash: the candidate join is an equi hash join over
    // the (checkpointed) banded table — no cartesian anywhere; the scalar
    // signature expression itself is asserted on the un-checkpointed prefix
    val p29 = plan("q29_minhash_lsh")
    assert(!p29.contains("CartesianProduct"), p29)
    val sigPlan = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.GraftBridge.column(
        graft.functions.Md5MinhashLanes(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3, 16)))
      .queryExecution.executedPlan.toString
    assert(sigPlan.contains("md5_minhash_lanes"), sigPlan)

    // q01: cents arithmetic — no decimal multiply in the row path
    val p01 = plan("q01_pricing_summary")
    assert(!p01.toLowerCase.contains("promote_precision"), p01)

    // q70: the read back from the partitioned sink prunes by directory
    val p70 = plan("q70_partitioned_write")
    assert(p70.contains("PartitionFilters") && p70.contains("o_year"), p70)

    // q87 stratified sample: a pure map-side filter — ZERO exchanges; the
    // sampling decision must not shuffle, sort, or aggregate anything
    val p87 = plan("q87_stratified_sample")
    assert(!p87.contains("Exchange") && !p87.contains("Sort"), p87)

    // q91 sequence packing: the running-sum window is PARTITIONED by
    // bucket (each shard packs independently) — never a global window
    val p91 = plan("q91_sequence_packing")
    assert(p91.contains("Window"), p91)
    assert(p91.contains("partitionBy") || !p91.contains("SinglePartition"), p91)

    // q88 decontamination: benchmark side broadcast, corpus side hash join
    val p88 = plan("q88_decontamination")
    assert(p88.contains("BroadcastHashJoin"), p88)
    assert(!p88.contains("SortMergeJoin") && !p88.contains("CartesianProduct"), p88)

    // q94 embedding near-dup: candidates come from the bucket equi-join —
    // never an all-pairs nested loop over vectors
    val p94 = plan("q94_embedding_neardup")
    assert(!p94.contains("CartesianProduct") &&
      !p94.contains("BroadcastNestedLoopJoin"), p94)

    // q95 boilerplate: the dictionary joins broadcast (no span-keyed
    // window — a universal span must not pile into one task)
    val p95 = plan("q95_boilerplate_spans")
    assert(p95.contains("BroadcastHashJoin"), p95)
    assert(!p95.contains("Window"), p95)

    // q97 corpus shuffle: the permutation rank is per-shard, never global
    val p97 = plan("q97_corpus_shuffle")
    assert(p97.contains("Window") && !p97.contains("SinglePartition"), p97)

    // q109 chunking: a pure narrow map — ZERO exchanges at any corpus size
    val p109 = plan("q109_chunk_overlap")
    assert(!p109.contains("Exchange") && !p109.contains("Sort"), p109)

    // q110 budget selection: the running-sum window is partitioned by
    // source — never a global single-partition window
    val p110 = plan("q110_source_budget")
    assert(p110.contains("Window") && !p110.contains("SinglePartition"), p110)

    // q112/q113 sketches: partial aggregation must kick in (map-side
    // combine of lane minima / bucket counts before the exchange)
    val p112 = Corpus.groupMinhashSketch(
        graft.Tables.documents(spark, sfDir), "source", "text")
      .queryExecution.executedPlan.toString
    assert(p112.contains("partial_min") || p112.contains("HashAggregate"), p112)
    assert(!p112.contains("CartesianProduct"), p112)
    val p113 = plan("q113_cms_heavyhitters")
    assert(!p113.contains("CartesianProduct") &&
      !p113.contains("SortMergeJoin"), p113)

    // q126 leakage split: the split assignment itself is a narrow map —
    // the only exchanges belong to the upstream cluster computation
    val p126 = plan("q126_leakage_split")
    assert(!p126.contains("CartesianProduct"), p126)

    // q127 DSIR: model join is an equi join; totals broadcast; no windows
    val p127 = plan("q127_dsir_weights")
    assert(!p127.contains("Window") && !p127.contains("CartesianProduct"), p127)
    assert(p127.contains("BroadcastExchange") || p127.contains("BroadcastHashJoin"), p127)

    // q128 hard negatives: anchors broadcast (the only nested-loop is
    // against the tiny anchor build side); the per-anchor top-k windows
    // are salted/partitioned — never single-partition
    val p128 = plan("q128_hard_negatives")
    assert(!p128.contains("CartesianProduct"), p128)
    assert(!p128.contains("SinglePartition"), p128)

    // q130 CDC merge: the latest-change window runs over the LOG side
    // only; the snapshot is never sorted into a window
    val p130 = plan("q130_changelog_apply")
    assert(!p130.contains("CartesianProduct"), p130)

    // q135 funnel: user-keyed hash aggregates and equi joins only — no
    // windows, no per-user event sort
    val p135 = plan("q135_funnel")
    assert(!p135.contains("Window") && !p135.contains("CartesianProduct"), p135)

    // q136 time decay: one 1-row broadcast + hash aggregate with map-side
    // partials; no windows, no sort
    val p136 = plan("q136_time_decay")
    assert(!p136.contains("Window") && !p136.contains("Sort"), p136)
    assert(p136.contains("HashAggregate"), p136)

    // q137 cohort retention: aggregates + equi joins only, no windows
    val p137 = plan("q137_cohort_retention")
    assert(!p137.contains("Window") && !p137.contains("CartesianProduct"), p137)

    // q138 transitions: the lead() window is partitioned by user — never
    // a single global partition; downstream window runs on the bounded
    // type-pair aggregate
    val p138 = plan("q138_event_transitions")
    assert(p138.contains("Window") && !p138.contains("SinglePartition"), p138)

    // q143 Gopher gate: per-document stats are a pure narrow map — ZERO
    // exchanges at any corpus size (the whole point vs explode+groupBy)
    val p143 = plan("q143_gopher_gate")
    assert(!p143.contains("Exchange"), p143)

    // q145 ORC round-trip: the quantity predicate must reach the ORC scan
    // as a pushed filter, not a post-scan Filter over a full read
    val p145 = plan("q145_orc_roundtrip")
    assert(p145.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_quantity,45.0)]"), p145)
  }

  test("tableFingerprint: order/partitioning-invariant, content-sensitive") {
    import spark.implicits._
    import graft.operators.Maintenance
    val rows = (1L to 500L).map(i => (i, s"name-$i", i % 7))
    val a = Maintenance.tableFingerprint(
      rows.toDF("id", "name", "grp"), Seq("id", "name", "grp"))
    val b = Maintenance.tableFingerprint(
      scala.util.Random.shuffle(rows).toDF("id", "name", "grp")
        .repartition(13), Seq("id", "name", "grp"))
    assert(a.collect()(0) == b.collect()(0))
    // lanes are comparator-safe primitives: non-negative longs < 2^61
    val a0 = a.collect()(0)
    for (lane <- Seq("lane_a", "lane_b")) {
      val v = a0.getAs[Long](lane)
      assert(v >= 0L && v < 2305843009213693952L, s"$lane=$v")
    }
    // a single swapped value flips both lanes but not the count
    val mutated = rows.updated(42, (43L, "name-43x", 43L % 7))
    val c = Maintenance.tableFingerprint(
      mutated.toDF("id", "name", "grp"), Seq("id", "name", "grp")).collect()(0)
    assert(c.getAs[Long]("n_rows") == 500L)
    assert(c.getAs[Long]("lane_a") != a0.getAs[Long]("lane_a"))
    assert(c.getAs[Long]("lane_b") != a0.getAs[Long]("lane_b"))
    // null vs the string "null" must not collide (sentinel coalesce)
    val withNull = Maintenance.tableFingerprint(
      Seq((1L, null.asInstanceOf[String])).toDF("id", "name"),
      Seq("id", "name")).collect()(0)
    val withLiteral = Maintenance.tableFingerprint(
      Seq((1L, "null")).toDF("id", "name"), Seq("id", "name")).collect()(0)
    assert(withNull.getAs[Long]("lane_a") !=
      withLiteral.getAs[Long]("lane_a"))
  }

  test("plan shapes: round-8 continuation operators stay scale-safe") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q157 attribution: ONE user-keyed window, never a touch×conversion
    // self-join (the O(T·C) shape the operator exists to avoid)
    val p157 = plan("q157_attribution")
    assert(p157.contains("Window") && !p157.contains("Join"), p157)

    // q161 OHLC: the per-bucket window and the bar aggregate share one
    // (key, day) hash exchange — exactly one shuffle in the whole plan
    val p161 = plan("q161_ohlc_bars")
    assert(p161.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      p161)

    // q159 OLS / q182 Fano: pure aggregate chains — no windows, no sorts
    val p159 = plan("q159_ols_trend")
    assert(!p159.contains("Window") && !p159.contains("SortMergeJoin"), p159)
    val p182 = plan("q182_fano")
    assert(!p182.contains("Window") && !p182.contains("Sort"), p182)

    // q184 co-occurrence: the basket self-join is an equi-join on
    // (user, day) — no cartesian pairing of baskets
    val p184 = plan("q184_cooccurrence")
    assert(!p184.contains("CartesianProduct"), p184)

    // q180 RRF: global top-k via TakeOrderedAndProject, not a full sort
    val p180 = plan("q180_rrf_fusion")
    assert(p180.contains("TakeOrderedAndProject"), p180)

    // q166 readability: map-only — zero exchanges at any corpus size
    val p166 = plan("q166_readability")
    assert(!p166.contains("Exchange"), p166)

    // q173 gaps / q167 paths: user-partitioned windows, never global
    val p173 = plan("q173_gap_profile")
    assert(p173.contains("Window"), p173)
    val p167 = plan("q167_path_mining")
    assert(p167.contains("Window"), p167)

    // q192 bucketed join: with broadcast off (forcing the large×large
    // path this operator exists for), bucket co-location removes BOTH
    // join-side exchanges — the only hashpartitioning shuffle left is
    // the final small groupBy
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p192 = plan("q192_bucketed_join")
      assert(p192.contains("SortMergeJoin"), p192)
      assert(
        p192.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
        p192)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("hilbert16: round-trip identity, unit-step adjacency, injectivity") {
    import graft.functions.HilbertOps
    val rnd = new scala.util.Random(7)
    // round-trip + adjacency at random positions across the full curve
    (0 until 2000).foreach { _ =>
      val d = (rnd.nextLong() & Long.MaxValue) % (65536L * 65536L - 1)
      val (x, y) = SpecOracles.d2xy16(d)
      assert(HilbertOps.xy2d16(x, y) == d)
      val (x2, y2) = SpecOracles.d2xy16(d + 1)
      // the Hilbert walk moves exactly one grid cell per step — the
      // locality property Z-order lacks at power-of-two boundaries
      assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
        s"d=$d: ($x,$y) -> ($x2,$y2)")
    }
    // injectivity on a dense sub-grid
    val keys = for (x <- 0L until 64L; y <- 0L until 64L)
      yield HilbertOps.xy2d16(x, y)
    assert(keys.distinct.size == 64 * 64)
    // the expression evaluates identically via codegen
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 65535L)).toDF("a", "b")
    val got = df.select(HilbertOps.hilbert16(col("a"), col("b")))
      .as[Long].collect().toSeq
    assert(got == Seq(HilbertOps.xy2d16(3, 5), HilbertOps.xy2d16(0, 0),
      HilbertOps.xy2d16(65535, 65535)))
  }

  test("plan shapes: round-9 operators stay scale-safe") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q195 recall report: the only product-shaped join is corpus × the
    // 10 broadcast query vectors — a BroadcastNestedLoopJoin over a
    // 10-row side, never a shuffled cartesian of the corpus with itself
    val p195 = plan("q195_ann_recall")
    assert(!p195.contains("CartesianProduct"), p195)
    assert(p195.contains("BroadcastNestedLoopJoin") ||
      p195.contains("BroadcastExchange"), p195)

    // q196 span removal: gram dictionary + rewrite are equi-joins only;
    // the rewrite itself is a per-row lambda (no window, no sort of the
    // corpus, no cartesian)
    val p196 = plan("q196_span_removal")
    assert(!p196.contains("CartesianProduct") &&
      !p196.contains("BroadcastNestedLoopJoin"), p196)
    assert(!p196.contains("Window"), p196)

    // q197 packing: a per-source window, no joins at all
    val p197 = plan("q197_sequence_packing")
    assert(p197.contains("Window") && !p197.contains("Join"), p197)

    // q201 directional as-of (nearest = BOTH fill directions): the
    // union+carry still shuffles the key exactly once — the two ordered
    // fills reuse one exchange
    val p201 = plan("q201_asof_directional")
    assert(
      p201.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      p201)

    // q202 edit-distance and q204 join-maintenance: equi-joins only
    val p202 = plan("q202_editdist_join")
    assert(!p202.contains("CartesianProduct") &&
      !p202.contains("BroadcastNestedLoopJoin"), p202)
    val p204 = plan("q204_join_maintenance")
    assert(!p204.contains("CartesianProduct"), p204)

    // q206 embedding profile: explode + one aggregate — no join, no window
    val p206 = plan("q206_embedding_profile")
    assert(!p206.contains("Join") && !p206.contains("Window"), p206)
  }

  test("plan shapes: round-10 operators stay scale-safe") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q217 full categorizer: one map-only projection — no join, no window,
    // no exchange anywhere (and it must PLAN fast: the nested-coalesce
    // formulation took minutes here)
    val t0 = System.nanoTime()
    val p217 = plan("q217_poi_categorize_full")
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "planning blow-up returned")
    assert(!p217.contains("Join") && !p217.contains("Exchange"), p217)

    // q218 serving path: POIs broadcast (never a shuffled product) and the
    // top-20 rank limit pushed map-side via WindowGroupLimit
    val p218 = plan("q218_serving_path")
    assert(p218.contains("BroadcastExchange"), p218)
    assert(!p218.contains("CartesianProduct"), p218)
    assert(p218.contains("WindowGroupLimit"), p218)

    // q219 CDC: native expression + equi-join only — no window over the
    // corpus, no cartesian
    val p219 = plan("q219_cdc_chunks")
    assert(p219.contains("cdc_chunks"), p219)
    assert(!p219.contains("CartesianProduct") &&
      !p219.contains("BroadcastNestedLoopJoin"), p219)

    // q221 k-anonymity: ALL ladder levels from ONE grouping-sets pass —
    // the pass runs once during the checkpoint materialization, so the
    // final plan reads the group-bounded checkpoint (ExistingRDD) and
    // never rescans customer (no parquet, no second Expand)
    val p221 = plan("q221_k_anonymity")
    assert(p221.contains("ExistingRDD"), p221)
    assert(!p221.contains("Expand") && !p221.contains("parquet"), p221)

    // q225 salted join: the dim side explodes (Generate) and the join is
    // an equi-join on (k, salt) — no cartesian, no nested loop
    val p225 = plan("q225_salted_join")
    assert(p225.contains("Generate"), p225)
    assert(!p225.contains("CartesianProduct") &&
      !p225.contains("BroadcastNestedLoopJoin"), p225)

    // q228 rendezvous: both assignments map-side (no Generate, no join);
    // the only exchange feeds the ≤N-row report aggregate
    val p228 = plan("q228_rendezvous_shards")
    assert(!p228.contains("Generate") && !p228.contains("Join"), p228)
    assert(
      p228.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      p228)
  }

  test("plan shapes: round-10 ER/dedup additions stay scale-safe (r11 locks)") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q233 golden record: candidate pairs come from the blocked equi-join
    // on the first-name token — never a cartesian/nested loop over parts;
    // the golden-name pick window is partitioned by cluster, never global
    val p233 = plan("q233_golden_record")
    assert(!p233.contains("CartesianProduct") &&
      !p233.contains("BroadcastNestedLoopJoin"), p233)
    assert(p233.contains("Window") && !p233.contains("SinglePartition"), p233)

    // q227 JW band profile: the same blocked equi-join contract (the JW
    // expression evaluates only inside blocks)
    val p227 = plan("q227_jw_profile")
    assert(!p227.contains("CartesianProduct") &&
      !p227.contains("BroadcastNestedLoopJoin"), p227)

    // q243 cluster-size histogram: downstream of the guarded CC the only
    // product shape is the broadcast of the 1-row doc total (asserted
    // honored); the rollup joins stay equi-joins — no shuffled cartesian
    val p243 = plan("q243_cluster_size_histogram")
    assert(!p243.contains("CartesianProduct"), p243)
    assert(p243.contains("BroadcastExchange"), p243)

    // q234 repeated-chunk runs: candidates from the frequency-capped
    // chunk-hash equi-join; the run-length window is partitioned by
    // (d1, d2, diag) — never a global single-partition window
    val p234 = plan("q234_repeated_chunk_runs")
    assert(!p234.contains("CartesianProduct") &&
      !p234.contains("BroadcastNestedLoopJoin"), p234)
    assert(p234.contains("Window") && !p234.contains("SinglePartition"), p234)

    // q220 semantic dedup e2e: candidates only from the LSH bucket
    // equi-join — never all-pairs over vectors
    val p220 = plan("q220_semantic_dedup")
    assert(!p220.contains("CartesianProduct") &&
      !p220.contains("BroadcastNestedLoopJoin"), p220)

    // q121 prefix-Jaccard r11 shape: the hot-prefix cap is an aggregate +
    // join (splittable under a corpus-hot shingle), NOT a count window —
    // the final stage must carry no Window at all; candidates only from
    // the shingle equi-join; the PPJoin length filter (least/greatest on
    // the carried set sizes) runs at the candidate level, before the
    // per-doc hash arrays are hauled through the verify join
    val p121 = plan("q121_prefix_jaccard")
    assert(!p121.contains("CartesianProduct") &&
      !p121.contains("BroadcastNestedLoopJoin"), p121)
    assert(!p121.contains("Window"), p121)
    assert(p121.contains("least") && p121.contains("greatest"), p121)

    // same shape rule for the LSH bucket cap (q29/q107 family) and the
    // winnow fingerprint band (q119): hot-key caps are aggregates +
    // semi-joins, so no Window survives anywhere in these plans either
    for (q <- Seq("q29_minhash_lsh", "q107_minhash_estimate",
        "q119_shared_passages")) {
      val p = plan(q)
      assert(!p.contains("Window") && !p.contains("CartesianProduct"),
        s"$q: $p")
    }

    // q154 directed containment (r11-adjudicated recompute shape): the
    // probe prefix ranks by global dfreq via the per-doc array-sort trick
    // and the hot-token cap is a dfreq filter — no Window anywhere;
    // candidates only from the rare-token equi-join, never a
    // cartesian/nested loop over docs
    val p154 = plan("q154_containment")
    assert(!p154.contains("CartesianProduct") &&
      !p154.contains("BroadcastNestedLoopJoin"), p154)
    assert(!p154.contains("Window"), p154)
  }

  test("plan shapes: r12 native kernels stay codegen'd, consumers lean (r13 locks)") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // compile-level: none of the three r12 kernels may regress to the
    // interpreted CodegenFallback path — they exist to keep corpus-sized
    // projections inside whole-stage codegen (each was measured 2-5x
    // faster than the interpreted HOF it replaced)
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    for (c <- Seq(classOf[graft.functions.WordGrams],
        classOf[graft.functions.TokenSpanFilter],
        classOf[graft.functions.DeletionVariants]))
      assert(!classOf[CodegenFallback].isAssignableFrom(c),
        s"${c.getSimpleName} regressed to CodegenFallback")

    // runtime: a kernel-bearing Project whole-stage-compiles (an
    // exchange-free local plan is non-adaptive, so the *(n) codegen
    // marker is visible directly in the executed-plan string), and the
    // generated code actually compiles and runs
    import spark.implicits._
    // non-foldable input (a literal Seq constant-folds straight into a
    // LocalTableScan, hiding the codegen question entirely)
    val k = spark.range(3)
      .select(array(concat(lit("a"), col("id").cast("string")), lit("b"),
          lit("c")).as("toks"),
        array(col("id").cast("int")).as("st"))
      .select(graft.functions.ShingleOps.wordGramsCol(col("toks"), 2),
        graft.functions.TextFunctions.tokenSpanFilter(
          col("toks"), col("st"), 2),
        graft.functions.ShingleOps.deletionVariantsCol(col("toks")(0)))
    val kp = k.queryExecution.executedPlan.toString
    assert(kp.contains("*(1)"), kp)
    assert(k.collect().length == 3)

    // q196/q200/q202/q210 (the kernels' consumer queries): candidates
    // and dictionaries via equi-joins only — never a cartesian/nested
    // loop — and the hash-exchange budget is locked at the r12 plan
    // shape (q196: gram-dict partial/final + per-doc starts; q200 adds
    // the dedup/report aggregates; q202: variant build/probe + band;
    // q210: the full waterfall's stage aggregates). One MORE hash
    // exchange than recorded = a lost reuse or a new shuffle.
    // r21 budgets: the gated pins moved the gram/variant build passes
    // behind checkpoints and q210's stage-0..2 rollup folded to one
    // pinned pass, so the FINAL-plan exchange counts dropped (q196 3,
    // q200 5→4, q202 3→1, q210 12→3 measured at sf0.001) — re-locked at
    // the new shape so a lost reuse is one extra exchange again.
    for ((q, maxHashEx) <- Seq(
        "q196_span_removal" -> 3,
        "q200_curation_v2" -> 4,
        "q202_editdist_join" -> 1,
        "q210_curation_waterfall" -> 3)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
      val n = p.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(n <= maxHashEx, s"$q grew extra hash exchanges ($n):\n$p")
    }
    // window discipline per consumer: the kernel chains themselves carry
    // no Window (q196/q202 — hot-gram caps are aggregates + joins, the
    // r11 rule); q200's one window is the source-partitioned packing
    // running sum (never a global single partition). q210 (r21): the
    // keeper window (fingerprint-partitioned WindowGroupLimit, the shape
    // this lock used to assert directly) now executes ONCE inside the
    // gated stage-3 pin instead of once per consuming union branch, so
    // the FINAL plan shows the pinned RDD scans, not the window — assert
    // the fold itself (≥2 ExistingRDD scans: the one-pass stage-0..2
    // rollup row and the pinned keeper table) plus the unchanged
    // no-cartesian/exchange budget above; the window machinery stays
    // locked through q06/q18's WindowGroupLimit asserts.
    assert(!plan("q196_span_removal").contains("Window"))
    assert(!plan("q202_editdist_join").contains("Window"))
    val p200 = plan("q200_curation_v2")
    assert(p200.contains("Window") && !p200.contains("SinglePartition"),
      p200)
    val p210 = plan("q210_curation_waterfall")
    assert(p210.split("\n").count(_.contains("Scan ExistingRDD")) >= 2,
      p210)
    assert(!p210.contains("WindowGroupLimit"), // folded behind the pin
      p210)
    // and the kernels are actually IN the plans that compute them — the
    // locks guard the native-kernel formulation, not a silent HOF
    // revert. token_span_filter applies on the UNPINNED base join, so
    // the final plan still shows it; word_grams and deletion_variants
    // moved behind the r21 gated pins, so they are asserted on the
    // PRE-checkpoint builders (the r16 rule: a checkpointed plan is just
    // an RDD scan — assert on the builder that actually computes it).
    assert(plan("q196_span_removal").contains("token_span_filter"))
    import spark.implicits._
    val gramsB = graft.operators.Dedup.spanGramsPlan(
      Seq((1L, Seq("a", "b", "c", "d", "e", "f")))
        .toDF("doc_id", "toks"), 5)
      .queryExecution.executedPlan.toString
    assert(gramsB.contains("word_grams"), gramsB)
    val varB = graft.operators.Dedup.deletionVariantsPlan(
      Seq((1L, "abc")).toDF("id", "s"))
      .queryExecution.executedPlan.toString
    assert(varB.contains("deletion_variants"), varB)
  }

  test("plan shapes: r20 containment routes stay scale-safe " +
      "(q259/q261 locks)") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q259 one-sided containment: the rarest-k probe is a bounded HASH
    // aggregate (rarest_min_k partial buffers cap at k) feeding an
    // equi-join on tok — never a per-doc sort/window (a rank window
    // partitioned by doc_id would materialize every doc's full shingle
    // list per partition) and never a cartesian over docs
    val p259 = plan("q259_containment_onesided")
    assert(!p259.contains("CartesianProduct") &&
      !p259.contains("BroadcastNestedLoopJoin"), p259)
    assert(!p259.contains("Window"), p259)
    assert(p259.contains("rarest_min_k"), p259)

    // q261 union twin: both candidate generators are equi-joins (band
    // bucket / tok); the cross-generator dedupe is a hash aggregate —
    // same no-pathological-operator contract. (The banded leg's
    // bucket-size prune uses a count window PARTITIONED by (band, bh) —
    // splittable — so only the global-window shape is refused.)
    val p261 = plan("q261_containment_union")
    assert(!p261.contains("CartesianProduct") &&
      !p261.contains("BroadcastNestedLoopJoin"), p261)
    assert(!p261.contains("SinglePartition"), p261)
  }

  test("plan shapes: round-14 additions stay scale-safe (q245-q250 locks)") {
    val sfDir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

    // q245 prefixHotness: the diagnostic must stay STRICTLY cheaper than
    // the join it advises — aggregates and one dictionary equi-join only,
    // never a Window (the r11 rule: a count window partitioned by tok is
    // unsplittable on a corpus-hot token) and never a candidate self-join
    val p245 = plan("q245_prefix_hotness")
    assert(!p245.contains("Window"), p245)
    assert(!p245.contains("CartesianProduct") &&
      !p245.contains("BroadcastNestedLoopJoin"), p245)
    val n245 = p245.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(n245 <= 5, s"q245 grew extra hash exchanges ($n245):\n$p245")

    // q246/q247 variant contracts: ONE pivoted aggregate + ONE global
    // aggregate over the same prepared frame, joined on the ≤20-row site
    // key — the reference's 40-category × 5-metric Python loop as two
    // exchanges per aggregate, no window, no cartesian, and the final
    // join never shuffles the pivot (broadcast or partitioning reuse)
    for (q <- Seq("q246_nex_contract", "q247_pl_contract",
        "q250_plcr_contract")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: $p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
      val n = p.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(n <= 4, s"$q grew extra hash exchanges ($n):\n$p")
    }

    // q248 bucketHotness: like q245, the diagnostic stays strictly
    // cheaper than the join it advises — two aggregates over map-side
    // signatures, no window, no join of any kind
    val p248 = plan("q248_bucket_hotness")
    assert(!p248.contains("Window"), p248)
    assert(!p248.toLowerCase.contains("join"), p248)
    val n248 = p248.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(n248 <= 2, s"q248 grew extra hash exchanges ($n248):\n$p248")

    // q249 capped LSH pairs: the hot-bucket guard must be the aggregate +
    // semi-join shape (splittable under a collapsed signature), never a
    // count window, and the candidate join stays an equi-join
    val p249 = plan("q249_lsh_capped")
    assert(!p249.contains("Window"), p249)
    assert(!p249.contains("CartesianProduct") &&
      !p249.contains("BroadcastNestedLoopJoin"), p249)
    val n249 = p249.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(n249 <= 5, s"q249 grew extra hash exchanges ($n249):\n$p249")
  }

  test("plan shape: shingleToksPlan never re-derives shingling into a " +
    "pushed filter (r16 q245 lock)") {
    // The r15 regression: aliasing the shingle array and exploding the
    // ATTRIBUTE let InferFiltersFromGenerate synthesize
    // size(char_shingles(...)) > 0, which predicate pushdown carried
    // below the fan-out Repartition onto the narrow scan — serial,
    // multiple shingling passes per row (q245 3.4–4.2 → 6.7 s). Lock the
    // fixed shape on the OPTIMIZED plan (pre-checkpoint — the shipped
    // operators checkpoint this very plan on small inputs, which would
    // hide the shape behind an RDD scan):
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the fixture scan is narrower than the cores, so the shipped spread
    // (Spread.fanOutScan's hash placement) is in the plan as well as the
    // round-robin one
    assert(graft.operators.Spread.narrow(docs))
    for (spread <- Seq(docs.repartition(4),
        graft.operators.Spread.fanOutScan(docs, col("doc_id")))) {
      val base = spread.filter(length(trim(col("text"))) > 0)
      val plan = graft.operators.Dedup
        .shingleToksPlan(base, "doc_id", "text")
        .queryExecution.optimizedPlan.toString
      val lines = plan.split("\n")
      // 1. no Filter anywhere re-deriving the shingling expression
      assert(!lines.exists(l => l.contains("Filter") &&
        l.contains("char_shingles")),
        s"inferred filter re-derives char_shingles:\n$plan")
      // 2. the generator input is the inline expression, not an attribute
      assert(plan.contains("Generate explode(char_shingles("),
        s"generator input is no longer the inline shingling expression " +
          s"(InferFiltersFromGenerate can fire again):\n$plan")
      // 3. shingling is evaluated exactly twice per INPUT row (size for n +
      //    the generator) — a third occurrence means it leaked above the
      //    Generate where it runs per SHINGLE row (measured 21 s vs 0.6 s)
      val occurrences = "char_shingles\\(".r.findAllIn(plan).length
      assert(occurrences == 2,
        s"expected exactly 2 char_shingles sites (n Project + Generate), " +
          s"got $occurrences:\n$plan")
      // 4. n is computed BELOW the Generate: the size(...) Project line
      //    appears after (deeper than) the Generate line in the tree print
      val genIdx = lines.indexWhere(_.contains("Generate explode"))
      val sizeIdx = lines.indexWhere(_.contains("size(char_shingles"))
      assert(genIdx >= 0 && sizeIdx > genIdx,
        s"size(char_shingles) must sit below the Generate:\n$plan")
    }
  }

  test("plan shape: multi-table LSH dedups candidates BEFORE the vector " +
    "verify (r17 q254 lock)") {
    // The OR-construction's cost story hangs on two shape facts: (1) the
    // per-table bucket collision join happens on (vid, tbl, bucket) rows
    // and its duplicates are collapsed by ONE distinct aggregate keyed on
    // the id pair; (2) the exact cosine verify joins the endpoint vectors
    // back AFTER that dedup, so a pair colliding in all L tables is
    // scored once. In the optimized plan tree (children print deeper)
    // that is: verify joins < distinct aggregate < bucket join.
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.operators.Similarity.lshNearPairsTables(
        vecs, "vec_id", "embedding", minSim = 0.1)
      .queryExecution.optimizedPlan.toString
    val lines = plan.split("\n")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      plan)
    val aggIdx = lines.indexWhere(l => l.contains("Aggregate") &&
      l.contains("id_a") && l.contains("id_b"))
    assert(aggIdx >= 0, s"candidate-pair distinct missing:\n$plan")
    val bucketJoinIdx = lines.indexWhere(l => l.contains("Join") &&
      l.contains("bucket#"))
    assert(bucketJoinIdx > aggIdx,
      s"bucket collision join must sit BELOW the pair distinct:\n$plan")
    val verifyJoinIdx = lines.indexWhere(l => l.contains("Join") &&
      l.contains("id_a#"))
    assert(verifyJoinIdx >= 0 && verifyJoinIdx < aggIdx,
      s"vector verify joins must sit ABOVE the pair distinct:\n$plan")
  }

  test("plan shape: multi-probe LSH projects the signature ONCE below the " +
    "probe explode (r17 item 5 lock)") {
    // The exactly-once pair-emission argument needs the probe buckets to
    // be flips of ONE evaluated signature. That used to lean on codegen
    // subexpression elimination over bits+1 inline copies of the
    // plane expression; now the signature is projected as an attribute
    // and the probe array is xor flips of it — robust to interpreted
    // fallback. Lock: (1) the generator input array references the
    // projected attribute, not an inline plane projection; (2) the
    // signature expression appears exactly twice in the whole plan (home
    // side + probe-side project), not bits + 2 times; (3) no
    // InferFiltersFromGenerate-derived filter re-derives it.
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.operators.Similarity.lshNearPairsMultiProbe(
        vecs, "vec_id", "embedding", minSim = 0.9)
      .queryExecution.optimizedPlan.toString
    val lines = plan.split("\n")
    val genLine = lines.filter(_.contains("Generate explode(array("))
    assert(genLine.length == 1, s"expected one probe explode:\n$plan")
    assert(genLine.head.contains("sig#"),
      s"probe array no longer flips the projected sig attribute:\n$plan")
    assert(!genLine.head.contains("zip_with"),
      s"probe array re-inlines the plane projection:\n$plan")
    // the lattice signature's plane dot products print as zip_with(...)
    // aggregates, one per plane. Home side evaluates it once, the
    // probe-side project once — 2 sites × the joins' 4 planes.
    val planeSites = "zip_with\\(".r.findAllIn(plan).length
    assert(planeSites == 2 * 4,
      s"expected 8 plane sites (2 signature evaluations), got " +
        s"$planeSites:\n$plan")
    assert(!lines.exists(l => l.contains("Filter") && l.contains("zip_with")),
      s"inferred filter re-derives the signature:\n$plan")
  }

  test("dqRuleReport: one-pass suite, NULL predicate counts as violation") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(5.0), "ok"),
      (2L, Some(-1.0), "ok"),
      (3L, None, "bad"), // NULL value: `v > 0` is NULL → must count as viol
      (4L, Some(10.0), "ok")).toDF("id", "v", "tag")
    val out = graft.operators.Maintenance.dqRuleReport(df, Seq(
        ("v_positive", "v > 0", "error"),
        ("tag_ok", "tag = 'ok'", "warn"),
        ("id_positive", "id > 0", "error")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // v_positive: rows 2 (false) and 3 (NULL) violate — the three-valued
    // trap made explicit
    assert(out("v_positive") == ((4L, 2L, 0.5)))
    assert(out("tag_ok") == ((4L, 1L, 0.25)))
    assert(out("id_positive") == ((4L, 0L, 0.0)))
    // ONE aggregate pass regardless of rule count: a single scan of df
    val plan = graft.operators.Maintenance.dqRuleReport(df,
      Seq(("a", "v > 0", "e"), ("b", "id > 1", "e")))
      .queryExecution.executedPlan.toString
    assert(plan.split("\n").count(_.contains("LocalTableScan")) <= 1, plan)
  }

  test("equiWidthHistogram: exact bins, conserved mass, extremes in end bins") {
    import spark.implicits._
    import graft.operators.Maintenance
    // 2-decimal values spanning [0.25, 100.00]; known hand-computed bins
    val vals = Seq(0.25, 0.26, 12.50, 25.00, 49.99, 50.00, 75.01, 100.00)
    val hist = Maintenance.equiWidthHistogram(
      vals.map(Tuple1(_)).toDF("value"), "value", 4)
      .collect().map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("lo"), r.getAs[Double]("hi")))
      .toMap
    // width = (10000-25+1)/4 cents: bin 0 = [25, 2518], 1 = [2519, 5012],
    // 2 = [5013, 7506], 3 = [7507, 10000]
    assert(hist(0L) == ((4L, 0.25, 25.00)))
    assert(hist(1L) == ((2L, 49.99, 50.00)))
    assert(hist(2L) == ((1L, 75.01, 75.01)))
    assert(hist(3L) == ((1L, 100.00, 100.00)))
    assert(hist.keys.forall(b => b >= 0L && b < 4L))
    // mass conservation: counts and cents-exact sums add back up
    assert(hist.values.map(_._1).sum == vals.size)
    val total = Maintenance.equiWidthHistogram(
      vals.map(Tuple1(_)).toDF("value"), "value", 4)
      .agg(sum(col("sum_value"))).collect()(0).getDouble(0)
    assert(math.abs(total - vals.sum) < 1e-9)
    // degenerate: all-equal column lands in one bin, no div-by-zero
    val one = Maintenance.equiWidthHistogram(
      Seq(7.77, 7.77, 7.77).map(Tuple1(_)).toDF("value"), "value", 16)
      .collect()
    assert(one.length == 1 && one(0).getAs[Long]("cnt") == 3L)
  }

  test("chiSquareCells: hand-computed 2x2 contributions sum to the statistic") {
    import spark.implicits._
    import graft.operators.Maintenance
    // counts: (a,x)=3 (a,y)=1 (b,x)=1 (b,y)=3 → E=2 everywhere,
    // chi2 = 4 · (1²/2) = 2.0; per cell (N·O−R·C)²/(N·R·C) = 64/128 = 0.5
    val rows = Seq.fill(3)(("a", "x")) ++ Seq(("a", "y")) ++
      Seq(("b", "x")) ++ Seq.fill(3)(("b", "y"))
    val got = Maintenance.chiSquareCells(rows.toDF("lang", "src"), "lang", "src")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[String]("src")) ->
        (r.getAs[Long]("o"), r.getAs[Long]("r"), r.getAs[Long]("c"),
          r.getAs[Long]("n"), r.getAs[Long]("contrib_u"))).toMap
    assert(got(("a", "x")) == ((3L, 4L, 4L, 8L, 500000L)))
    assert(got(("b", "y")) == ((3L, 4L, 4L, 8L, 500000L)))
    assert(got(("a", "y")) == ((1L, 4L, 4L, 8L, 500000L)))
    assert(got.values.map(_._5).sum == 2000000L)
    // independent columns → zero contribution everywhere
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
    val zero = Maintenance.chiSquareCells(ind.toDF("lang", "src"), "lang", "src")
      .agg(sum(col("contrib_u"))).collect()(0).getLong(0)
    assert(zero == 0L)
  }

  test("benfordProfile: cents-string digit, zero/null excluded, shares sum to 1") {
    import spark.implicits._
    import graft.operators.Maintenance
    // 123.45 → digit 1; 0.02 → 2 (sub-unit values still lead correctly);
    // -9.00 → 9 (abs); 0.00 and null are excluded
    val vals = Seq(Some(123.45), Some(0.02), Some(-9.00), Some(0.00),
      None, Some(1.00), Some(19.99))
    val got = Maintenance.benfordProfile(vals.toDF("value"), "value")
      .collect().map(r => r.getAs[Long]("digit") ->
        (r.getAs[Long]("n"), r.getAs[Long]("total"),
          r.getAs[Double]("benford_r"))).toMap
    assert(got(1L) == ((3L, 5L, 0.301030)))
    assert(got(2L) == ((1L, 5L, 0.176091)))
    assert(got(9L) == ((1L, 5L, 0.045757)))
    assert(got.values.map(_._1).sum == 5L)
  }

  test("equiDepthHistogram: hot value owns its span, uniform splits evenly") {
    import spark.implicits._
    import graft.operators.Maintenance
    // 4×1.00, 2×2.00, 2×3.00, B=4: cum_lt 0/4/6 → buckets 0/2/3
    // (the hot 1.00 spans buckets 0-1, so bucket 1 is empty)
    val hot = Seq.fill(4)(1.00) ++ Seq.fill(2)(2.00) ++ Seq.fill(2)(3.00)
    val g1 = Maintenance.equiDepthHistogram(
      hot.map(Tuple1(_)).toDF("value"), "value", 4)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    assert(g1 == Map(0L -> ((4L, 1L, 1.00, 1.00)),
      2L -> ((2L, 1L, 2.00, 2.00)), 3L -> ((2L, 1L, 3.00, 3.00))))
    // uniform 1..8 once each, B=4 → every bucket holds exactly 2 rows
    val g2 = Maintenance.equiDepthHistogram(
      (1 to 8).map(v => Tuple1(v.toDouble)).toDF("value"), "value", 4)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n_rows"))
      .toMap
    assert(g2 == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("columnProfile: null/distinct accounting, per-column pruned scans") {
    import spark.implicits._
    import graft.operators.Maintenance
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None), (Some(2L), Some("b")),
      (None, Some("b"))
    ).toDF("id", "tag")
    val got = Maintenance.columnProfile(df, Seq("id", "tag"))
      .collect().map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_nonnull"),
          r.getAs[Long]("n_distinct"), r.getAs[Double]("completeness_r")))
      .toMap
    assert(got("id") == ((4L, 3L, 2L, 0.75)))
    assert(got("tag") == ((4L, 3L, 2L, 0.75)))
  }

  test("mergeFingerprints: folded disjoint halves equal the direct fingerprint") {
    import spark.implicits._
    import graft.operators.Maintenance
    val rows = (1L to 200L).map(i => (i, s"v$i", i % 7)).toDF("id", "s", "k")
    val cols = Seq("id", "s", "k")
    def fp(df: org.apache.spark.sql.DataFrame) =
      Maintenance.tableFingerprint(df, cols).collect()(0)
    val direct = fp(rows)
    val merged = Maintenance.mergeFingerprints(
        Maintenance.tableFingerprint(rows.filter($"id" % 2 === 0), cols),
        Maintenance.tableFingerprint(rows.filter($"id" % 2 === 1), cols))
      .collect()(0)
    assert(merged.toSeq == direct.toSeq)
    // a merge of NON-disjoint inputs must NOT equal the direct value
    // (double-counted rows shift the lanes) — the disjointness contract
    val overlap = Maintenance.mergeFingerprints(
        Maintenance.tableFingerprint(rows, cols),
        Maintenance.tableFingerprint(rows.limit(1), cols)).collect()(0)
    assert(overlap.toSeq != direct.toSeq)
  }

  test("winsorizedStats: exact-rank thresholds, clip accounting, robust mean") {
    import spark.implicits._
    import graft.operators.Maintenance
    // n = 200 cents: one low outlier −5000, 1..198, one high outlier
    // 100000. p1 → the first value whose cumulative count reaches 2, lo = 1;
    // p99 → cumulative 198, hi = 197. −5000 clamps up to 1, 198 and 100000
    // clamp down to 197: sum = 1 + (1+…+197 = 19503) + 197 + 197 = 19898
    // → mean 19898 / 20000 = 0.9949
    val vals = (-50.00 +: (1 to 198).map(_ / 100.0)) :+ 1000.00
    val r = Maintenance.winsorizedStats(
      vals.map(Tuple1(_)).toDF("value"), "value")
      .collect()(0)
    assert((r.getAs[Long]("n"), r.getAs[Long]("lo_c"), r.getAs[Long]("hi_c"),
      r.getAs[Long]("n_clip_lo"), r.getAs[Long]("n_clip_hi"),
      r.getAs[Long]("wins_sum_c"), r.getAs[Double]("wins_mean_r")) ==
      ((200L, 1L, 197L, 1L, 2L, 19898L, 0.9949)))
  }

  test("numericDrift: identical period distributions → zero contributions") {
    import spark.implicits._
    import graft.operators.Maintenance
    val day = 86400L
    // days 0-1 (period A) and 2-3 (period B) carry the SAME value mix
    val rows = for (d <- 0 to 3; v <- Seq(1.00, 2.00, 2.00)) yield
      (v, new java.sql.Timestamp(d * day * 1000))
    val got = Maintenance.numericDrift(rows.toDF("value", "ts"), "value",
        "ts").collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[Long]("lr_ub") == 0L &&
      r.getAs[Double]("contrib_r") == 0.0), got.mkString("\n"))
    assert(got.forall(r => r.getAs[Long]("n_a") == r.getAs[Long]("n_b")))
  }

  test("compact rewrites a small-file directory to the target sizing, losslessly") {
    import spark.implicits._
    val dirPath = SparkTestBase.tempDir("compact")
    val dir = dirPath.resolve("t").toString
    try {
      // 64 tiny files — the accretion pattern of repeated incremental loads
      (0L until 6400L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartition(64).write.parquet(dir)
      val beforeRows = spark.read.parquet(dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val (nBefore, nAfter) = graft.operators.Maintenance.compact(
        spark, dir, targetBytes = 256L * 1024)
      assert(nBefore == 64 && nAfter < 16, s"$nBefore -> $nAfter")
      val afterRows = spark.read.parquet(dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(afterRows == beforeRows) // content byte-identical, layout new
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("approx_count_distinct lands within documented error of exact") {
    // Not oracle-checkable (HLL sketches differ per engine); the engine's
    // contract is relative error <= ~5% at default rsd=0.05.
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val (approx, exact) = li.agg(
      approx_count_distinct(col("l_partkey")).as("a"),
      countDistinct(col("l_partkey")).as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("z-order layout gives every file a tight bounding box in BOTH dims") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val raw = Tables.orders(spark, sfDir)
      .withColumn("day", datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long"))
    // range-normalize each dimension to the full 16-bit domain first —
    // interleaving raw keys with unequal bit-widths degenerates to
    // sorting by the wider dimension alone
    val (ckMin, ckMax, dMin, dMax) = raw.agg(
      min("o_custkey"), max("o_custkey"), min("day"), max("day"))
      .as[(Long, Long, Long, Long)].head()
    def scale16(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lit(lo)) * lit(65535L) / lit(hi - lo)).cast("long")
    val o = raw.select(col("o_orderkey"), col("o_custkey"), col("day"),
      Transforms.zorder16(scale16(col("o_custkey"), ckMin, ckMax),
        scale16(col("day"), dMin, dMax)).as("z"))
    val dirPath = SparkTestBase.tempDir("zord")
    val dir = dirPath.toString
    val perFile = try {
      o.repartitionByRange(8, col("z")).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max("o_custkey") - min("o_custkey")).as("ck_span"),
          (max("day") - min("day")).as("day_span"))
        .agg(avg("ck_span"), avg("day_span"))
        .as[(Double, Double)].head()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val global = o.agg(
      (max("o_custkey") - min("o_custkey")).cast("double"),
      (max("day") - min("day")).cast("double")).as[(Double, Double)].head()
    // each file's average span must be well below the global span in both
    // dimensions — the property that lets min/max stats prune either filter
    assert(perFile._1 < global._1 * 0.7, s"custkey span $perFile vs $global")
    assert(perFile._2 < global._2 * 0.7, s"day span $perFile vs $global")
  }

  test("z-order file stats PRUNE a narrow box in either dim — losslessly") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val raw = Tables.orders(spark, sfDir)
      .withColumn("day", datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long"))
    val (ckMin, ckMax, dMin, dMax) = raw.agg(
      min("o_custkey"), max("o_custkey"), min("day"), max("day"))
      .as[(Long, Long, Long, Long)].head()
    def scale16(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lit(lo)) * lit(65535L) / lit(hi - lo)).cast("long")
    val o = raw.select(col("o_orderkey"), col("o_custkey"), col("day"),
      Transforms.zorder16(scale16(col("o_custkey"), ckMin, ckMax),
        scale16(col("day"), dMin, dMax)).as("z"))
    val dirPath = SparkTestBase.tempDir("zprune")
    try {
      val nFiles = 16
      val zDir = dirPath.resolve("zord").toString
      val dayDir = dirPath.resolve("daysort").toString
      o.repartitionByRange(nFiles, col("z")).sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(zDir)
      // the single-dimension baseline every warehouse already has: the
      // same data range-partitioned by day alone
      o.repartitionByRange(nFiles, col("day")).sortWithinPartitions(col("day"))
        .write.mode("overwrite").parquet(dayDir)

      // the file-stats catalog a planner consults: per-file min/max of
      // each clustered dimension (what parquet footers hold)
      def stats(dir: String) = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("o_custkey").as("ck_lo"), max("o_custkey").as("ck_hi"),
          min("day").as("d_lo"), max("day").as("d_hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val zStats = stats(zDir)
      val dayStats = stats(dayDir)
      assert(zStats.length == nFiles && dayStats.length == nFiles)

      // 10%-wide box per dimension, placed inside one curve half (a box
      // straddling the top-bit midpoint legitimately touches both halves)
      def box(lo: Long, hi: Long): (Long, Long) = {
        val span = hi - lo
        (lo + (span * 0.30).toLong, lo + (span * 0.40).toLong)
      }
      val (ckLo, ckHi) = box(ckMin, ckMax)
      val (dLo, dHi) = box(dMin, dMax)
      def ckHits(s: Array[(String, Long, Long, Long, Long)]) =
        s.filter { case (_, l, h, _, _) => h >= ckLo && l <= ckHi }
      def dayHits(s: Array[(String, Long, Long, Long, Long)]) =
        s.filter { case (_, _, _, l, h) => h >= dLo && l <= dHi }

      // day-sorted layout: day prunes perfectly, custkey not at all —
      // every file's custkey range covers the box
      assert(ckHits(dayStats).length >= nFiles - 1,
        s"baseline should NOT prune custkey: ${ckHits(dayStats).length}/$nFiles")
      // z-order: BOTH dimensions prune. custkey splits on 2 curve bits at
      // 16 files (quarters + range-boundary straddle) — strictly better
      // than the baseline's nothing; day keeps real pruning too
      val zCk = ckHits(zStats).length
      val zDay = dayHits(zStats).length
      assert(zCk <= (nFiles * 3) / 4, s"custkey box hit $zCk/$nFiles z-files")
      assert(zDay <= nFiles / 2, s"day box hit $zDay/$nFiles z-files")

      // losslessness: scanning ONLY the stat-intersecting files returns
      // exactly the full-scan result for the box predicate
      val wantCk = spark.read.parquet(zDir)
        .filter(col("o_custkey").between(ckLo, ckHi)).count()
      val gotCk = spark.read.parquet(ckHits(zStats).map(_._1): _*)
        .filter(col("o_custkey").between(ckLo, ckHi)).count()
      assert(gotCk == wantCk && wantCk > 0)
      val wantD = spark.read.parquet(zDir)
        .filter(col("day").between(dLo, dHi)).count()
      val gotD = spark.read.parquet(dayHits(zStats).map(_._1): _*)
        .filter(col("day").between(dLo, dHi)).count()
      assert(gotD == wantD && wantD > 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
