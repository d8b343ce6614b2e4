package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Transforms

class TransformsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("categorize: last rule wins, default applies") {
    val rules = Seq("cat" -> "FELINE", "dog" -> "CANINE", "catdog" -> "BOTH")
    val df = Seq("the cat", "a dog", "catdog here", "nothing").toDF("name")
      .withColumn("c", Transforms.categorize(rules, "OTHER")(col("name")))
    val got = df.select("name", "c").as[(String, String)].collect().toMap
    assert(got("the cat") == "FELINE")
    assert(got("a dog") == "CANINE")
    // matches 'cat', 'dog' AND 'catdog' — the LAST rule must win
    assert(got("catdog here") == "BOTH")
    assert(got("nothing") == "OTHER")
  }

  test("watermarkFilter keeps newer rows and whole new entities") {
    val incoming = Seq(("A", 5), ("A", 10), ("B", 3), ("C", 1))
      .toDF("sym", "t")
    val wm = Seq(("A", 5), ("B", 99)).toDF("sym", "wm")
    val out = Transforms.watermarkFilter(incoming, wm, Seq("sym"), "t", "wm")
      .as[(String, Int)].collect().toSet
    // A@10 newer, B all stale, C entirely new
    assert(out == Set(("A", 10), ("C", 1)))
  }

  test("watermarkFilter is idempotent after watermark advance") {
    val incoming = Seq(("A", 5), ("A", 10)).toDF("sym", "t")
    val advanced = Transforms.watermarks(incoming, "sym", "t", "wm")
    val out = Transforms.watermarkFilter(incoming, advanced, Seq("sym"), "t", "wm")
    assert(out.isEmpty)
  }

  test("topKPerGroup deterministic under ties via tiebreaker") {
    val df = Seq(("g", 1.0, 1L), ("g", 1.0, 2L), ("g", 1.0, 3L), ("g", 0.5, 4L))
      .toDF("grp", "score", "id")
    val top = Transforms.topKPerGroup(df, Seq(col("grp")),
      Seq(col("score").desc, col("id").asc), 2)
    assert(top.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("carryForward fills from last non-null in order") {
    val df = Seq((1, Some("x")), (2, None), (3, None), (4, Some("y")), (5, None))
      .toDF("i", "v")
    val out = Transforms.carryForward(df, "v", Seq(lit(1)), Seq(col("i")), "f")
      .orderBy("i").select("f").as[Option[String]].collect().toSeq
    assert(out == Seq(Some("x"), Some("x"), Some("x"), Some("y"), Some("y")))
  }

  test("asofJoin: latest right row at-or-before each left ts, per key") {
    val left = Seq(("u1", 10, "a"), ("u1", 20, "b"), ("u1", 30, "c"), ("u2", 5, "d"))
      .toDF("k", "t", "tag")
    val right = Seq(("u1", 10, 1.0), ("u1", 25, 2.5), ("u3", 1, 9.0))
      .toDF("k", "t", "price")
    val out = Transforms.asofJoin(left, right, "k", "t", Seq("price"))
      .select("k", "t", "tag", "price")
      .as[(String, Int, String, Option[Double])].collect().toSet
    assert(out == Set(
      ("u1", 10, "a", Some(1.0)), // inclusive: right at equal ts visible
      ("u1", 20, "b", Some(1.0)),
      ("u1", 30, "c", Some(2.5)),
      ("u2", 5, "d", None))) // no right row for u2 → left join null
  }

  test("asofJoinDirectional: forward/nearest/tolerance semantics per key") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // right at 10s and 25s (user u1); left probes at 10, 20, 30
    val left = Seq(("u1", ts(10000000), 1L), ("u1", ts(20000000), 2L),
      ("u1", ts(30000000), 3L)).toDF("k", "t", "eid")
    val right = Seq(("u1", ts(10000000), 1.0), ("u1", ts(25000000), 2.5))
      .toDF("k", "t", "price")
    def run(dir: String, tol: Long = -1L) =
      Transforms.asofJoinDirectional(left, right, "k", "t", Seq("price"),
          direction = dir, toleranceSeconds = tol)
        .select($"eid", $"price").as[(Long, Option[Double])]
        .collect().toMap
    // forward: earliest right at-or-after (inclusive at equal ts)
    assert(run("forward") == Map(1L -> Some(1.0), 2L -> Some(2.5),
      3L -> None))
    // nearest: 20s is 10s from 10s-right and 5s from 25s-right → 2.5;
    // 30s only has backward 25s → 2.5; 10s ties to itself
    assert(run("nearest") == Map(1L -> Some(1.0), 2L -> Some(2.5),
      3L -> Some(2.5)))
    // nearest with 4s tolerance: only the exact-ts match survives
    assert(run("nearest", tol = 4L) == Map(1L -> Some(1.0), 2L -> None,
      3L -> None))
    // backward matches the legacy asofJoin semantics
    assert(run("backward") == Map(1L -> Some(1.0), 2L -> Some(1.0),
      3L -> Some(2.5)))
  }

  test("funnelWithin: stages outside the gap do not count, inside do") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val ev = Seq(
      // u1: click 40min after view → outside 30min gap → stage 1 only
      ("u1", "view", ts(0)), ("u1", "click", ts(40)),
      // u2: click +10min, purchase +50min after click → stages 2
      ("u2", "view", ts(0)), ("u2", "click", ts(10)),
      ("u2", "purchase", ts(60)),
      // u3: all three within gaps → stages 3
      ("u3", "view", ts(0)), ("u3", "click", ts(20)),
      ("u3", "purchase", ts(45))).toDF("user_id", "event_type", "ts")
    val got = Transforms.funnelWithin(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGapSeconds = 1800L)
      .select($"user_id", $"stages_reached").as[(String, Long)]
      .collect().toMap
    assert(got == Map("u1" -> 1L, "u2" -> 2L, "u3" -> 3L))
  }

  test("melt then pivot round-trips") {
    val wide = Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("id", "a", "b")
    val long = Transforms.melt(wide, Seq("id"), Seq("a", "b"), "k", "v")
    assert(long.count() == 4)
    val back = Transforms.pivotAgg(long, Seq(col("id")), "k", Seq("a", "b"),
      Seq(first(col("v"))))
    val m = back.orderBy("id").as[(Long, Double, Double)].collect().toSeq
    assert(m == Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)))
  }

  test("repairNumeric: ''/NA/garbage → 0, numbers parse") {
    val df = Seq("1.5", "", "NA", " na ", "2", "junk").toDF("raw")
      .select(Transforms.repairNumeric(col("raw")).as("v"))
    assert(df.as[Double].collect().toSeq == Seq(1.5, 0.0, 0.0, 0.0, 2.0, 0.0))
  }

  test("guardedRatio: zero denominator → 0 (WASDE Stocks-to-Use)") {
    val df = Seq((10.0, 2.0), (10.0, 0.0)).toDF("n", "d")
      .select(Transforms.guardedRatio(col("n"), col("d"), lit(100)).as("r"))
    assert(df.as[Double].collect().toSeq == Seq(500.0, 0.0))
  }

  test("intervalJoin equals crossJoin+range-filter, including band edges") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // points every 90s; intervals of varying length incl. exactly-on-band
    // boundaries (band = 600s)
    val left = (0 until 200).map(i => (i.toLong, ts(i * 90L))).toDF("lid", "t")
    val right = Seq(
      (1L, ts(0L), ts(600L)),        // exactly one band
      (2L, ts(500L), ts(1900L)),     // spans 3 bands
      (3L, ts(1200L), ts(1200L)),    // empty interval
      (4L, ts(3000L), ts(3090L)),    // sub-band, starts on boundary
      (5L, ts(17000L), ts(18200L))).toDF("rid", "lo", "hi")
    val banded = Transforms.intervalJoin(left, "t", right, "lo", "hi", 600L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = left.crossJoin(right)
      .filter(col("t") >= col("lo") && col("t") < col("hi"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty)
  }

  test("parseFixedWidth slices by declared layout") {
    val df = Seq("AB  0012xyz").toDF("line")
      .select(Transforms.parseFixedWidth(col("line"),
        Seq(("a", 4), ("num", 4), ("tail", 3))): _*)
    val r = df.as[(String, String, String)].head()
    assert(r == (("AB", "0012", "xyz")))
  }

  test("hashStratifiedSample: deterministic, partitioning-invariant, rate-respecting") {
    // stratum "xx" is NOT in the rates map — the defaultThreshold fallback
    // must kick in (ANSI map element_at returns null on a missing key;
    // this row guards that assumption across Spark upgrades)
    val df = (0L until 4000L).map(i =>
      (i, if (i % 4 == 3) "xx" else if (i % 2 == 0) "en" else "zh"))
      .toDF("id", "stratum")
    val rates = Map("en" -> 2048L, "zh" -> 512L) // 1/2 and 1/8 of 4096
    def ids(d: org.apache.spark.sql.DataFrame) =
      Transforms.hashStratifiedSample(d, "id", "stratum", rates, 256L)
        .select("id").as[Long].collect().toSet
    val once = ids(df)
    // the defining scale property: the decision is per-row hash math, so
    // the sample is identical no matter how the data is partitioned
    assert(ids(df.repartition(13)) == once)
    assert(ids(df.repartition(1)) == once)
    // rates hold within md5-uniformity noise
    val en = once.count(_ % 2 == 0).toDouble / 2000
    val zh = once.count(i => i % 4 == 1).toDouble / 1000
    val xx = once.count(i => i % 4 == 3).toDouble / 1000
    assert(math.abs(en - 0.5) < 0.05, s"en rate $en")
    assert(math.abs(zh - 0.125) < 0.05, s"zh rate $zh")
    assert(math.abs(xx - 0.0625) < 0.04, s"xx default rate $xx")
  }

  test("selectKeepers keeps the best-weight member per cluster, min-id ties") {
    val members = Seq(
      (1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), // cluster 10: tie at 9 → doc 2
      (4L, 40L, 1L)                                  // singleton
    ).toDF("doc_id", "cluster", "n_tok")
    val out = graft.operators.Dedup.selectKeepers(members, "doc_id", "n_tok")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((10L, 2L, 9L, 3L), (40L, 4L, 1L, 1L)))
  }

  test("percentileFilter keeps the top fraction per stratum, exact boundary") {
    // 10 rows per stratum → pr = k/9 for the k-th by score DESC; pr ≤ 0.5
    // keeps k = 0..4, the top five of each stratum
    val df = (for (s <- Seq("a", "b"); i <- 0 until 10)
      yield (s, i.toLong, (if (s == "a") i else 9 - i).toDouble))
      .toDF("stratum", "id", "score")
    val kept = Transforms.percentileFilter(df, Seq(col("stratum")),
      Seq(col("score").desc, col("id").asc), 0.5)
      .select("stratum", "id").as[(String, Long)].collect().toSet
    assert(kept == (5L to 9L).map(("a", _)).toSet ++
      (0L to 4L).map(("b", _)).toSet)
    // a singleton stratum has percent_rank 0 → always kept
    val one = Transforms.percentileFilter(Seq(("z", 1L, 5.0))
      .toDF("stratum", "id", "score"),
      Seq(col("stratum")), Seq(col("score").desc), 0.1).count()
    assert(one == 1L)
  }

  test("deterministicShuffle: bijective permutation, partitioning-invariant") {
    val df = (0L until 1000L).toDF("id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      Transforms.deterministicShuffle(d, "id")
        .as[(Long, Long, Long)].collect().toSet
    val once = rows(df)
    // reproducible under any input partitioning — the scale property
    assert(rows(df.repartition(17)) == once)
    // a true permutation: every id exactly once, (shard, pos) unique,
    // positions contiguous from 1 within each shard
    assert(once.map(_._1).size == 1000)
    assert(once.map(r => (r._2, r._3)).size == 1000)
    once.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3) == (1L to rs.size.toLong).toSet)
    }
    // and actually shuffled: id order within a shard != sorted id order
    val shard0 = once.filter(_._2 == once.head._2).toSeq.sortBy(_._3).map(_._1)
    assert(shard0 != shard0.sorted)
  }

  test("funnel enforces strict event order per user") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: click BEFORE the first view — must not convert
      (2L, "click", 5L), (2L, "view", 10L),
      // user 3: purchase before click — stops at click
      (3L, "view", 10L), (3L, "purchase", 15L), (3L, "click", 20L),
      // user 4: never views — absent from the funnel
      (4L, "click", 10L), (4L, "purchase", 20L),
      // user 5: second view converts via a later click
      (5L, "click", 8L), (5L, "view", 9L), (5L, "click", 12L)
    ).map { case (u, t, s) => (u, t, new java.sql.Timestamp(s * 1000)) }
      .toDF("user_id", "event_type", "ts")
    val got = Transforms.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select(col("user_id").as[Long], col("stages_reached").as[Long])
      .collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("sequenceFeatures: recency order, same-ts tiebreak, short-history zeros") {
    import spark.implicits._
    // dictionary (alphabetical): click=1, purchase=2, view=3
    val ev = Seq(
      // u1: view@10, click@20, purchase@30 → recency [purchase, click, view]
      (1L, "view", 10L, 1L), (1L, "click", 20L, 2L), (1L, "purchase", 30L, 3L),
      // u2: two events at the SAME ts — larger event_id is more recent
      (2L, "view", 5L, 4L), (2L, "click", 5L, 5L)
    ).map { case (u, t, s, id) =>
      (u, t, new java.sql.Timestamp(s * 1000), id)
    }.toDF("user_id", "event_type", "ts", "event_id")
    val got = Transforms.sequenceFeatures(ev, "user_id", "event_type",
        "ts", "event_id")
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((1 to 5).map(i => r.getAs[Long](s"f$i")),
          r.getAs[Long]("n_recent"))).toMap
    assert(got(1L) == ((Seq(2L, 1L, 3L, 0L, 0L), 3L)))
    assert(got(2L) == ((Seq(1L, 3L, 0L, 0L, 0L), 2L)))
  }

  test("laggedCrossCorrelation: perfect lag tracking → ±1, constant → NULL") {
    import spark.implicits._
    val day = 86400L
    def ev(ys: Seq[Long]) = (
      Seq(("v", 0L, 1), ("v", day, 2), ("v", 2 * day, 3)).flatMap {
        case (t, s, k) => Seq.fill(k)((t, s)) } ++
      ys.zipWithIndex.flatMap { case (k, i) =>
        Seq.fill(k.toInt)(("p", (i + 1) * day)) })
      .map { case (t, s) => (t, new java.sql.Timestamp(s * 1000)) }
      .toDF("event_type", "ts")
    // y_{t+1} = 2·x_t exactly → signed r² = +1
    val up = Transforms.laggedCrossCorrelation(ev(Seq(2L, 4L, 6L)),
      "event_type", "ts", "v", "p", 1).collect()(0)
    assert(up.getAs[Long]("n_pairs") == 3L)
    assert(up.getAs[Double]("signed_r2") == 1.0)
    // reversed y → perfect anticorrelation → −1
    val dn = Transforms.laggedCrossCorrelation(ev(Seq(6L, 4L, 2L)),
      "event_type", "ts", "v", "p", 1).collect()(0)
    assert(dn.getAs[Double]("signed_r2") == -1.0)
    // constant y → zero variance → NULL
    val fl = Transforms.laggedCrossCorrelation(ev(Seq(3L, 3L, 3L)),
      "event_type", "ts", "v", "p", 1).collect()(0)
    assert(Option(fl.get(fl.fieldIndex("signed_r2"))).isEmpty)
  }

  test("linearAttribution: equal split, last-5 cap, horizon, no-touch drops") {
    import spark.implicits._
    val ev = (Seq(
      // u1: view + click before purchase 3.00 → 50/50 split
      (1L, "view", 10L, 1L, 0.0), (1L, "click", 20L, 2L, 0.0),
      (1L, "purchase", 30L, 3L, 3.00)) ++
      // u2: SIX views then purchase 1.00 → only the last 5 credited
      (1 to 6).map(i => (2L, "view", i.toLong, (3 + i).toLong, 0.0)) ++ Seq(
      (2L, "purchase", 7L, 10L, 1.00),
      // u3: lone touch far outside the horizon → nothing credited
      (3L, "view", 0L, 11L, 0.0), (3L, "purchase", 500L, 12L, 9.99)))
      .map { case (u, t, s, id, v) =>
        (u, t, new java.sql.Timestamp(s * 1000), id, v)
      }.toDF("user_id", "event_type", "ts", "event_id", "value")
    val got = Transforms.linearAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase",
        lookbackSeconds = 100L)
      .collect().map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("credit_u"),
          r.getAs[Long]("revenue_mu"))).toMap
    // u1: 2 touches à 500000 credit / 150000 mu; u2: 5 à 200000 / 20000
    assert(got == Map(
      "view" -> ((6L, 500000L + 1000000L, 150000L + 100000L)),
      "click" -> ((1L, 500000L, 150000L))))
  }

  test("linearAttribution: same tie value on two users' conversions does " +
      "not merge their touch counts") {
    import spark.implicits._
    // r14 review: tieCol's contract is only per-USER totality, so both
    // purchases here legitimately carry tie=2 — the recount must key on
    // (user, conv_id), not conv_id alone (merged, u1's single touch
    // would be credited 1/3 instead of 1/1)
    val ev = Seq(
      (1L, "view", 10L, 1L, 0.0), (1L, "purchase", 30L, 2L, 3.00),
      (2L, "view", 10L, 1L, 0.0), (2L, "click", 20L, 3L, 0.0),
      (2L, "purchase", 30L, 2L, 1.00))
      .map { case (u, t, s, id, v) =>
        (u, t, new java.sql.Timestamp(s * 1000), id, v) }
      .toDF("user_id", "event_type", "ts", "event_id", "value")
    val got = Transforms.linearAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase",
        lookbackSeconds = 100L)
      .collect().map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("credit_u"),
          r.getAs[Long]("revenue_mu"))).toMap
    // u1: 1 touch à full credit; u2: 2 touches à half
    assert(got == Map(
      "view" -> ((2L, 1000000L + 500000L, 300000L + 50000L)),
      "click" -> ((1L, 500000L, 50000L))))
  }

  test("asofJoin: a null inside the matched right row stays null — no " +
      "stitching from older rows") {
    // r14 review: the old per-column carry filled a=5.0 from ts=1 into
    // the ts=2 match, fabricating a right row that never existed
    val left = Seq(("k", 3)).toDF("k", "t")
    val right = Seq(("k", 1, Some(5.0), Option.empty[Double]),
      ("k", 2, Option.empty[Double], Some(7.0)))
      .toDF("k", "t", "a", "b")
    val out = Transforms.asofJoin(left, right, "k", "t", Seq("a", "b"))
      .select("a", "b").as[(Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq((None, Some(7.0))))
  }

  test("churnSnapshot: data-anchored gaps, churn line, exact shares") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq((1L, 0L), (2L, 20 * day), (3L, 20 * day), (3L, 0L))
      .map { case (u, s) => (u, new java.sql.Timestamp(s * 1000)) }
      .toDF("user_id", "ts")
    val got = Transforms.churnSnapshot(ev, "user_id", "ts")
      .collect().map(r => r.getAs[Long]("days_inactive") ->
        (r.getAs[Long]("n_users"), r.getAs[Boolean]("is_churned"),
          r.getAs[Double]("share_r"))).toMap
    assert(got == Map(
      0L -> ((2L, false, 0.666667)), 20L -> ((1L, true, 0.333333))))
  }

  test("typeCooccurrence: basket pairs, support and lift, independence = 1") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq(
      // 4 baskets: {a,b} {a,b} {a} {b} → nab=2, na=3, nb=3, T=4
      (1L, "a", 0L), (1L, "b", 1L),
      (2L, "a", 0L), (2L, "b", 1L),
      (3L, "a", 0L), (4L, "b", 0L),
      // duplicate same-basket event must not inflate counts
      (1L, "a", 2L)
    ).map { case (u, t, s) => (u, t, new java.sql.Timestamp(s * 1000)) }
      .toDF("user_id", "event_type", "ts")
    val r = Transforms.typeCooccurrence(ev, "user_id", "ts", "event_type")
      .collect()(0)
    // support 2/4 = 0.5; lift = 2·4/(3·3) = 8/9 = 0.888889
    assert((r.getAs[String]("type_a"), r.getAs[String]("type_b"),
      r.getAs[Long]("nab"), r.getAs[Long]("n_baskets"),
      r.getAs[Double]("support_r"), r.getAs[Double]("lift_r")) ==
      (("a", "b", 2L, 4L, 0.5, 0.888889)))
  }

  test("userLifetime: rollup fields, conversion revenue, day span") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq(
      (1L, "view", 0L, 5.00), (1L, "purchase", day, 9.99),
      (1L, "purchase", day + 10, 0.01), (1L, "view", 2 * day, 1.00),
      (2L, "view", 0L, 2.00)
    ).map { case (u, t, s, v) =>
      (u, t, new java.sql.Timestamp(s * 1000), v)
    }.toDF("user_id", "event_type", "ts", "value")
    val got = Transforms.userLifetime(ev, "user_id", "ts", "event_type",
        "value", "purchase")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("active_days"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_conversions"), r.getAs[Long]("revenue_c"),
          r.getAs[Long]("span_days"))).toMap
    assert(got(1L) == ((3L, 4L, 2L, 1000L, 2L)))
    assert(got(2L) == ((1L, 1L, 0L, 0L, 0L)))
  }

  test("transitionEntropy: deterministic successor → 0 bits, uniform → 1 bit") {
    import spark.implicits._
    val ev = Seq(
      // from 'a' the successor is ALWAYS 'b' (2 transitions) → H = 0
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (1L, "a", 30L, 3L),
      (1L, "b", 40L, 4L),
      // from 'b': successors 'a' and 'c' once each → H = 1 bit
      (1L, "c", 50L, 5L)
    ).map { case (u, t, s, id) =>
      (u, t, new java.sql.Timestamp(s * 1000), id)
    }.toDF("user_id", "event_type", "ts", "event_id")
    val got = Transforms.transitionEntropy(ev, "user_id", "event_type",
        "ts", "event_id")
      .collect().map(r => r.getAs[String]("from_type") ->
        (r.getAs[Long]("n_from"), r.getAs[Double]("h_r"))).toMap
    assert(got("a") == ((2L, 0.0)))
    assert(got("b") == ((2L, 1.0)))
  }

  test("fanoBurstiness: constant days → 0, known dispersion fixture") {
    import spark.implicits._
    val day = 86400L
    val ev =
      // type A: 2 events/day for 3 days → variance 0 → Fano 0
      (0 until 3).flatMap(i => Seq(("A", i * day), ("A", i * day + 1))) ++
      // type B: days with 1 and 3 events: mean 2, pop-var 1 → Fano 0.5
      Seq(("B", 0L), ("B", day), ("B", day + 2), ("B", day + 3))
    val df = ev.map { case (k, s) => (k, new java.sql.Timestamp(s * 1000)) }
      .toDF("k", "ts")
    val got = Transforms.fanoBurstiness(df, "k", "ts")
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("daily_mean_r"),
          r.getAs[Double]("fano_r"))).toMap
    assert(got("A") == ((3L, 2.0, 0.0)))
    assert(got("B") == ((2L, 2.0, 0.5)))
  }

  test("dowSeasonality: Monday-1 numbering, per-group totals, flat index 1.0") {
    import spark.implicits._
    // 1970-01-01 was a Thursday (isodow 4); +1 day → Friday (5)
    val ev = Seq(
      ("A", 0L), ("A", 0L), ("A", 86400L),      // A: Thu ×2, Fri ×1
      ("B", 86400L)                              // B: Fri only
    ).map { case (k, s) => (k, new java.sql.Timestamp(s * 1000)) }
      .toDF("k", "ts")
    val got = Transforms.dowSeasonality(ev, "k", "ts")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("dow")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("index_r"))).toMap
    // A-Thu: 2/3·7 = 4.666667 (half-up), A-Fri: 7/3 = 2.333333
    assert(got == Map(
      ("A", 4L) -> ((2L, 4.666667)), ("A", 5L) -> ((1L, 2.333333)),
      ("B", 5L) -> ((1L, 7.0))))
  }

  test("rollingActiveUsers: window coverage, dedup within window, stickiness") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq(
      // user 1 active days 0 and 1 → covers days 0..7 (the 7-day window)
      // but counts ONCE per day
      (1L, 0L), (1L, day),
      // user 2 active day 3 only
      (2L, 3 * day),
      // second event same user same day → no double count
      (1L, day + 100L)
    ).map { case (u, s) => (u, new java.sql.Timestamp(s * 1000)) }
      .toDF("user_id", "ts")
    val got = Transforms.rollingActiveUsers(ev, "user_id", "ts")
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"),
          r.getAs[Double]("stickiness_r"))).toMap
    // max day = Jan 4 (day 3); trailing cover rows past it are dropped
    assert(got == Map(
      "1970-01-01" -> ((1L, 1L, 1.0)),       // u1
      "1970-01-02" -> ((1L, 1L, 1.0)),       // u1 (both activity days cover)
      "1970-01-03" -> ((0L, 1L, 0.0)),       // u1 trailing, no same-day
      "1970-01-04" -> ((1L, 2L, 0.5))))      // u2 active, u1 still in window
  }

  test("interEventGaps: exponential buckets, zero-gap bucket, overflow cap") {
    import spark.implicits._
    val ev = Seq(
      // user 1: gaps 0s, 1s, 3s, 1_050_000s (overflow past 2^20)
      (1L, 0L, 1L), (1L, 0L, 2L), (1L, 1L, 3L), (1L, 4L, 4L),
      (1L, 1050004L, 5L),
      // user 2 contributes no gap (single event)
      (2L, 7L, 6L)
    ).map { case (u, s, id) => (u, new java.sql.Timestamp(s * 1000), id) }
      .toDF("user_id", "ts", "event_id")
    val got = Transforms.interEventGaps(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Long]("lo_s"), r.getAs[Long]("hi_s")))
      .toMap
    assert(got == Map(0L -> ((1L, 0L, 0L)), 1L -> ((1L, 1L, 1L)),
      2L -> ((1L, 3L, 3L)), 21L -> ((1L, 1050000L, 1050000L))))
  }

  test("weekOverWeek: calendar-true lag, NULL without prior week") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq(
      ("X", 0L, 1.00), ("X", 10L, 2.00),          // day 0: n=2, 300c
      ("X", 7 * day, 2.00), ("X", 7 * day + 5, 1.50), ("X", 7 * day + 9, 1.50),
      // day 6 (NOT a week boundary) must not pair with day 0
      ("Y", 6 * day, 4.00)
    ).map { case (k, s, v) => (k, new java.sql.Timestamp(s * 1000), v) }
      .toDF("k", "ts", "value")
    val got = Transforms.weekOverWeek(ev, "k", "ts", "value")
      .collect().map(r => (r.getAs[String]("k"),
        r.getAs[java.sql.Date]("day").toString) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_c"),
          Option(r.get(r.fieldIndex("n_prev"))),
          Option(r.get(r.fieldIndex("delta_n"))))).toMap
    assert(got(("X", "1970-01-08")) == ((3L, 500L, Some(2L), Some(1L))))
    assert(got(("X", "1970-01-01")) == ((2L, 300L, None, None)))
    assert(got(("Y", "1970-01-07")) == ((1L, 400L, None, None)))
  }

  test("pathMining: ordered truncated paths, short journeys kept, exact shares") {
    import spark.implicits._
    val ev = Seq(
      // users 1,2 share view>click>purchase (order by ts, id-tiebreak)
      (1L, "view", 10L, 1L), (1L, "click", 20L, 2L), (1L, "purchase", 30L, 3L),
      (1L, "view", 40L, 4L), // 4th event must be truncated away
      (2L, "view", 5L, 5L), (2L, "click", 5L, 6L), (2L, "purchase", 9L, 7L),
      // user 3: only one event → 1-step path survives
      (3L, "signup", 1L, 8L),
      // user 4: same events as 1 but scrambled times → different path
      (4L, "purchase", 1L, 9L), (4L, "click", 2L, 10L), (4L, "view", 3L, 11L)
    ).map { case (u, t, s, id) =>
      (u, t, new java.sql.Timestamp(s * 1000), id)
    }.toDF("user_id", "event_type", "ts", "event_id")
    val got = Transforms.pathMining(ev, "user_id", "event_type", "ts",
        "event_id", 3)
      .collect().map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("n"), r.getAs[Double]("share_r"))).toMap
    assert(got == Map(
      "view>click>purchase" -> ((2L, 0.5)),
      "signup" -> ((1L, 0.25)),
      "purchase>click>view" -> ((1L, 0.25))))
  }

  test("ohlcBars: open/close follow (ts, id) order, day buckets isolate") {
    import spark.implicits._
    val day0 = 0L; val day1 = 86400L
    val ev = Seq(
      // key A day 0: open 5.00 (earliest); the last TWO events share
      // ts=30 — the larger event_id (3.50) must win the close
      ("A", day0 + 10, 1L, 5.00), ("A", day0 + 20, 2L, 1.00),
      ("A", day0 + 20, 3L, 7.00), ("A", day0 + 30, 5L, 3.50),
      ("A", day0 + 30, 4L, 3.00),
      // key A day 1: single event
      ("A", day1 + 5, 6L, 9.50),
      // key B day 0: descending values
      ("B", day0 + 1, 6L, 4.00), ("B", day0 + 2, 7L, 2.00)
    ).map { case (k, s, id, v) =>
      (k, new java.sql.Timestamp(s * 1000), id, v)
    }.toDF("k", "ts", "id", "value")
    val got = Transforms.ohlcBars(ev, "k", "ts", "id", "value")
      .collect().map(r => (r.getAs[String]("k"),
        r.getAs[java.sql.Date]("day").toString) ->
        (r.getAs[Long]("open_c"), r.getAs[Long]("close_c"),
          r.getAs[Long]("high_c"), r.getAs[Long]("low_c"),
          r.getAs[Long]("n"), r.getAs[Long]("vol_c"))).toMap
    assert(got(("A", "1970-01-01")) == ((500L, 350L, 700L, 100L, 5L, 1950L)))
    assert(got(("A", "1970-01-02")) == ((950L, 950L, 950L, 950L, 1L, 950L)))
    assert(got(("B", "1970-01-01")) == ((400L, 200L, 400L, 200L, 2L, 600L)))
  }

  test("olsTrend: hand-computed slope, negative trend sign, degenerate NULL") {
    import spark.implicits._
    // key a: y(cents) = 100·x exactly at x = 0,1,2 hours → slope 100 c/h
    // key b: y falls 50 cents/hour; key c: one distinct x → NULL slope
    val ev = Seq(
      ("a", 0L, 0.00), ("a", 3600L, 1.00), ("a", 7200L, 2.00),
      ("b", 0L, 9.00), ("b", 3600L, 8.50), ("b", 7200L, 8.00),
      ("c", 100L, 1.00), ("c", 200L, 2.00) // both inside hour 0
    ).map { case (k, s, v) => (k, new java.sql.Timestamp(s * 1000), v) }
      .toDF("k", "ts", "value")
    val got = Transforms.olsTrend(ev, "k", "ts", "value")
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den"),
          Option(r.get(r.fieldIndex("slope_r"))))).toMap
    // n=3, Σx=3, Σxx=5 → den = 15-9 = 6; a: Σxy=500, Σy=300 → num=600
    assert(got("a") == ((600L, 6L, Some(100.0))))
    assert(got("b") == ((-300L, 6L, Some(-50.0))))
    assert(got("c")._3.isEmpty && got("c")._2 == 0L)
  }

  test("lastTouchAttribution: latest in-horizon touch wins, stale/absent → direct") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view then click then purchase — click (latest) wins
      (1L, "view", 10L, 10.0), (1L, "click", 20L, 0.0),
      (1L, "purchase", 30L, 9.99),
      // user 1 again: second purchase still credits the same click
      (1L, "purchase", 40L, 5.00),
      // user 2: only touch is outside the 100 s horizon → direct
      (2L, "view", 10L, 0.0), (2L, "purchase", 200L, 3.50),
      // user 3: no touches at all → direct
      (3L, "signup", 5L, 0.0), (3L, "purchase", 8L, 1.25),
      // user 4: touch at the SAME ts as the purchase but smaller event
      // id — strictly-before by the (ts, event_id) total order → credited
      (4L, "click", 50L, 0.0), (4L, "purchase", 50L, 2.00)
    ).zipWithIndex.map { case ((u, t, s, v), i) =>
      (u, t, new java.sql.Timestamp(s * 1000), i.toLong, v)
    }.toDF("user_id", "event_type", "ts", "event_id", "value")
    val got = Transforms.lastTouchAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase", 100L)
      .select(col("user_id").as[Long], col("touch_type").as[String],
        col("revenue_cents").as[Long]).collect().toSet
    assert(got == Set((1L, "click", 999L), (1L, "click", 500L),
      (2L, "direct", 350L), (3L, "direct", 125L), (4L, "click", 200L)))
    // horizon is inclusive: purchase exactly lookback seconds after the
    // touch is still attributed
    val edge = Transforms.lastTouchAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase", 190L)
      .filter(col("user_id") === 2L)
      .select(col("touch_type").as[String]).collect().toSeq
    assert(edge == Seq("view"))
  }

  test("cohortRetention: day-0 is full, later offsets count distinct actives") {
    import spark.implicits._
    def ts(day: Int, h: Int) = new java.sql.Timestamp(
      (day * 86400L + h * 3600L) * 1000)
    // users 1,2 join day 0; user 1 returns day 1 (twice) and day 3;
    // user 3 joins day 1
    val ev = Seq((1L, ts(0, 1)), (2L, ts(0, 5)), (1L, ts(1, 2)),
      (1L, ts(1, 9)), (1L, ts(3, 0)), (3L, ts(1, 4)))
      .toDF("user_id", "ts")
    val got = Transforms.cohortRetention(ev, "user_id", "ts")
      .select(col("cohort_day").cast("string").as[String],
        col("day_offset").as[Long], col("n_active").as[Long],
        col("retention_r").as[Double]).collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("1970-01-01", 0L)) == ((2L, 1.0)))   // both day-0 users
    assert(got(("1970-01-01", 1L)) == ((1L, 0.5)))   // user 1 only, once
    assert(got(("1970-01-01", 3L)) == ((1L, 0.5)))
    assert(got(("1970-01-02", 0L)) == ((1L, 1.0)))   // user 3's cohort
    assert(got.size == 4)
  }

  test("eventTransitions: time-ordered pairs, conditional shares sum to 1") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (1L, 3L, "a", 30L),
      (2L, 4L, "a", 10L), (2L, 5L, "c", 5L) // c comes FIRST by ts
    ).map { case (u, e, t, s) => (u, e, t, new java.sql.Timestamp(s * 1000)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Transforms.eventTransitions(ev, "user_id", "event_type",
        "ts", "event_id")
      .select(col("from_type").as[String], col("next_type").as[String],
        col("n").as[Long], col("p_r").as[Double]).collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // user 1: a→b→a; user 2: c→a (ts order, not insertion order)
    assert(got == Map(("a", "b") -> ((1L, 1.0)), ("b", "a") -> ((1L, 1.0)),
      ("c", "a") -> ((1L, 1.0))))
  }

  test("timeDecayedAgg: closed-form weights at 0, one, and two half-lives") {
    import spark.implicits._
    val hl = 100L
    val ev = Seq(
      ("a", 200L, 1.00), // age 0   → weight 1e6
      ("a", 100L, 1.00), // age 1hl → 5e5
      ("a", 0L, 1.00),   // age 2hl → 25e4
      ("b", 200L, 2.50)  // age 0   → 1e6, value 250 cents
    ).map { case (g, s, v) => (g, new java.sql.Timestamp(s * 1000), v) }
      .toDF("g", "ts", "value")
    val got = Transforms.timeDecayedAgg(ev, "g", "ts", "value", hl)
      .select(col("g").as[String], col("decayed_n_u").as[Long],
        col("decayed_val_cu").as[Long]).collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == ((1750000L, 175000000L)))
    assert(got("b") == ((1000000L, 250000000L)))
  }

  test("skewProfile reports the hot key's share and count percentiles") {
    import spark.implicits._
    // 9 singleton keys + one key holding 91 of 100 rows
    val df = ((1 to 9).map(k => (k, "x")) ++
      (1 to 91).map(i => (100, s"r$i"))).toDF("k", "v")
    val r = Transforms.skewProfile(df, col("k")).collect()(0)
    assert(r.getAs[Long]("n_rows") == 100 && r.getAs[Long]("n_keys") == 10)
    assert(r.getAs[Long]("max_cnt") == 91)
    assert(r.getAs[Double]("top1_share_r") == 0.91)
    assert(r.getAs[Double]("p50_cnt") == 1.0)
    assert(r.getAs[Double]("skew_r") == 91.0)
  }

  test("calendarFill: dense spine per key, LOCF across gaps, gap flags") {
    import spark.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val daily = Seq(
      ("a", d("2024-01-01"), 10.0),
      ("a", d("2024-01-04"), 40.0),   // 2-day gap: 01-02, 01-03 carry 10.0
      ("b", d("2024-02-10"), 5.0))    // singleton key: 1-row spine, no gap
      .toDF("k", "day", "total")
    val out = Transforms.calendarFill(daily, "k", "day", "total")
      .orderBy("k", "day")
      .as[(String, Date, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      ("a", d("2024-01-01"), 10.0, false),
      ("a", d("2024-01-02"), 10.0, true),
      ("a", d("2024-01-03"), 10.0, true),
      ("a", d("2024-01-04"), 40.0, false),
      ("b", d("2024-02-10"), 5.0, false)), out)
    // key-partitioned window only — never a global single partition
    val plan = Transforms.calendarFill(daily, "k", "day", "total")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window") && !plan.contains("SinglePartition"), plan)
  }

  test("ewmaSmooth: exact geometric weights, ramp-up, per-key isolation") {
    import spark.implicits._
    val ev = Seq(
      ("a", 1L, 101L, 1.00), ("a", 2L, 102L, 2.00), ("a", 3L, 103L, 3.00),
      ("b", 1L, 201L, 7.00))
      .toDF("k", "ts_us", "event_id", "value")
    val out = Transforms.ewmaSmooth(ev, "k", "ts_us", "event_id", "value")
      .orderBy("k", "ts_us")
      .select(col("k"), col("value_c"), col("ewma_num"), col("ewma_den"),
        col("ewma_r"))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // weights 128,64,32,... over the trailing window; den ramps up with
    // the rows actually present, so early rows are unbiased
    assert(out == Seq(
      ("a", 100L, 12800L, 128L, 1.0),
      ("a", 200L, 32000L, 192L, 1.666667),   // (200·128+100·64)/192/100
      ("a", 300L, 54400L, 224L, 2.428571),   // 54400/224/100 = 2.4285714…
      ("b", 700L, 89600L, 128L, 7.0)), out)
    // one key-partitioned Window serves the whole lag chain
    val phys = Transforms.ewmaSmooth(ev, "k", "ts_us", "event_id", "value")
      .queryExecution.executedPlan.toString
    assert(phys.contains("Window") && !phys.contains("SinglePartition"), phys)
    assert(phys.split("Window ").length == 2, phys)
  }
}
