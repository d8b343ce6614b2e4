package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import graft.functions.{GeoFunctions, HashFunctions}
import graft.operators.Transforms

/** Property-based checks (SURVEY §5.4): watermark idempotence, melt∘pivot
  * round-trip, categorizer totality, haversine bounds/symmetry, simhash
  * determinism. Spark actions are expensive, so case counts are small; the
  * pure-Scala properties run at full default counts. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark = SparkTestBase.session
  import spark.implicits._

  private val latGen = Gen.choose(-85.0, 85.0)
  private val lonGen = Gen.choose(-175.0, 175.0)

  property("haversine: symmetric, non-negative, bounded by half circumference") =
    Prop.forAll(latGen, lonGen, latGen, lonGen) { (a, b, c, d) =>
      val df = Seq((a, b, c, d)).toDF("lat1", "lon1", "lat2", "lon2")
      val (fwd, rev) = df.select(
        GeoFunctions.haversineMeters(col("lat1"), col("lon1"), col("lat2"), col("lon2")),
        GeoFunctions.haversineMeters(col("lat2"), col("lon2"), col("lat1"), col("lon1")))
        .as[(Double, Double)].head()
      fwd >= 0 && math.abs(fwd - rev) < 1e-6 &&
        fwd <= math.Pi * GeoFunctions.EarthRadiusM + 1.0
    }

  property("watermark filter is idempotent after advance") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("A", "B", "C"),
      Gen.choose(1, 1000)))) { rows =>
      val df = rows.toDF("sym", "t")
      val wm = Transforms.watermarks(df, "sym", "t", "wm")
      Transforms.watermarkFilter(df, wm, Seq("sym"), "t", "wm").isEmpty
    }

  property("melt ∘ pivot round-trips wide rows") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L),
      Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0)))) { raw =>
      val rows = raw.groupBy(_._1).map(_._2.head).toSeq // unique ids
      val wide = rows.toDF("id", "a", "b")
      val long = Transforms.melt(wide, Seq("id"), Seq("a", "b"), "k", "v")
      val back = Transforms.pivotAgg(long, Seq(col("id")), "k", Seq("a", "b"),
        Seq(first(col("v"))))
      back.as[(Long, Double, Double)].collect().toSet == rows.toSet
    }

  property("categorizer is total: every input gets exactly one category") = {
    val rules = Seq("a+" -> "A", "b" -> "B", "ab" -> "AB")
    Prop.forAll(Gen.listOfN(20, Gen.oneOf("aa", "b", "ab", "zz", ""))) { names =>
      val out = names.toDF("n")
        .select(Transforms.categorize(rules, "DEF")(col("n")).as("c"))
        .as[String].collect()
      out.length == names.length && out.forall(c => Set("A", "B", "AB", "DEF")(c))
    }
  }

  property("banded radiusJoin ≡ crossJoin+filter for arbitrary radii") =
    Prop.forAll(Gen.choose(50000.0, 5000000.0), Gen.choose(1, 1000)) { (r, seed) =>
      // includes near-pole and antimeridian points to exercise the
      // single-cell pole bands and lon wraparound
      val poles = Seq((9001L, 89.9, 10.0), (9002L, -89.8, -179.9),
        (9003L, 88.5, 179.9))
      val left = ((1 to 60).map(i =>
        (i.toLong, ((i * 37 + seed) % 17000) / 100.0 - 85,
          ((i * 91 + seed) % 35000) / 100.0 - 175)) ++ poles)
        .toDF("lid", "lat", "lon")
      val right = ((1 to 15).map(i =>
        (i.toLong, ((i * 53 + seed * 7) % 17000) / 100.0 - 85,
          ((i * 71 + seed * 3) % 35000) / 100.0 - 175)) ++ poles)
        .toDF("rid", "s_lat", "s_lon")
      val banded = graft.operators.GeoJoin.radiusJoin(left, right, r,
        "lat", "lon", "s_lat", "s_lon")
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val brute = left.crossJoin(right)
        .withColumn("d", GeoFunctions.haversineMeters(col("lat"), col("lon"),
          col("s_lat"), col("s_lon")))
        .filter(col("d") <= r)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      banded == brute
    }

  // pure-JVM properties (no Spark) — full case counts are cheap
  property("fnv1a64 is deterministic and spreads single-bit changes") =
    Prop.forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { s =>
      val h1 = HashFunctions.fnv1a64(s.getBytes("UTF-8"))
      val h2 = HashFunctions.fnv1a64(s.getBytes("UTF-8"))
      val h3 = HashFunctions.fnv1a64((s + "x").getBytes("UTF-8"))
      h1 == h2 && h1 != h3
    }

  property("hamming64 is a metric on signatures (range + identity + symmetry)") =
    Prop.forAll(Gen.long, Gen.long) { (a, b) =>
      val d = SpecOracles.hamming64(a, b)
      d >= 0 && d <= 64 && SpecOracles.hamming64(a, a) == 0 &&
        d == SpecOracles.hamming64(b, a)
    }

  property("repairNumeric is total over arbitrary strings") =
    Prop.forAll(Gen.listOfN(10, Gen.oneOf(Gen.alphaNumStr,
      Gen.oneOf("", "NA", "na", " 1.5 ", "-2", "1e3", "junk")))) { raws =>
      val out = raws.toDF("r")
        .select(Transforms.repairNumeric(col("r")).as("v")).as[Double].collect()
      out.length == raws.length && out.forall(v => !v.isNaN)
    }

  property("knnBroadcast equals windowed cross join on random point sets") =
    Prop.forAll(Gen.choose(5, 40), Gen.choose(2, 8), Gen.choose(1L, 999L)) {
      (nl, nr, seed) =>
        val rnd = new scala.util.Random(seed)
        val left = (1 to nl).map(i =>
          (i.toLong, rnd.nextDouble * 170 - 85, rnd.nextDouble * 350 - 175))
          .toDF("lid", "lat", "lon")
        val right = (1 to nr).map(i =>
          (i.toLong, rnd.nextDouble * 170 - 85, rnd.nextDouble * 350 - 175))
          .toDF("rid", "rlat", "rlon")
        val k = 2
        val bc = graft.operators.GeoJoin.knnBroadcast(left, right.collect(), k,
          "lid", "rid", "lat", "lon")
          .select("lid", "knn_rank", "rid", "dist_m")
          .as[(Long, Long, Long, Double)].collect().toSet
        val brute = Transforms.topKPerGroup(
          left.crossJoin(right).withColumn("dist_m",
            GeoFunctions.haversineMeters(col("lat"), col("lon"),
              col("rlat"), col("rlon"))),
          Seq(col("lid")), Seq(col("dist_m").asc, col("rid").asc), k, "knn_rank")
          .select("lid", "knn_rank", "rid", "dist_m")
          .as[(Long, Long, Long, Double)].collect().toSet
        bc == brute
    }

  property("intervalJoin equals crossJoin+filter on random intervals") =
    Prop.forAll(Gen.choose(1L, 999L)) { seed =>
      val rnd = new scala.util.Random(seed)
      import java.sql.Timestamp
      def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
      val left = (1 to 60).map(i => (i.toLong, ts(rnd.nextInt(20000).toLong)))
        .toDF("lid", "t")
      val right = (1 to 10).map { i =>
        val lo = rnd.nextInt(20000).toLong
        (i.toLong, ts(lo), ts(lo + rnd.nextInt(3000).toLong))
      }.toDF("rid", "lo", "hi")
      val banded = Transforms.intervalJoin(left, "t", right, "lo", "hi", 700L)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val brute = left.crossJoin(right)
        .filter(col("t") >= col("lo") && col("t") < col("hi"))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      banded == brute
    }

  property("cents-sum equals decimal-sum for 2dp values") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-99999, 999999))) { centsList =>
      val df = centsList.map(c => c / 100.0).toDF("v")
      val (a, b) = df.select(
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double"),
        (sum(round(col("v") * 100).cast("long")
          .cast(org.apache.spark.sql.types.DecimalType(18, 0))) / lit(100))
          .cast("double")).as[(Double, Double)].head()
      a == b
    }

  property("zorder16 is a bijection on the 16-bit x 16-bit domain") =
    Prop.forAll(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L),
        Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)) { (a1, b1, a2, b2) =>
      val df = Seq((a1, b1), (a2, b2)).toDF("a", "b")
        .select(Transforms.zorder16(col("a"), col("b")).as("z"))
      val zs = df.as[Long].collect()
      // injective: distinct inputs -> distinct keys; and invertible by
      // de-interleaving the bits
      def deinterleave(z: Long): (Long, Long) = {
        var (a, b) = (0L, 0L)
        for (i <- 0 until 16) {
          a |= ((z >> (2 * i)) & 1L) << i
          b |= ((z >> (2 * i + 1)) & 1L) << i
        }
        (a, b)
      }
      deinterleave(zs(0)) == ((a1, b1)) && deinterleave(zs(1)) == ((a2, b2)) &&
        (((a1, b1) == ((a2, b2))) == (zs(0) == zs(1)))
    }

  property("globalTopK equals sort-take with ranks attached") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-1000, 1000)), Gen.choose(1, 8)) {
      (xs, k) =>
        val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        val got = Transforms.globalTopK(df,
          Seq(col("v").desc, col("id").asc), k)
          .select("id", "v", "rnk").as[(Long, Int, Long)].collect().toList
        val expect = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .sortBy { case (i, v) => (-v, i) }.take(k)
          .zipWithIndex.map { case ((i, v), r) => (i, v, r + 1L) }
        got.sortBy(_._3) == expect
    }

  // xlsx codec roundtrip: arbitrary string/number/bool/blank grids survive
  // write → binary decode with the documented rendering (ints drop ".0",
  // trailing blanks are absent → rows re-read left-ragged). Pure JVM
  // (no Spark action), so it runs at a higher case count.
  private val cellGen: Gen[graft.sources.XlsxCell] = Gen.oneOf(
    Gen.asciiPrintableStr.map(s => graft.sources.XlsxCell.Str(s.take(40))),
    Gen.choose(-1000000L, 1000000L).map(n => graft.sources.XlsxCell.Num(n.toDouble)),
    Gen.choose(-1e6, 1e6).map(graft.sources.XlsxCell.Num),
    Gen.oneOf(true, false).map(graft.sources.XlsxCell.Bool),
    Gen.const(graft.sources.XlsxCell.Blank))

  private def render(c: graft.sources.XlsxCell): String = c match {
    case graft.sources.XlsxCell.Str(s) => s
    case graft.sources.XlsxCell.Num(d) =>
      if (d == math.rint(d) && math.abs(d) < 1e15) math.round(d).toString
      else d.toString
    case graft.sources.XlsxCell.Bool(b) => b.toString
    case _ => ""
  }

  property("xlsx write→read roundtrip renders every cell as documented") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(cellGen).map(_.take(8))).map(_.take(12))) { grid =>
      val bytes = graft.sources.XlsxWriter.write(
        Seq(graft.sources.XlsxSheet("g", grid.map(_.toSeq))))
      val got = graft.sources.XlsxReader.readSheet(bytes, "g")
        .map(r => r.rowIdx -> r.cells).toMap
      grid.zipWithIndex.forall { case (row, i) =>
        val expect = row.map(render)
        // absent trailing cells read back ragged; missing row = all-blank
        val gotRow = got.getOrElse(i.toLong, Seq.empty)
        expect.zipAll(gotRow, "", "").forall { case (e, g) => e == g }
      }
    }

  // tiny vocab forces gram repeats; the reference recomputes every slot
  // of the compiled single-pass expression independently (pure function —
  // no Spark action per case)
  private val gopherDocGen: Gen[String] =
    Gen.listOf(Gen.oneOf("aa", "b", "ccc", "dddd")).map(_.mkString(" "))

  property("gopherStats equals an independent reference on random docs") =
    Prop.forAll(gopherDocGen) { text =>
      val got = graft.functions.RepetitionOps
        .gopherStats(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray().toSeq
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val perN = Seq(2, 3, 4, 5, 10).flatMap { n =>
        if (toks.length < n) Seq(0L, 0L)
        else {
          val counts = toks.sliding(n).map(_.mkString(" ")).toSeq
            .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
          val top = counts.toSeq
            .map { case (g, c) => c * (1L << 31) + g.length }.max
          val dup = counts.collect {
            case (g, c) if c >= 2 => c * g.length }.sum
          Seq(top, dup)
        }
      }
      val normChars =
        if (toks.isEmpty) 0L else (toks.map(_.length).sum + toks.length - 1).toLong
      got == perN ++ Seq(toks.length.toLong, normChars)
    }

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
    host <- Gen.oneOf("Example.COM", "a.b.ORG", "host")
    port <- Gen.oneOf("", ":80", ":443", ":8443")
    segs <- Gen.listOf(Gen.oneOf("A", "b", "Cc")).map(_.take(4))
    slashes <- Gen.oneOf("/", "//")
    trail <- Gen.oneOf("", "/")
    params <- Gen.someOf("utm_source=x", "b=2", "a=1", "gclid=9", "z=")
    frag <- Gen.oneOf("", "#f", "#Sec2")
  } yield {
    val path = if (segs.isEmpty) "" else segs.mkString(slashes, slashes, trail)
    val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
    s"$scheme://$host$port$path$q$frag"
  }

  property("canonicalUrl is idempotent (canonical forms are fixed points)") =
    Prop.forAll(Gen.listOfN(6, urlGen)) { urls =>
      val once = urls.toDF("url")
        .select(graft.functions.TextFunctions.canonicalUrl(col("url")))
        .as[String].collect().toSeq
      val twice = once.toDF("url")
        .select(graft.functions.TextFunctions.canonicalUrl(col("url")))
        .as[String].collect().toSeq
      once == twice
    }

  property("rocAuc stays in [0,1] and u2 obeys the rank-sum identity bound") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(-50L, 50L), Gen.oneOf(0, 1)))) { rows =>
      val hasBoth = rows.exists(_._2 == 1) && rows.exists(_._2 == 0)
      !hasBoth || {
        val r = graft.serving.ModelScoring
          .rocAuc(rows.toDF("s", "y"), col("s"), col("y")).collect()(0)
        val (np, nn, u2, auc) = (r.getAs[Long]("n_pos"),
          r.getAs[Long]("n_neg"), r.getAs[Long]("u2"),
          r.getAs[Double]("auc_r"))
        np + nn == rows.size && u2 >= 0 && u2 <= 2 * np * nn &&
          auc >= 0.0 && auc <= 1.0
      }
    }

  property("histograms conserve mass: equi-width and equi-depth row sums") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-10000, 10000))) { cents =>
      val df = cents.map(_ / 100.0).map(Tuple1(_)).toDF("value")
      val w = graft.operators.Maintenance.equiWidthHistogram(df, "value", 8)
        .agg(sum(col("cnt"))).collect()(0).getLong(0)
      val d = graft.operators.Maintenance.equiDepthHistogram(df, "value", 8)
        .agg(sum(col("n_rows"))).collect()(0).getLong(0)
      w == cents.size && d == cents.size
    }

  property("winsorizedStats: thresholds ordered, clips+kept = n, mean in range") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-10000, 10000))) { cents =>
      val df = cents.map(_ / 100.0).map(Tuple1(_)).toDF("value")
      val r = graft.operators.Maintenance
        .winsorizedStats(df, "value").collect()(0)
      val (n, lo, hi) = (r.getAs[Long]("n"), r.getAs[Long]("lo_c"),
        r.getAs[Long]("hi_c"))
      val clips = r.getAs[Long]("n_clip_lo") + r.getAs[Long]("n_clip_hi")
      lo <= hi && n == cents.size && clips <= n &&
        r.getAs[Long]("wins_sum_c") >= lo * n &&
        r.getAs[Long]("wins_sum_c") <= hi * n
    }

  property("giniConcentration lands in [0, 1) on non-empty corpora") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1, 30))) { lens =>
      val docs = lens.zipWithIndex
        .map { case (k, i) => (i.toLong, Seq.fill(k)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val g = graft.operators.Corpus.giniConcentration(docs, "doc_id", "text")
        .collect()(0).getAs[Double]("gini_r")
      g >= 0.0 && g < 1.0
    }

  property("asofJoinDirectional(nearest) equals brute-force nearest with backward ties") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0L, 50L)),
      Gen.nonEmptyListOf(Gen.choose(0L, 50L))) { (lts, rtsRaw) =>
      // unique right timestamps (the operator's documented contract)
      val rts = rtsRaw.distinct
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
      val left = lts.zipWithIndex.map { case (s, i) => ("k", t(s), i.toLong) }
        .toDF("k", "ts", "eid")
      val right = rts.map(s => ("k", t(s), s.toDouble)).toDF("k", "ts", "p")
      val got = Transforms.asofJoinDirectional(left, right, "k", "ts",
          Seq("p"), direction = "nearest")
        .select($"eid", $"p").as[(Long, Option[Double])].collect().toMap
      lts.zipWithIndex.forall { case (s, i) =>
        // brute force: min |Δ|, backward (rts <= ts) wins ties
        val best = rts.minBy(r => (math.abs(r - s), if (r <= s) 0 else 1))
        got(i.toLong).contains(best.toDouble)
      }
    }

  property("editDistanceJoin equals brute force on random small-alphabet strings") =
    Prop.forAll(Gen.listOfN(12,
      Gen.choose(0, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString)))) { strs =>
      def lev(a: String, b: String): Int = {
        val m = Array.tabulate(a.length + 1, b.length + 1) { (x, y) =>
          if (x == 0) y else if (y == 0) x else 0 }
        for (x <- 1 to a.length; y <- 1 to b.length)
          m(x)(y) = math.min(math.min(m(x - 1)(y) + 1, m(x)(y - 1) + 1),
            m(x - 1)(y - 1) + (if (a(x - 1) == b(y - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      val df = strs.zipWithIndex.map { case (s2, i) => (i.toLong, s2) }
        .toDF("id", "s")
      val got = graft.operators.Dedup.editDistanceJoin(df, "id", "s")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        i <- strs.indices; j <- strs.indices
        if i < j && lev(strs(i), strs(j)) <= 1
      } yield (i.toLong, j.toLong)).toSet
      got == brute
    }

  property("waterfill: alloc≤cap, saturated==cap, Σalloc==min(budget, Σcap)") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 1000L), Gen.choose(1L, 9L))),
      Gen.choose(0L, 5000L)) { (rows, budget) =>
      val df = rows.zipWithIndex
        .map { case ((cap, w), i) => (s"s$i", cap, w) }
        .toDF("source", "cap", "w")
        .withColumn("budget", lit(budget))
      val got = graft.operators.Corpus
        .waterfillAllocation(df, "source", "cap", "w", "budget")
        .select($"cap", $"is_saturated", $"alloc")
        .as[(Long, Boolean, Double)].collect()
      val totalCap = rows.map(_._1).sum
      val expect = math.min(budget, totalCap).toDouble
      got.forall { case (cap, sat, a) =>
        a >= -1e-9 && a <= cap + 1e-9 && (!sat || a == cap.toDouble)
      } && math.abs(got.map(_._3).sum - expect) <= 1e-6 * math.max(expect, 1.0)
    }

  // pure-Scala: full default case counts
  private val wordGen = Gen.nonEmptyListOf(
    Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "longerword"))
    .map(_.mkString(" "))

  property("cdcChunks: chunks PARTITION the text (lossless reassembly)") =
    Prop.forAll(wordGen, Gen.choose(2, 12), Gen.choose(2, 128)) {
      (text, w, d) =>
        val arr = graft.functions.CdcOps.cdcChunks(
          org.apache.spark.unsafe.types.UTF8String.fromString(text), w, d)
        val chunks = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        chunks.mkString("") == text && chunks.forall(_.nonEmpty)
    }

  property("apportionment: sums to budget exactly, within 1 of exact quota") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(1L, 1000L)).map(_.take(12)),
      Gen.choose(1L, 5000L)) { (ws, budget) =>
      // the q237 algebra in miniature: floor + largest-remainder repair
      val t = ws.sum
      val fl = ws.map(w => w * budget / t)
      val rem = ws.map(w => (w * budget) % t)
      val k = (budget - fl.sum).toInt
      val order = rem.zipWithIndex.sortBy { case (r, i) => (-r, i) }
        .map(_._2).take(k).toSet
      val alloc = fl.zipWithIndex.map { case (f, i) =>
        f + (if (order(i)) 1L else 0L)
      }
      alloc.sum == budget &&
        alloc.zip(ws).forall { case (a, w) =>
          math.abs(a - w.toDouble * budget / t) <= 1.0 + 1e-9
        }
    }

  property("wordGrams equals the HOF transform/slice/concat_ws it replaces") =
    Prop.forAll(Gen.choose(2, 6),
      Gen.choose(0, 12).flatMap(k =>
        Gen.listOfN(k, Gen.option(Gen.oneOf("a", "bb", "ccc", "", "d e"))))) {
      (n, toksOpt) =>
      // includes empty arrays, arrays shorter than n, null elements, and
      // tokens that themselves contain spaces — every edge the HOF
      // formulation defines behavior for
      val df = Seq(Tuple1(toksOpt.map(_.orNull))).toDF("toks")
      val native = df.select(
        graft.functions.TextFunctions.wordShinglesRaw(col("toks"), n))
        .as[Seq[String]].head()
      val hof = df.select(transform(
          sequence(lit(0), greatest(size(col("toks")) - lit(n), lit(0))),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
        .as[Seq[String]].head()
      native == hof
    }

  property("wordGrams NULL-array divergence from the HOF is exactly the documented one") =
    Prop.forAll(Gen.choose(2, 6)) { n =>
      // the ONE deliberate divergence (ShingleOps.wordGrams docstring):
      // native is NULL-in/NULL-out, the HOF chain returns [""] because
      // greatest(size(NULL)-n, 0) coalesces to 0 and concat_ws skips the
      // null slice. Unreachable internally (callers filter empty text
      // upstream) but observable to SQL users of word_grams — pin both
      // sides so any drift in either formulation trips this.
      val df = Seq(Tuple1(null: Seq[String])).toDF("toks")
      val native = df.select(
        graft.functions.TextFunctions.wordShinglesRaw(col("toks"), n)).head()
      val hof = df.select(transform(
          sequence(lit(0), greatest(size(col("toks")) - lit(n), lit(0))),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
        .as[Seq[String]].head()
      native.isNullAt(0) && hof == Seq("")
    }

  property("deletionVariants equals the transform/substring HOF it replaces") =
    Prop.forAll(Gen.choose(0, 12).flatMap(k => Gen.listOfN(k,
      Gen.oneOf('a', 'b', 'Z', '0', ' ', 'é', '中'))).map(_.mkString)) { s =>
      // includes the empty string, repeated chars, spaces, and multi-byte
      // code points (substring positions are CHARACTER positions)
      val df = Seq(Tuple1(s)).toDF("s")
      val native = df.select(explode(
          graft.functions.ShingleOps.deletionVariantsCol(col("s"))))
        .as[String].collect().toSeq
      val hof = df.select(explode(expr(
          "transform(sequence(0, length(s)), " +
            "i -> IF(i = 0, s, concat(substring(s, 1, i - 1), " +
            "substring(s, i + 1, length(s) - i))))")))
        .as[String].collect().toSeq
      native == hof
    }

  property("tokenSpanFilter equals the filter/exists HOF it replaces") =
    Prop.forAll(Gen.choose(2, 5), Gen.choose(0, 14), Gen.choose(1L, 9999L)) {
      (n, len, seed) =>
        val rnd = new scala.util.Random(seed)
        // ~1 in 4 tokens null: pins the null-token pass-through branch of
        // the merge sweep (kept nulls stay null) against the HOF
        val toks = (0 until len)
          .map(i => if (rnd.nextInt(4) == 0) null else s"t$i")
        // random start positions, including out-of-range and adjacent/
        // overlapping spans; HALF the cases arrive UNSORTED (eval
        // normalizes with a copy+sort — the HOF is order-insensitive, so
        // equivalence must hold either way)
        val startsSorted = (0 until rnd.nextInt(6))
          .map(_ => rnd.nextInt(len + 3)).distinct.sorted
        val starts =
          if (rnd.nextBoolean()) startsSorted else rnd.shuffle(startsSorted)
        val df = Seq((toks, starts)).toDF("toks", "st")
        val native = df.select(graft.functions.TextFunctions
            .tokenSpanFilter(col("toks"), col("st"), n))
          .as[Seq[String]].head()
        val hof = df.select(expr(
            s"filter(toks, (t, i) -> NOT exists(st, s0 -> s0 <= i AND i <= s0 + ${n - 1}))"))
          .as[Seq[String]].head()
        native == hof
    }

  property("prefixJaccardPairs (uncapped) equals brute force on random corpora") =
    Prop.forAll(Gen.choose(8, 30), Gen.choose(1L, 9999L)) { (nDocs, seed) =>
      // random lengths down to 1 token and a shared template with point
      // mutations — exercises the slice boundary (size(td) near the
      // prefix formula's edge), the length filter, and near-dup recall.
      // NOTE this brute force counts shingle STRINGS while the operator's
      // verify stage merge-scans 64-bit HASH arrays (and its candidate
      // length filter uses string counts): a within-doc xxhash64
      // collision (~n²/2⁶⁵, deterministic per text) would make this
      // property fail reproducibly for that seed with n_inter off by the
      // collision count — that signature means the documented collision
      // caveat fired, not an operator bug (see prefixJaccardPairs
      // docstring).
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 30).map(i => s"v$i")
      val template = (0 until 20).map(_ => vocab(rnd.nextInt(vocab.length)))
      val rows = (0L until nDocs.toLong).map { i =>
        val txt =
          if (i % 3 == 0) // mutated template copy (likely near-dup pair)
            template.zipWithIndex.map { case (w, j) =>
              if (rnd.nextInt(10) == 0) vocab(rnd.nextInt(vocab.length)) else w
            }.mkString(" ")
          else (0 until 1 + rnd.nextInt(24))
            .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
        (i, txt)
      }
      val d = rows.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .prefixJaccardPairs(d, "doc_id", "text", maxDocsPerTok = 10000)
        .select("id_a", "id_b", "n_inter")
        .as[(Long, Long, Long)].collect().toSet
      val toks = d.select(col("doc_id"),
          explode(graft.functions.TextFunctions.charShingles(
            graft.functions.TextFunctions.normalize(col("text")), 8)).as("s"))
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val brute = toks.as("x").join(toks.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("ni"))
        .join(sizes.as("sx"), col("a") === col("sx.doc_id"))
        .join(sizes.as("sy"), col("b") === col("sy.doc_id"))
        .filter(col("ni") * 5 >= (col("sx.n") + col("sy.n") - col("ni")) * 3)
        .select(col("a"), col("b"), col("ni").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      got == brute
    }

  property("containmentPairs (uncapped) equals brute force on random corpora") =
    Prop.forAll(Gen.choose(8, 24), Gen.choose(1L, 9999L)) { (nDocs, seed) =>
      // random docs plus quote-in-article pairs: doc 3k+1 embeds doc 3k's
      // text — the directed relation Jaccard misses
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 30).map(i => s"v$i")
      val own = (0L until nDocs.toLong).map(i =>
        i -> (0 until 4 + rnd.nextInt(20))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")).toMap
      // doc 3k+1 embeds doc 3k's text — the directed relation
      val d = (0L until nDocs.toLong).map(i =>
        (i, if (i % 3 == 1) own(i - 1) + " " + own(i) else own(i)))
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .containmentPairs(d, "doc_id", "text", maxDocsPerTok = 10000)
        .select("id_sub", "id_sup", "n_inter")
        .as[(Long, Long, Long)].collect().toSet
      val toks = d.select(col("doc_id"),
          explode(graft.functions.TextFunctions.charShingles(
            graft.functions.TextFunctions.normalize(col("text")), 8)).as("s"))
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val brute = toks.as("x").join(toks.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("ni"))
        .join(sizes.as("sx"), col("a") === col("sx.doc_id"))
        .filter(col("ni") * 4 >= col("sx.n") * 3)
        .select(col("a"), col("b"), col("ni").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      got == brute
    }

  property("jaroWinkler: bounded, symmetric, identity = 1, deterministic") =
    Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a, b) =>
      import graft.functions.JaroWinklerOps.jaroWinkler
      import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
      val jw = jaroWinkler(u(a), u(b))
      jw >= 0.0 && jw <= 1.0 &&
        jw == jaroWinkler(u(b), u(a)) &&
        (a.isEmpty || jaroWinkler(u(a), u(a)) == 1.0) &&
        jw == jaroWinkler(u(a), u(b))
    }

  property("prefixJaccardPairs cap is monotone: pairs(c1) ⊆ pairs(c2) ⊆ truth for c1 ≤ c2") =
    Prop.forAll(Gen.choose(6, 14), Gen.choose(1L, 9999L)) { (nDocs, seed) =>
      // the r13/r14 recall-bound contract as an invariant: raising the
      // cap may only ADD pairs (keepToks grows, so prefix rows, then
      // candidates, then verified pairs, are each supersets), and no cap
      // may ever admit a pair the exact verify rejects — the cap trades
      // recall, never precision. Tiny vocab forces heavy shingle overlap.
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 8).map(i => s"w$i")
      val docs = (0L until nDocs.toLong).map(i =>
        (i, (0 until 5 + rnd.nextInt(8))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      val d = docs.toDF("doc_id", "text")
      def sh(s: String): Set[String] =
        s.trim.toLowerCase.replaceAll("\\s+", " ").sliding(8).toSet
      val sets = docs.map { case (id, t) => id -> sh(t) }.toMap
      val truth = (for {
        i <- docs.indices.iterator; j <- (i + 1) until docs.size
        a = docs(i)._1; b = docs(j)._1
        inter = (sets(a) & sets(b)).size
        if 5 * inter >= 3 * (sets(a).size + sets(b).size - inter)
      } yield (a, b)).toSet
      def pairs(cap: Int): Set[(Long, Long)] =
        graft.operators.Dedup.prefixJaccardPairs(d, "doc_id", "text",
            maxDocsPerTok = cap)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val c1 = 1 + rnd.nextInt(4)
      val c2 = c1 + rnd.nextInt(nDocs)
      val (p1, p2) = (pairs(c1), pairs(c2))
      p1.subsetOf(p2) && p2.subsetOf(truth) && pairs(nDocs) == truth
    }

  property("lshNearPairs maxBucket is monotone: pairs(c1) ⊆ pairs(c2) ⊆ uncapped") =
    Prop.forAll(Gen.choose(6, 20), Gen.choose(1L, 9999L)) { (nVecs, seed) =>
      // the r14 hot-bucket guard's contract as an invariant: raising the
      // cap only ADDS pairs (the kept-bucket set grows), no cap admits a
      // pair the uncapped within-bucket scoring rejects (recall traded,
      // never precision), and a cap ≥ every bucket equals uncapped. Few
      // basis directions + jitter force shared and collapsed buckets.
      val rnd = new scala.util.Random(seed)
      val basis = (0 until 3).map(k =>
        Array.tabulate(6)(j => ((j + 2 * k) % 5 - 2).toFloat))
      val vecs = (0L until nVecs.toLong).map { i =>
        val b = basis(rnd.nextInt(basis.size))
        val v = if (rnd.nextBoolean()) b
          else b.map(x => x + rnd.nextInt(2).toFloat)
        (i, v)
      }.toDF("vec_id", "embedding")
      def pairs(cap: Int): Set[(Long, Long)] =
        graft.operators.Similarity.lshNearPairs(vecs, "vec_id", "embedding",
            minSim = 0.8, maxBucket = cap)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val un =
        graft.operators.Similarity.lshNearPairs(vecs, "vec_id", "embedding",
            minSim = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val c1 = 1 + rnd.nextInt(3)
      val c2 = c1 + rnd.nextInt(nVecs)
      // mass conservation: every vector lives in exactly one bucket, so
      // the hotness distribution accounts for the whole corpus
      val mass = graft.operators.Similarity
        .bucketHotness(vecs, "vec_id", "embedding")
        .selectExpr("sum(m * n_buckets)").as[Long].head()
      pairs(c1).subsetOf(pairs(c2)) && pairs(c2).subsetOf(un) &&
        pairs(nVecs) == un && mass == nVecs.toLong
    }

  property("featureVectorFor matches an independent reference on random frames") =
    Prop.forAll(Gen.choose(1L, 99999L)) { seed =>
      // the q246/q247 serving contract re-derived in plain Scala — counts,
      // 100 m counts, max/min/mean with the reference's `value > 0` fill
      // quirk — and compared cell-by-cell for BOTH metric shapes (NEX 3,
      // PL 5). Whole-metre distances keep every double exact, so == is
      // the right comparison (same discipline as the DuckDB oracle).
      import graft.pipelines.SiteScoringPipeline
      val rnd = new scala.util.Random(seed)
      val cats = Seq("BANCO", "FARMACIA", "PARQUE", "HOTEL", "ACADEMIA")
      val rows = (0 until 3 + rnd.nextInt(40)).map { _ =>
        (s"S${rnd.nextInt(3)}", cats(rnd.nextInt(cats.size)),
          rnd.nextInt(501).toDouble)
      }
      val prep = rows.toDF("rst_cd", "poi_category", "distance_mtrs")
      Seq("NEX", "PL").forall { vn =>
        val v = SiteScoringPipeline.variants(vn)
        val got = SiteScoringPipeline.featureVectorFor(prep, v)
          .collect().map(r => r.getAs[String]("rst_cd") -> r).toMap
        val sites = rows.map(_._1).distinct
        got.keySet == sites.toSet && sites.forall { s =>
          val r = got(s)
          v.featureCategories.distinct.forall { cat =>
            val ds = rows.filter(x => x._1 == s && x._2 == cat).map(_._3)
            val ref = "GEO_" + cat.replace(' ', '_')
            def fill(m: Option[Double], f: Double) =
              m.filter(_ > 0).getOrElse(f)
            val okCommon =
              r.getAs[Long](s"${ref}_300M_${v.countSuffix}") == ds.size.toLong &&
              r.getAs[Long](s"${ref}_100M_${v.countSuffix}") ==
                ds.count(_ <= 100).toLong
            val okDists =
              if (v.fiveMetrics)
                r.getAs[Double](s"${ref}_MAX_DIST") ==
                  fill(ds.maxOption, 0.0) &&
                r.getAs[Double](s"${ref}_MIN_DIST") ==
                  fill(ds.minOption, v.minDistFill) &&
                r.getAs[Double](s"${ref}_MEAN_DIST") ==
                  fill(if (ds.isEmpty) None else Some(ds.sum / ds.size), 0.0)
              else
                r.getAs[Double](s"${ref}_MIN_DIST") ==
                  fill(ds.minOption, v.minDistFill)
            okCommon && okDists
          }
        }
      }
    }

  property("prefix_min_k equals collect_list + array_sort + slice") =
    Prop.forAll(Gen.choose(2, 7), Gen.choose(1L, 99999L)) { (denT, seed) =>
      // Direct equivalence of the native bounded k-min aggregate (r15)
      // against the declarative form it replaced, under the conditions
      // that could break it: multiple partitions (forces partial-buffer
      // merges through serialize/deserialize), dfreq ties broken by tok
      // BINARY order (non-ASCII tokens incl. a supplementary-plane char,
      // where JVM String order would diverge from UTF-8 order), and n at
      // the slice formula's edges (n = 1, k = n).
      val numT = 1 + (seed % (denT - 1)).toInt
      val rnd = new scala.util.Random(seed)
      val alphabet =
        Seq("a", "zz", "é", "中", "𐍈", "�", "w")
      val rows = (0 until 1 + rnd.nextInt(5)).flatMap { d =>
        val toks = rnd.shuffle((0 until 200).map(i =>
          alphabet(rnd.nextInt(alphabet.size)) + i.toString).distinct)
          .take(1 + rnd.nextInt(40))
        toks.map(t => (d.toLong, toks.size, 1L + rnd.nextInt(4), t))
      }
      val df = rows.toDF("doc_id", "n", "dfreq", "tok").repartition(5)
      val viaAgg = df.groupBy(col("doc_id"))
        .agg(graft.functions.PrefixMinK.column(numT, denT)(
          col("n"), col("dfreq"), col("tok")).as("pk"))
        .select(col("doc_id"), col("pk.n").as("n"), col("pk.items"))
        .as[(Long, Int, Seq[(Long, String)])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val viaList = df.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("dfreq"), col("tok"))).as("td"))
        .select(col("doc_id"), size(col("td")).as("n"), expr(
          s"slice(array_sort(td), 1, size(td) - (size(td) * $numT + " +
            s"${denT - 1}) DIV $denT + 1)").as("items"))
        .as[(Long, Int, Seq[(Long, String)])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      viaAgg == viaList
    }

  property("rarest_min_k equals collect_list + array_sort + slice(k)") =
    Prop.forAll(Gen.choose(1, 12), Gen.choose(1L, 99999L)) { (k, seed) =>
      // The fixed-width rarest-k mode (r20, the one-sided containment
      // route's probe): same heap, same binary tie order, bound =
      // min(k, n) instead of the threshold-derived prefix — checked
      // under the same merge/tie/edge conditions as the prefix form,
      // including k > n (the whole group comes back).
      val rnd = new scala.util.Random(seed)
      val alphabet =
        Seq("a", "zz", "é", "中", "𐍈", "�", "w")
      val rows = (0 until 1 + rnd.nextInt(5)).flatMap { d =>
        val toks = rnd.shuffle((0 until 200).map(i =>
          alphabet(rnd.nextInt(alphabet.size)) + i.toString).distinct)
          .take(1 + rnd.nextInt(40))
        toks.map(t => (d.toLong, toks.size, 1L + rnd.nextInt(4), t))
      }
      val df = rows.toDF("doc_id", "n", "dfreq", "tok").repartition(5)
      val viaAgg = df.groupBy(col("doc_id"))
        .agg(graft.functions.PrefixMinK.columnK(k)(
          col("n"), col("dfreq"), col("tok")).as("pk"))
        .select(col("doc_id"), col("pk.items"))
        .as[(Long, Seq[(Long, String)])].collect().toMap
      val viaList = df.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("dfreq"), col("tok"))).as("td"))
        .select(col("doc_id"),
          expr(s"slice(array_sort(td), 1, least($k, size(td)))").as("items"))
        .as[(Long, Seq[(Long, String)])].collect().toMap
      viaAgg == viaList
    }
}
