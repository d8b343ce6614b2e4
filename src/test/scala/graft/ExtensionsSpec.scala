package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SkewnessAgg
import graft.pipelines.WasdeTransforms
import graft.serving.ModelScoring
import graft.sources.HtmlTableReader

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  test("SkewnessAgg matches built-in skewness") {
    val df = Tables.events(spark, sfDir).select(col("value"))
    val (custom, builtin) = df
      .agg(SkewnessAgg.column(col("value")).as("c"), skewness(col("value")).as("b"))
      .as[(Double, Double)].head()
    assert(math.abs(custom - builtin) < 1e-9, s"custom=$custom builtin=$builtin")
  }

  test("SkewnessAgg handles empty and constant inputs") {
    val empty = Seq.empty[Double].toDF("v")
      .agg(SkewnessAgg.column(col("v"))).as[Double].head()
    assert(empty.isNaN)
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
      .agg(SkewnessAgg.column(col("v"))).as[Double].head()
    assert(const.isNaN) // zero variance
  }

  test("BoundedTopKAgg equals window row_number top-k") {
    val df = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_partkey"))
    val agged = df.groupBy(col("l_orderkey"))
      .agg(graft.functions.BoundedTopKAgg.column(2)(
        col("l_extendedprice"), col("l_partkey")).as("topk"))
      .select(col("l_orderkey"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("l_orderkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("hit._2").as("l_partkey"), col("hit._1").as("p"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val windowed = graft.operators.Transforms.topKPerGroup(df,
        Seq(col("l_orderkey")),
        Seq(col("l_extendedprice").asc, col("l_partkey").asc), 2)
      .select(col("l_orderkey"), col("rnk"), col("l_partkey"),
        col("l_extendedprice"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(agged == windowed && agged.nonEmpty)
  }

  test("BoundedTopKAgg rejects k <= 0 at construction") {
    import graft.functions.BoundedTopKAgg
    intercept[IllegalArgumentException](new BoundedTopKAgg(0))
    intercept[IllegalArgumentException](new BoundedTopKAgg(-3))
  }

  test("array_dot matches the HOF form on mismatch and null holes") {
    import graft.functions.VectorOps
    // r14 review: the old loop truncated to the shorter array and read
    // null slots as 0.0 — a dimension-mismatched embedding produced a
    // plausible-looking wrong similarity instead of NULL
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (2L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))) // dim mismatch
      .toDF("id", "a", "b")
    val got = df.select($"id", VectorOps.dotCol($"a", $"b").as("d"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, x) -> s + x)").as("h"))
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((Some(14.0), Some(14.0))), 2L -> ((None, None))))
    // null element → NULL (both forms)
    val holed = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(1.0))))
      .toDF("a", "b")
      .select(VectorOps.dotCol($"a", $"b").as("d"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, x) -> s + x)").as("h"))
      .as[(Option[Double], Option[Double])].head()
    assert(holed == ((None, None)), holed)
  }

  test("native array expressions reject wrongly-typed arrays at analysis") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.{SimHash64, SortedLongIntersectCount, ArrayDotProduct}
    // r14 review: unguarded, these read misaligned UnsafeArrayData slots
    // at runtime — garbage results or a JVM crash; now they fail analysis
    val df = Seq((Seq(1, 2, 3), Seq("a", "b"))).toDF("ints", "strs")
    def bad(c: org.apache.spark.sql.Column) =
      intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
    bad(GraftBridge.column(SimHash64(GraftBridge.expression($"ints"))))
    bad(GraftBridge.column(SortedLongIntersectCount(
      GraftBridge.expression($"strs"), GraftBridge.expression($"strs"))))
    bad(GraftBridge.column(ArrayDotProduct(
      GraftBridge.expression($"strs"), GraftBridge.expression($"strs"))))
  }

  test("HtmlTableReader parses the first table with header row") {
    val html =
      """<html><body><p>junk</p>
        |<table><tr><th>ignored</th><th>hdr</th></tr>
        |<tr><th>Year</th><th>Jan</th></tr>
        |<tr><td>2026</td><td><b>3.1</b></td></tr>
        |<tr><td>2027</td><td>2.9&nbsp;</td></tr></table>
        |<table><tr><td>second table</td></tr></table>
        |</body></html>""".stripMargin
    val df = HtmlTableReader.read(spark, html, headerRow = 1)
    assert(df.columns.toSeq == Seq("Year", "Jan"))
    val rows = df.as[(String, String)].collect().toSet
    assert(rows == Set(("2026", "3.1"), ("2027", "2.9")))
  }

  test("HtmlTableReader: single-pass entity decode, duplicate headers " +
      "de-duplicated") {
    // r14 review: &amp; decoded first double-unescaped "&amp;lt;" to "<";
    // and two blank/duplicate headers produced ambiguous column names
    val html =
      """<table><tr><th></th><th></th><th>X</th><th>X</th></tr>
        |<tr><td>&amp;lt;</td><td>a&amp;b</td><td>1</td><td>2</td></tr>
        |</table>""".stripMargin
    val df = HtmlTableReader.read(spark, html)
    assert(df.columns.toSeq == Seq("col", "col_1", "X", "X_1"))
    val r = df.as[(String, String, String, String)].head()
    assert(r == (("&lt;", "a&b", "1", "2")), r)
  }

  test("RandomForest scoring over embeddings is distributed and deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val model = ModelScoring.trainOnArrays(emb, "embedding", "label")
    val scored = ModelScoring.score(model, emb, "embedding")
    assert(scored.columns.contains("prediction"))
    assert(scored.count() == emb.count())
    val again = ModelScoring.score(model, emb, "embedding")
      .select("vec_id", "prediction").as[(Long, Double)].collect().toMap
    val first = scored.select("vec_id", "prediction").as[(Long, Double)].collect().toMap
    assert(first == again)
    // sanity: model fits training data better than majority-class guessing
    val acc = scored.filter(col("prediction") === col("label")).count().toDouble /
      scored.count()
    assert(acc > 0.2, s"accuracy $acc")
  }

  test("rocAuc: Mann-Whitney identity, half-credit ties, exact integers") {
    def auc(rows: Seq[(Long, Int)]): (Long, Long, Long, Double) = {
      val r = ModelScoring.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
        .collect()(0)
      (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
        r.getAs[Long]("u2"), r.getAs[Double]("auc_r"))
    }
    // perfect separation: every positive above every negative
    assert(auc(Seq((10L, 1), (9L, 1), (1L, 0), (2L, 0))) == ((2L, 2L, 8L, 1.0)))
    // a single tied pair counts half: AUC = 0.5
    assert(auc(Seq((5L, 1), (5L, 0))) == ((1L, 1L, 1L, 0.5)))
    // mixed: wins (3>1, 3>2, 2>1) + one tie (2=2) → U = 3.5 of 4 → 0.875
    assert(auc(Seq((1L, 0), (2L, 0), (3L, 1), (2L, 1))) == ((2L, 2L, 7L, 0.875)))
    // anti-predictor: every positive BELOW every negative → 0.0
    assert(auc(Seq((1L, 1), (9L, 0)))._4 == 0.0)
  }

  test("calibrationCurve: monotone fixture buckets, exact rates, hot score owns span") {
    def curve(rows: Seq[(Long, Int)]) =
      ModelScoring.calibrationCurve(rows.toDF("s", "y"), col("s"), col("y"))
        .collect().map(r => r.getAs[Long]("bucket") ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
            r.getAs[Double]("pos_rate_r"))).toMap
    // 20 distinct scores, perfectly calibrated upper half: score k has
    // k − 1 rows below it, so decile (k − 1)·10 DIV 20 holds two scores
    val rows = (1L to 20L).map(k => (k, if (k > 10L) 1 else 0))
    assert(curve(rows) == (0L until 10L).map(b =>
      b -> ((2L, if (b >= 5L) 2L else 0L, if (b >= 5L) 1.0 else 0.0))).toMap)
    // one hot score (4 copies, half positive) owns deciles 0-5's span:
    // score 9 has 4 of 6 rows below it, decile 40 DIV 6 = 6
    val hot = Seq((1L, 0), (1L, 1), (1L, 0), (1L, 1), (9L, 1), (9L, 0))
    val got = curve(hot)
    assert(got == Map(0L -> ((4L, 2L, 0.5)), 6L -> ((2L, 1L, 0.5))))
  }

  test("writeMonthOverwrite replaces only the targeted partition") {
    val dir = SparkTestBase.tempDir("wasde-out").toString
    val v1 = Seq(("2026-01", "a", 1.0), ("2026-02", "b", 2.0)).toDF("mes", "geo", "v")
    WasdeTransforms.writeMonthOverwrite(v1, dir, "mes")
    val v2 = Seq(("2026-02", "b", 99.0)).toDF("mes", "geo", "v")
    WasdeTransforms.writeMonthOverwrite(v2, dir, "mes")
    val got = spark.read.parquet(dir).select("mes", "v").as[(String, Double)]
      .collect().toSet
    assert(got == Set(("2026-01", 1.0), ("2026-02", 99.0)))
  }

  test("operator families answer through their own objects") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val exact = operators.Dedup.exact(docs, "doc_id", "text").collect()
    assert(exact.length == 2)           // two distinct normalized texts
    val pts = Seq((1L, 10.0, 10.0), (2L, 50.0, 50.0)).toDF("id", "lat", "lon")
    val r = operators.GeoJoin.knnJoin(pts, pts.toDF("rid", "rlat", "rlon"),
      1, 1e7, "id", "rid", "lat", "lon", "rlat", "rlon").collect()
    assert(r.length == 2)               // nearest neighbor of each point
    val m = Seq(1).toDF("x").select(functions.GeoFunctions.haversineMeters(
      lit(0.0), lit(0.0), lit(0.0), lit(1.0)).as("d")).as[Double].head()
    assert(math.abs(m - 111194.9) < 1.0)   // one equatorial degree
    // corpus and graph families
    val chunks = operators.Corpus.chunkWithOverlap(docs, "doc_id", "text", 3, 2)
      .collect()
    assert(chunks.length == 6)          // 5 tokens, size 3, stride 2 → 2/doc
    val pr = operators.Graph.integerPageRank(
      Seq((1L, 2L)).toDF("id_a", "id_b")).collect()
    assert(pr.length == 2)
  }
}
