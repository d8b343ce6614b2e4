package graft

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{SimHash64, TextFunctions}

class TextHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("jaroWinkler matches DuckDB jaro_winkler_similarity on fixtures") {
    import graft.functions.JaroWinklerOps.jaroWinkler
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // every expected value sampled from DuckDB's jaro_winkler_similarity
    // (the oracle function) — exact doubles
    val fixtures = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "a", 1.0),
      ("abc", "xyz", 0.0),
      ("ab", "ba", 0.0),
      ("green almond antique", "green almond antiqu", 0.99),
      ("aquamarine rose salmon powder sky",
        "aquamarine rose white tomato saddle", 0.8808850408850409),
      ("new plate", "new table", 0.9305555555555555),
      ("old anvil", "old gear", 0.836111111111111))
    fixtures.foreach { case (a, b, want) =>
      val got = jaroWinkler(u(a), u(b))
      assert(got == want, s"jw($a, $b) = $got, want $want")
      assert(jaroWinkler(u(b), u(a)) == want, "symmetry")
    }
    // codegen path through a DataFrame
    val df = fixtures.map { case (a, b, w) => (a, b, w) }
      .toDF("a", "b", "want")
      .withColumn("got",
        graft.functions.JaroWinklerOps.jaroWinklerCol(col("a"), col("b")))
    assert(df.filter(col("got") =!= col("want")).count() == 0)
  }

  test("tokenCount / charShingles / fingerprint basics") {
    val df = Seq("  the quick  brown fox ", "the quick brown fox").toDF("t")
      .select(
        TextFunctions.tokenCount(col("t")).as("n"),
        TextFunctions.fingerprint(col("t")).as("fp"),
        size(TextFunctions.charShingles(TextFunctions.normalize(col("t")), 3)).as("sh"))
    val rows = df.as[(Long, String, Int)].collect()
    assert(rows(0)._1 == 4 && rows(1)._1 == 4)
    // same normalized text → same fingerprint
    assert(rows(0)._2 == rows(1)._2)
    assert(rows(0)._3 > 0 && rows(0)._3 == rows(1)._3)
  }

  test("simhash: identical token arrays hash identically; near texts are close") {
    def simhash(t: Column) = GraftBridge.column(
      SimHash64(GraftBridge.expression(TextFunctions.tokens(t))))
    val df = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy cat again and again",
      "completely different words about spark query engines at scale")
      .toDF("t")
      .select(simhash(col("t")).as("h"))
    val Array(a, b, c) = df.as[Long].collect()
    assert(SpecOracles.hamming64(a, b) < SpecOracles.hamming64(a, c))
    // determinism
    val again = Seq("the quick brown fox jumps over the lazy dog again and again")
      .toDF("t").select(simhash(col("t")))
      .as[Long].head()
    assert(again == a)
  }

  test("simhash64 usable from SQL after registration") {
    SparkTestBase.withExtensions { s =>
      import s.implicits._
      val h = s.sql("SELECT simhash64(array('a','b','c')) AS h")
        .as[Long].head()
      val h2 = s.sql("SELECT simhash64(array('a','b','c')) AS h")
        .as[Long].head()
      assert(h == h2)
    }
  }

  test("native charShingles matches the HOF formulation exactly") {
    // the built-in spelling the native expression replaced — kept here as
    // the semantic oracle (padding, short/empty strings, distinct order)
    def hof(norm: org.apache.spark.sql.Column, k: Int) =
      array_distinct(
        transform(
          sequence(lit(1), greatest(length(norm) - lit(k - 1), lit(1))),
          i => concat(norm, lit(" " * (k - 1))).substr(i, lit(k))))
    val texts = Seq("", "a", "ab", "abc def abc def", "ωμέγα κείμενο ωμ",
      "the quick brown fox", "aaaaaaaaaaaa", "x y", "  spaced  out  ")
    for (k <- Seq(3, 8)) {
      val df = texts.toDF("t")
        .select(
          TextFunctions.charShingles(TextFunctions.normalize(col("t")), k).as("nat"),
          hof(TextFunctions.normalize(col("t")), k).as("ref"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("charShingleHashes + sortedIntersectCount agree with string sets") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely different content with no overlap at all"),
      (4L, "")).toDF("id", "t")
    val arrs = docs.select(col("id"),
      TextFunctions.charShingles(TextFunctions.normalize(col("t")), 8).as("ss"),
      TextFunctions.charShingleHashes(TextFunctions.normalize(col("t")), 8).as("hs"))
    // hashed set size == string set size
    arrs.select(size(col("ss")), size(col("hs"))).collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // hashed merge-scan intersection == string array_intersect, all pairs
    val pairs = arrs.as("a").crossJoin(arrs.as("b"))
      .select(
        size(array_intersect(col("a.ss"), col("b.ss"))).cast("long").as("s"),
        TextFunctions.sortedIntersectCount(col("a.hs"), col("b.hs")).as("h"))
    pairs.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("unicodeFold collapses case+accents, keeps ß and ligatures, codegen-safe") {
    import graft.functions.UnicodeOps
    val df = Seq("Café crème", "cafe creme", "NAÏVE", "naive",
      "ße ﬁre ½", "ÅNGSTRÖM")
      .toDF("t").select(UnicodeOps.foldCol(col("t")).as("f"))
    val Array(a, b, c, d, e, f) = df.as[String].collect()
    assert(a == b && a == "cafe creme")
    assert(c == d && c == "naive")
    // compatibility characters pass through; only accents fold
    assert(e == "ße ﬁre ½")
    assert(f == "angstrom")
    // filter pushes the expression through codegen (not just projection)
    val n = Seq(("x", "Café"), ("y", "cafe")).toDF("k", "t")
      .filter(UnicodeOps.foldCol(col("t")) === "cafe").count()
    assert(n == 2)
  }

  test("wordShingles produce n-grams in order") {
    val sh = Seq("a b c d").toDF("t")
      .select(TextFunctions.wordShingles(TextFunctions.tokens(col("t")), 2).as("s"))
      .as[Seq[String]].head()
    assert(sh.toSet == Set("a b", "b c", "c d"))
  }

  test("dict trie masks leftmost-longest in one pass") {
    import graft.functions.{DictScan, DictTrie}
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.unsafe.types.UTF8String
    val trie = new DictTrie(Seq("hash join", "hash", "ash"), "<X>")
    def scan(s: String) = {
      val r = trie.scan(UTF8String.fromString(s))
      (r.getLong(0), r.getUTF8String(1).toString)
    }
    // longest match wins at a position; no re-match inside the mask
    assert(scan("a hash join b") == (1L, "a <X> b"))
    assert(scan("hash hash join") == (2L, "<X> <X>"))
    // leftmost wins: "hash" at 0 beats "ash" at 1; then "ash" matches later
    assert(scan("hashash") == (2L, "<X><X>"))
    assert(scan("no terms here") == (0L, "no terms here"))
    assert(scan("") == (0L, ""))
    // through the DataFrame expression, codegen intact
    val df = Seq("x hash join y", "plain").toDF("t").repartition(2)
      .select(GraftBridge.column(DictScan(
        GraftBridge.expression(col("t")), trie)).as("sc"))
      .select(col("sc.n_hits"), col("sc.masked"))
    assert(df.as[(Long, String)].collect().toSet ==
      Set((1L, "x <X> y"), (0L, "plain")))
    assert(!df.queryExecution.executedPlan.toString.contains("CodegenFallback"))
  }

  test("deflate ratio separates repetitive from natural text, codegen-safe") {
    import graft.functions.{CompressionOps, DeflateRatio}
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.unsafe.types.UTF8String
    val loop = "spam ham " * 200
    val prose = (1 to 100).map(i => s"sentence$i about topic${i * 7 % 31}")
      .mkString(" different every time ")
    val rLoop = CompressionOps.deflateRatio(UTF8String.fromString(loop))
    val rProse = CompressionOps.deflateRatio(UTF8String.fromString(prose))
    assert(rLoop < 0.1 && rLoop < rProse / 3,
      s"loop=$rLoop prose=$rProse")
    assert(CompressionOps.deflateRatio(UTF8String.fromString("")) == 1.0)
    // same values through the DataFrame expression, across partitions
    val df = Seq(loop, prose).toDF("t").repartition(4)
      .select(GraftBridge.column(DeflateRatio(
        GraftBridge.expression(col("t")))).as("r"))
    val got = df.as[Double].collect().toSet
    assert(got == Set(rLoop, rProse))
    assert(!df.queryExecution.executedPlan.toString.contains("CodegenFallback"))
  }

  test("htmlToText: tags/script/style/comments stripped, one-level entity decode") {
    val cases = Seq(
      """<html><head><title>T</title></head><body><p>Hello <b>world</b></p></body></html>"""
        -> "T Hello world",
      // script body containing markup must vanish wholesale, tag case-blind
      """<SCRIPT type="x">var a = "<p>not text</p>";</SCRIPT>After""" -> "After",
      // style body containing a bare '>' (p > a) must not split the match
      """<style media=all>p > a {color:red}</style><div>styled</div>""" -> "styled",
      // &amp; decodes LAST: double-encoded text decodes exactly one level
      """A &amp;amp; B&nbsp;&lt;tag&gt; &quot;q&quot; &#39;s&#39;"""
        -> """A &amp; B <tag> "q" 's'""",
      """<!-- hidden <p>even tags</p> --><p class="big">kept</p><br/>""" -> "kept",
      "no markup at   all" -> "no markup at all")
    val out = cases.map(_._1).toDF("html")
      .select(TextFunctions.htmlToText(col("html")).as("t"))
      .as[String].collect().toSeq
    assert(out == cases.map(_._2), out)
    // whole chain stays inside codegen — no interpreted fallback
    val plan = cases.map(_._1).toDF("html")
      .select(TextFunctions.htmlToText(col("html")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback") && !plan.contains("Exchange"), plan)
  }

  test("canonicalUrl: case, ports, slashes, fragments, tracking params, sort") {
    val cases = Seq(
      "HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag"
        -> "http://example.com/a/b?a=1&b=2",
      "http://example.com/a//b?a=1&b=2" -> "http://example.com/a/b?a=1&b=2",
      "https://Site.org:443//x//y/" -> "https://site.org/x/y",
      // non-default port kept; path case preserved (RFC 3986)
      "https://site.org:8443/Keep/Case" -> "https://site.org:8443/Keep/Case",
      "http://host" -> "http://host/",
      // tracking-only query disappears entirely (no dangling '?')
      "https://host/?utm_campaign=z&gclid=123" -> "https://host/",
      "https://host/" -> "https://host/",
      // :80 is only default for http — https://h:80 keeps its port
      "https://h:80/p" -> "https://h:80/p")
    val out = cases.map(_._1).toDF("url")
      .select(TextFunctions.canonicalUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(out == cases.map(_._2), out)
  }
}
