package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.{CdcChunks, CharShingleHashes, CharShingles, DeletionVariants, GopherRepetition, HaversineDistance, JaroWinkler, Md5MinhashLanes, Md5SimHashChunks, SimHash64, SortedLongIntersectCount, TokenSpanFilter, WordGrams, WordShingles}

/** Spark-native extension point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`) registers
  * the engine's native functions for pure-SQL users — the Catalyst-level
  * equivalent of the reference exposing its helpers to every pipeline:
  *
  *  - `haversine_m(lat1, lon1, lat2, lon2)` → meters (F17)
  *  - `simhash64(array<string>)` → 64-bit signature (dedup north star)
  *  - `word_shingles(text, n)` → array<string> n-gram shingles
  *  - `char_shingles(text, k)` → array<string> distinct char k-shingles
  *  - `gopher_repetition(text)` → array<long> repetition stats (q143)
  *  - `md5_simhash_chunks(text)` / `md5_minhash_lanes(text, n, lanes)` —
  *    the engine-portable dedup signatures
  *  - `word_grams(toks, n)` / `token_span_filter(toks, starts, n)` /
  *    `deletion_variants(s)` — the span-rewrite and edit-distance kernels
  *  - `char_shingle_hashes(text, k)` / `sorted_intersect_count(a, b)` —
  *    the exact-Jaccard verify pair
  *  - `jaro_winkler(s1, s2)` / `cdc_chunks(text, w, d)` — record-linkage
  *    similarity and content-defined chunking
  *  - `image_meta(binary)` — PNG/JPEG/GIF header decode (multimodal)
  *  - `media_meta(binary)` — WAV/MP4 container-header decode (multimodal)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name)

  override def apply(e: SparkSessionExtensions): Unit = {
    // SURVEY §4 custom piece 3: cross-join + haversine filter → banded join
    e.injectOptimizerRule(_ => graft.plans.BandedDistanceJoinRule)
    e.injectFunction((FunctionIdentifier("haversine_m"),
      info("haversine_m", "haversine_m(lat1, lon1, lat2, lon2) - great-circle meters"),
      (exprs: Seq[Expression]) => HaversineDistance(
        Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType),
        Cast(exprs(2), DoubleType), Cast(exprs(3), DoubleType))))
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit simhash"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - word n-gram shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0), intArg(exprs(1)))))
    e.injectFunction((FunctionIdentifier("md5_simhash_chunks"),
      info("md5_simhash_chunks",
        "md5_simhash_chunks(text) - portable simhash as 4x16-bit chunks"),
      (exprs: Seq[Expression]) => Md5SimHashChunks(exprs.head)))
    e.injectFunction((FunctionIdentifier("md5_minhash_lanes"),
      info("md5_minhash_lanes",
        "md5_minhash_lanes(text, n, lanes) - portable minhash lane minima"),
      (exprs: Seq[Expression]) =>
        Md5MinhashLanes(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    e.injectFunction((FunctionIdentifier("char_shingles"),
      info("char_shingles",
        "char_shingles(text, k) - distinct char k-shingles"),
      (exprs: Seq[Expression]) => CharShingles(exprs(0), intArg(exprs(1)))))
    e.injectFunction((FunctionIdentifier("gopher_repetition"),
      info("gopher_repetition",
        "gopher_repetition(text) - [topScore_n, dupMass_n] for " +
          "n in {2,3,4,5,10} + [n_words, norm_chars]"),
      (exprs: Seq[Expression]) => GopherRepetition(exprs.head)))
    // r12 span/edit-dist kernels (array-input n-grams with positional
    // index space, span-rewrite merge sweep, SymSpell neighborhood)
    e.injectFunction((FunctionIdentifier("word_grams"),
      info("word_grams",
        "word_grams(array<string>, n) - overlapping n-grams, gram i starts " +
          "at toks[i]; NULL array -> NULL (bare NULL literal included; " +
          "element type must be string, checked at analysis)"),
      (exprs: Seq[Expression]) => WordGrams(exprs(0), intArg(exprs(1)))))
    e.injectFunction((FunctionIdentifier("token_span_filter"),
      info("token_span_filter",
        "token_span_filter(toks, starts, n) - tokens not covered by any " +
          "width-n span; starts must be array<int> with non-null elements " +
          "(array_compact first), any order (normalized internally)"),
      (exprs: Seq[Expression]) =>
        TokenSpanFilter(exprs(0), exprs(1), intArg(exprs(2)))))
    e.injectFunction((FunctionIdentifier("deletion_variants"),
      info("deletion_variants",
        "deletion_variants(s) - [s, s minus char 1, ..., s minus char len]"),
      (exprs: Seq[Expression]) => DeletionVariants(exprs.head)))
    // the exact-verify and record-linkage kernels round out the surface
    e.injectFunction((FunctionIdentifier("char_shingle_hashes"),
      info("char_shingle_hashes",
        "char_shingle_hashes(text, k) - sorted distinct xxhash64 of char k-shingles"),
      (exprs: Seq[Expression]) => CharShingleHashes(exprs(0), intArg(exprs(1)))))
    e.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - |A∩B| of two sorted distinct long arrays"),
      (exprs: Seq[Expression]) => SortedLongIntersectCount(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(s1, s2) - similarity in [0, 1]"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(text, w, divisor) - content-defined chunk hashes"),
      (exprs: Seq[Expression]) =>
        CdcChunks(exprs(0), intArg(exprs(1)), intArg(exprs(2)))))
    e.injectFunction((FunctionIdentifier("image_meta"),
      info("image_meta",
        "image_meta(binary) - struct(format,width,height,channels) from " +
          "PNG/JPEG/GIF header bytes, null on malformed"),
      (exprs: Seq[Expression]) => graft.functions.ImageMeta(exprs.head)))
    e.injectFunction((FunctionIdentifier("media_meta"),
      info("media_meta",
        "media_meta(binary) - struct(format,duration_ms,channels," +
          "sample_rate,bits,brand,codec) from WAV/MP4 header bytes, " +
          "null on malformed"),
      (exprs: Seq[Expression]) => graft.functions.MediaMeta(exprs.head)))
  }

  private def intArg(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long =>
      // fail at registration, not wrap: word_grams(text, 2^32 + 2) would
      // otherwise silently become word_grams(text, 2)
      require(l >= Int.MinValue && l <= Int.MaxValue,
        s"integer argument out of range: $l")
      l.toInt
    case _ => Cast(e, IntegerType).eval(null).asInstanceOf[Int]
  }
}
