package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for document pipelines (SURVEY north star:
  * language-ID, quality scoring, token counting, fingerprinting over the
  * `documents` table). All are composed from built-in codegen'd expressions —
  * no UDFs — so they vectorize inside whole-stage codegen and scale linearly
  * with input at 100 TB (pure map-side, no shuffle).
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text.
    *
    * CONTRACT (r14 review; do not "fix" one side alone): this is the exact
    * spelling ~50 DuckDB oracle mirrors replay as
    * `string_split_regex(trim(lower(text)), '\s+')`, and the two engines
    * agree byte-for-byte on EVERY input — including the edge warts, which
    * are identical on both sides: `trim` strips only 0x20 spaces (a
    * tab/newline-EDGED string keeps a leading empty token: both engines
    * split "\ta b" to ["", "a", "b"]) and an empty string yields [""]
    * (so [[tokenCount]]("") = 1, not 0). Queries guard the empty case
    * with `length(trim(text)) > 0` filters on both sides. The native
    * shingle path ([[ShingleOps]].splitLower, Character.isWhitespace)
    * handles all Unicode whitespace and yields no empty tokens — the two
    * tokenizers agree exactly on text without non-space edge whitespace
    * (which the corpus contract guarantees); for messy real-world corpora
    * pre-clean with `regexp_replace(text, "^\\s+|\\s+$", "")` if the
    * phantom token matters to a count. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (long). See the [[tokens]] contract: "" counts 1. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Lower-cased, whitespace-collapsed normalization used by dedup.
    * Same space-only `trim` contract as [[tokens]]: mirrored by the
    * oracles, edge-exact across engines ("\ta" → " a" on both). */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Hex MD5 fingerprint of normalized text — exact-dup key. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Distinct overlapping character k-shingles of a (pre-normalized)
    * string. Native codegen'd expression (ShingleOps.charShingles); the
    * equivalent HOF formulation (`array_distinct(transform(sequence(1,
    * greatest(len-k+1, 1)), i => concat(norm, ' '*(k-1)).substr(i, k)))`)
    * evaluates its lambda interpreted per element — measured 19 s vs
    * sub-second for the sf0.1 documents scan. Semantics unchanged, so
    * the DuckDB oracle mirrors are unchanged. */
  def charShingles(norm: Column, k: Int): Column =
    ShingleOps.charShinglesCol(norm, k)

  /** Sorted distinct 64-bit hashes of the char k-shingles — the compact
    * per-document set for [[sortedIntersectCount]] exact verification. */
  def charShingleHashes(norm: Column, k: Int): Column =
    ShingleOps.charShingleHashesCol(norm, k)

  /** Merge-scan |A∩B| of two sorted distinct long arrays (codegen'd). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ShingleOps.sortedIntersectCountCol(a, b)

  /** Word n-gram shingles from a token array. */
  def wordShingles(toks: Column, n: Int): Column =
    array_distinct(wordShinglesRaw(toks, n))

  /** Non-deduplicated word n-grams — for MIN-based consumers like MinHash,
    * where duplicates can't change the result and `array_distinct`'s O(n²)
    * would dominate the scan, and for positional consumers (span removal:
    * gram index i starts at toks[i]). Native codegen'd expression
    * (ShingleOps.wordGrams) with byte-for-byte the semantics of the HOF
    * `transform(sequence(0, greatest(size-n, 0)), i -> concat_ws(' ',
    * slice(toks, i+1, n)))` it replaces — the HOF lambda evaluates
    * interpreted per gram (the charShingles lesson; a PropertySpec pin
    * holds the equivalence on random arrays incl. empty/short/null). */
  def wordShinglesRaw(toks: Column, n: Int): Column =
    ShingleOps.wordGramsCol(toks, n)

  /** Tokens not covered by any width-n span starting at the SORTED
    * 0-based positions in `starts` — the span-rewrite kernel (native
    * merge sweep; see ShingleOps.tokenSpanFilter). */
  def tokenSpanFilter(toks: Column, starts: Column, n: Int): Column =
    ShingleOps.tokenSpanFilterCol(toks, starts, n)

  /** Count of regex matches (thin alias; Spark 3.5+ regexp_count). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Stopword count from a token array against a small inline set. */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*))).cast("long")

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "in", "to", "is", "it", "for")

  /** Simple length/punctuation/stopword quality features. Mirrors the kind of
    * per-document heuristics used to filter LLM training corpora. */
  def punctCount(text: Column): Column = matchCount(text, "[.,!?;:]")

  /** Canonical URL for crawl dedup: lowercase scheme+host, default port
    * stripped (:80 http / :443 https), fragment dropped, duplicate path
    * slashes collapsed, trailing slash stripped (root stays `/`, empty
    * path becomes `/`), tracking params (`utm_*`, `fbclid`, `gclid`)
    * removed and the surviving query params BYTE-SORTED — two URLs that
    * fetch the same resource canonicalize to the same string, the key a
    * web pipeline dedups on before it ever hashes content. Path case is
    * preserved (paths are case-sensitive per RFC 3986; hosts are not).
    * Pure builtin regex/HOF chain — map-only, and the RE2-subset
    * patterns let a SQL oracle mirror it byte-for-byte. Non-URL input
    * (no scheme) canonicalizes to `://` + `/` — filter upstream. */
  def canonicalUrl(url: Column): Column = {
    val u = trim(url)
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"
    val scheme = lower(regexp_extract(u, pat, 1))
    val hostRaw = lower(regexp_extract(u, pat, 2))
    val host = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val collapsed = regexp_replace(regexp_extract(u, pat, 3), "/{2,}", "/")
    val noTrail = regexp_replace(collapsed, "(.)/$", "$1")
    val path = when(noTrail === "", lit("/")).otherwise(noTrail)
    val keep = array_join(array_sort(filter(split(regexp_extract(u, pat, 4), "&"),
      p => !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=") || p === ""))), "&")
    concat(scheme, lit("://"), host, path,
      when(keep === "", lit("")).otherwise(concat(lit("?"), keep)))
  }

  /** HTML → visible text (the web-corpus extraction step): drops
    * script/style bodies, comments, and tags; decodes the six core
    * entities (`&amp;` LAST, so double-encoded text decodes exactly one
    * level); collapses whitespace. Composed entirely from codegen'd
    * builtins (regexp_replace / replace) whose patterns avoid
    * backreferences and rely only on `(?is)`, lazy `.*?`, and character
    * classes — the RE2-compatible subset, so a SQL oracle can run the
    * byte-identical chain. Map-only; linear in input at any corpus size.
    * Known limit (shared by the oracle): a literal `>` inside a quoted
    * attribute value terminates the tag match early. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) =>
        call_function("replace", c, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
