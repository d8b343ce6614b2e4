package graft
package contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Blocklist, Corpus, Multimodal, Transforms}

/** Corpus and text analytics over `documents`: tokens, quality
  * signals, language models, sketches, sampling and mixture budgets. */
object CorpusQueries {
  import Tables._
  import Shared._

  /** Water-filling CTE chain (shared by q198 and q207): per-source caps,
    * suffix-weight ratios, integer saturation prefix-AND, and the final
    * one-divide allocation as `wf_alloc(source, cap, w, sat, alloc)`. */
  private val waterfillCtes: String =
    """caps AS (
      |  SELECT source,
      |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
      |      AS BIGINT) AS cap,
      |    CAST(CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) + 1
      |      AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |b AS (SELECT CAST(sum(cap) // 2 AS BIGINT) AS budget FROM caps),
      |o AS (SELECT c.*, b.budget,
      |    sum(w) OVER () AS w_tot,
      |    coalesce(sum(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before,
      |    coalesce(sum(w) OVER (ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS w_before
      |  FROM caps c CROSS JOIN b),
      |f AS (SELECT *, CASE WHEN cap * (w_tot - w_before)
      |      <= (budget - c_before) * w THEN 1 ELSE 0 END AS cond
      |  FROM o),
      |g AS (SELECT *,
      |    min(cond) OVER (ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sat
      |  FROM f),
      |h AS (SELECT *,
      |    coalesce(sum(CASE WHEN sat = 1 THEN cap END) OVER (), 0) AS c_sat,
      |    coalesce(sum(CASE WHEN sat = 1 THEN w END) OVER (), 0) AS w_sat
      |  FROM g),
      |wf_alloc AS (SELECT source, cap, w, sat,
      |  CASE WHEN sat = 1 THEN CAST(cap AS DOUBLE)
      |       ELSE CAST(budget - c_sat AS DOUBLE) * CAST(w AS DOUBLE)
      |            / CAST(w_tot - w_sat AS DOUBLE) END AS alloc
      |FROM h)""".stripMargin

  /** q124 dictionary — overlapping terms on purpose (longest-match). The
    * oracle's regex alternation lists these length-descending so RE2's
    * first-alternative choice equals the trie's longest-match. */
  private val DictTerms = Seq("customer query", "sort table", "hash join",
    "customer", "stream", "window", "spark", "hash")

  /** q30's oracle, generated: 16 nibble projections, 64 bit-sums, 4 chunk
    * assemblies — the exact integer lattice the Spark side computes. */
  private def q30OracleSql: String = {
    val nibCols = (0 until 16)
      .map(q => s"strpos('0123456789abcdef', substring(md5(t), ${q + 1}, 1)) - 1 AS nib$q")
      .mkString(",\n  ")
    val bitSums = (0 until 64)
      .map(j => s"sum((nib${j / 4} >> ${3 - j % 4}) & 1) AS s$j")
      .mkString(",\n  ")
    val chunks = (0 until 4).map { c =>
      val terms = (0 until 16)
        .map(b => s"(CASE WHEN 2*s${16 * c + b} - n >= 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"CAST($terms AS BIGINT) AS chunk$c"
    }.mkString(",\n ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |  FROM documents WHERE length(trim(text)) > 0),
       |nibs AS (SELECT doc_id,
       |  $nibCols
       | FROM toks),
       |sums AS (SELECT doc_id, count(*) AS n,
       |  $bitSums
       | FROM nibs GROUP BY doc_id)
       |SELECT doc_id,
       | $chunks
       |FROM sums""".stripMargin
  }

  /** q113's count-min bucket in DuckDB SQL: the top 12 bits (3 hex chars)
    * of md5(r + "|" + word), mod 1024 — mirrors `Corpus.cmsBucket`'s
    * `conv(substring(md5(...), 1, 3), 16, 10) % 1024`. */
  private def cmsBucketSqlFor(r: String, w: String): String =
    s"(('0x' || substring(md5(CAST($r AS VARCHAR) || '|' || $w), 1, 3))" +
      "::INTEGER) % 1024"

  val contracts: Seq[Contract] = Seq(
    // North star: token counting.
    Contract("q24_token_stats", ((s, d) => {
      val t = TextFunctions.tokens(col("text"))
      documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          size(t).cast("double")).as("avg_token_len"))
    }),
      """SELECT doc_id,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS len_chars,
        | CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |   CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS avg_token_len
        |FROM documents""".stripMargin),

    // North star: quality scoring (length/punct/stopword ratios).
    Contract("q25_quality_score", ((s, d) => {
      val toks = TextFunctions.tokens(lower(col("text")))
      documents(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.stopwordCount(toks, TextFunctions.EnglishStopwords).as("n_stop"),
        size(toks).cast("long").as("n_tokens"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens").cast("double"))
        .withColumn("punct_ratio",
          col("n_punct").cast("double") / col("len").cast("double"))
    }),
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS len,
        | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        | CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','a','an','of','and','in','to','is','it','for'))) AS BIGINT) AS n_stop,
        | CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','a','an','of','and','in','to','is','it','for'))) AS DOUBLE) /
        |   CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS stop_ratio,
        | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
        |   CAST(length(text) AS DOUBLE) AS punct_ratio
        |FROM documents""".stripMargin),

    // North star: n-gram-heuristic language ID.
    Contract("q26_langid", ((s, d) => {
      val lo = lower(col("text"))
      documents(s, d).select(col("doc_id"),
        TextFunctions.matchCount(lo, "\\b(the|and|of|to|is)\\b").as("s_en"),
        TextFunctions.matchCount(lo, "\\b(el|la|de|que|los|por)\\b").as("s_es"),
        TextFunctions.matchCount(lo, "\\b(der|die|und|das|ist|nicht)\\b").as("s_de"),
        TextFunctions.matchCount(lo, "\\b(le|les|et|des|est|une)\\b").as("s_fr"),
        TextFunctions.matchCount(col("text"), "[一-鿿]").as("s_zh"))
        .withColumn("pred_lang",
          when(col("s_zh") > 0, "zh")
            .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
              col("s_en") >= col("s_fr"), "en")
            .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_de") >= col("s_fr"), "de")
            .otherwise("fr"))
    }),
      """WITH s AS (SELECT doc_id,
        | CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) AS s_en,
        | CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|por)\b')) AS BIGINT) AS s_es,
        | CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) AS BIGINT) AS s_de,
        | CAST(len(regexp_extract_all(lower(text), '\b(le|les|et|des|est|une)\b')) AS BIGINT) AS s_fr,
        | CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        |FROM documents)
        |SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
        | CASE WHEN s_zh > 0 THEN 'zh'
        |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de'
        |      ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin),

    // North star: document fingerprinting (digest of normalized text).
    Contract("q27_fingerprint", ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))),
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin),

    // North star: SimHash signatures, portable md5 form — per-token md5
    // bits vote per position, emitted as 4×16-bit chunks (the banding
    // layout simhashNearDups joins on). Fully mirrored in DuckDB; the
    // native xxhash64 SimHash64 expression stays the production default
    // (TextHashSpec).
    Contract("q30_simhash", ((s, d) => {
      // SimHash is a scalar function of the document — ONE native compiled
      // pass per row (tokenize, md5 bits, vote, pack 4×16-bit chunks), no
      // explode, no shuffle. Bit j set iff 2·Σbit_j ≥ n_tokens; the DuckDB
      // oracle replays the identical integer lattice from md5 hex nibbles.
      // Empty/whitespace-only docs are excluded on both sides — the two
      // engines' tokenizers disagree only there ('' vs zero tokens).
      val chunks = org.apache.spark.sql.GraftBridge.column(
        graft.functions.Md5SimHashChunks(
          org.apache.spark.sql.GraftBridge.expression(col("text"))))
      documents(s, d).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), chunks.as("cs"))
        .select(col("doc_id") +:
          (0 until 4).map(c => element_at(col("cs"), c + 1).as(s"chunk$c")): _*)
    }),
      q30OracleSql),  // (oracle filters empty docs too)

    // North star: BPE-ish regex tokenization (word / digit / punct classes —
    // the pre-tokenizer shape LLM pipelines count against).
    Contract("q43_bpe_tokens", ((s, d) => {
      val pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
      documents(s, d).select(col("doc_id"),
        TextFunctions.matchCount(col("text"), pat).as("n_bpe"),
        TextFunctions.tokenCount(col("text")).as("n_ws"))
        .withColumn("bpe_per_ws",
          col("n_bpe").cast("double") / col("n_ws").cast("double"))
    }),
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS DOUBLE) /
        |   CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS bpe_per_ws
        |FROM documents""".stripMargin),

    // S-family — multimodal chunk plumbing under oracle check: fixed-size
    // chunking + stride sampling of the binary payload, aggregated to
    // (sampled chunk count, sampled bytes) the oracle derives from length
    // arithmetic.
    Contract("q55_chunk_stats", ((s, d) => {
      val chunks = Multimodal.sampleChunks(
        Multimodal.withBinaryPayload(
          documents(s, d).filter(length(col("text")) > 0), "doc_id", "text"),
        chunkBytes = 64, stride = 2)
      chunks.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_sampled"),
        sum(length(col("chunk")).cast("long")).as("bytes_sampled"))
    }),
      """WITH t AS (SELECT doc_id, strlen(text) AS len FROM documents),
        |c AS (SELECT doc_id, len,
        |  CAST((len - 1) // 64 + 1 AS BIGINT) AS n_chunks FROM t WHERE len > 0)
        |SELECT doc_id,
        | CAST((n_chunks + 1) // 2 AS BIGINT) AS n_sampled,
        | CAST(CASE WHEN (n_chunks - 1) % 2 = 0
        |      THEN ((n_chunks + 1) // 2 - 1) * 64 + (len - (n_chunks - 1) * 64)
        |      ELSE ((n_chunks + 1) // 2) * 64 END AS BIGINT) AS bytes_sampled
        |FROM c""".stripMargin),

    // North star: interpolated Kneser-Ney bigram LM — continuation-count
    // backoff (Chen & Goodman d=0.75), the smoothing step the add-one
    // surprisal LM (q108) skips. Counts exact; p_kn is a fixed double
    // operation tree mirrored in the oracle.
    Contract("q155_kn_bigram", ((s, d) =>
      Corpus.knBigramModel(documents(s, d), "doc_id", "text", minCount = 3L)),
      // q155: q105's bigram CTEs; KN terms as exact counts, p_kn with the
      // IDENTICAL parenthesization as the Spark side (bit-exact doubles)
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)),
        |pair AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n_follow
        |        FROM pair GROUP BY w1),
        |pre AS (SELECT w2, count(*) AS n_precede FROM pair GROUP BY w2),
        |tot AS (SELECT count(*) AS n_bigrams FROM pair)
        |SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
        |  CAST(x.c1 AS BIGINT) AS c1,
        |  CAST(x.n_follow AS BIGINT) AS n_follow,
        |  CAST(r.n_precede AS BIGINT) AS n_precede,
        |  CAST(t.n_bigrams AS BIGINT) AS n_bigrams,
        |  greatest(CAST(p.c12 AS DOUBLE) - 0.75, 0.0) / CAST(x.c1 AS DOUBLE)
        |    + ((0.75 * CAST(x.n_follow AS DOUBLE)) / CAST(x.c1 AS DOUBLE))
        |      * (CAST(r.n_precede AS DOUBLE) / CAST(t.n_bigrams AS DOUBLE))
        |    AS p_kn
        |FROM pair p
        |JOIN ctx x ON p.w1 = x.w1
        |JOIN pre r ON p.w2 = r.w2
        |CROSS JOIN tot t
        |WHERE p.c12 >= 3""".stripMargin),

    // North star: SCD Type-2 dimension build — full version history with
    // validity intervals from a deterministic changelog (q130's family plus
    // a seq-0 initial load), the warehouse counterpart of q130's
    // latest-state MERGE. All window work is log-sized and per-id; deletes
    // close intervals without emitting rows.
    Contract("q152_scd2_history", ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 10 <= 1)
        .select(col("doc_id"), lit(0L).as("seq"), lit("upsert").as("op"),
          col("text"))
      val del = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          lit(null).cast("string").as("text"))
      val up1 = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" rev one")).as("text"))
      val up2 = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" rev two")).as("text"))
      val log = base.unionByName(del).unionByName(up1).unionByName(up2)
      Corpus.scd2Build(log, "doc_id", "seq", "op")
    }),
      // q152: same deterministic changelog (q130's family + seq-0 initial
      // load); lead(seq) over ALL ops closes intervals, then upserts only
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |log AS (
        |  SELECT doc_id, 0 AS seq, 'upsert' AS op, text
        |  FROM docs WHERE doc_id % 10 <= 1
        |  UNION ALL SELECT doc_id, 1, 'delete', CAST(NULL AS VARCHAR)
        |  FROM docs WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 1, 'upsert', text || ' rev one'
        |  FROM docs WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id, 2, 'upsert', text || ' rev two'
        |  FROM docs WHERE doc_id % 10 = 1),
        |w AS (SELECT doc_id, seq, op, text,
        |        lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS vt
        |      FROM log)
        |SELECT doc_id, text, CAST(vt AS BIGINT) AS valid_to,
        |  CAST(seq AS BIGINT) AS valid_from,
        |  (vt IS NULL) AS is_current
        |FROM w WHERE op = 'upsert'""".stripMargin),

    // North star: sequence packing — greedy sequential fill of documents
    // into fixed token-budget bins (the pretraining context-window packing
    // step). Each of 32 hash buckets packs independently (one worker's
    // shard), so the cumulative-sum window is partitioned, never global;
    // bin id and in-bin offset derive from the running sum before the doc.
    Contract("q91_sequence_packing", ((s, d) => {
      val budget = 512L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      documents(s, d).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(32)).cast("long").as("bucket"),
          TextFunctions.tokenCount(col("text")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("bucket"), col("n_tok"),
          ((col("cum") - col("n_tok")) / budget).cast("long").as("bin"),
          ((col("cum") - col("n_tok")) % budget).cast("long").as("offset"))
    }),
      // q91: same bucketed running-sum packing in SQL
      """WITH t AS (SELECT doc_id, doc_id % 32 AS bucket,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
        |  CAST((cum - n_tok) % 512 AS BIGINT) AS "offset"
        |FROM c""".stripMargin),

    // North star: deterministic hash-stratified sampling — per-language
    // keep rates for training-data mixing, decided map-side by an md5
    // bucket of doc_id (reproducible, shuffle-free, oracle-checkable).
    Contract("q87_stratified_sample", ((s, d) => {
      val rates = Map("en" -> 2048L, "de" -> 1024L, "es" -> 1024L,
        "fr" -> 512L, "zh" -> 512L) // thresholds out of 4096
      Transforms.hashStratifiedSample(
        documents(s, d), "doc_id", "lang", rates, defaultThreshold = 256L)
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),
      // q87: md5-bucket stratified sampling, thresholds out of 4096
      """WITH b AS (SELECT doc_id, lang,
        |  (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256 +
        |  (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) AS bucket
        |  FROM documents),
        |t AS (SELECT *, CASE lang WHEN 'en' THEN 2048 WHEN 'de' THEN 1024
        |   WHEN 'es' THEN 1024 WHEN 'fr' THEN 512 WHEN 'zh' THEN 512
        |   ELSE 256 END AS th FROM b)
        |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
        |FROM t WHERE bucket < th""".stripMargin),

    // North star: TF-IDF salient terms — top-3 per document. Ranking is
    // integer-exact (tf DESC, df ASC, term ASC) so cross-engine libm ulp
    // differences in ln() can't flip ranks; the tf-idf value itself is
    // emitted rounded.
    Contract("q64_tfidf_terms", ((s, d) => {
      val docs = documents(s, d).filter(length(trim(col("text"))) > 0)
      // corpus size folds in as a broadcast 1-row aggregate — one lazy DAG,
      // no driver-side count() pre-scan of the corpus at construction time
      val nd = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = toks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(df_, Seq("term")).crossJoin(broadcast(nd))
        .withColumn("tfidf_r", round(col("tf") *
          log((col("n_docs") + 1.0) / (col("df").cast("double") + 1.0)), 6))
        .drop("n_docs")
      Transforms.topKPerGroup(scored, Seq(col("doc_id")),
          Seq(col("tf").desc, col("df").asc, col("term").asc), 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
          col("tfidf_r"))
    }),
      """WITH nonempty AS (SELECT * FROM documents WHERE length(trim(text)) > 0),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM nonempty),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM
        |        (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM nonempty),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    round(tf.tf * ln((CAST(n.n_docs AS DOUBLE) + 1.0) /
        |                     (CAST(dfq.df AS DOUBLE) + 1.0)), 6) AS tfidf_r
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |     ORDER BY tf DESC, df ASC, term ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, term, tf, df, tfidf_r FROM ranked WHERE rnk <= 3""".stripMargin),

    // North star: BM25 retrieval scoring for a fixed query — the ranking
    // function quality-filtering / retrieval pipelines use. Per-term
    // contributions land in separate columns and add in a fixed order
    // (no aggregation-order nondeterminism); ranking uses the rounded
    // score + doc id so cross-engine ulp noise can't flip ranks.
    Contract("q66_bm25", ((s, d) => {
      val (k1, b) = (1.2, 0.75)
      val qTerms = Seq("data", "join", "stream")
      val docs = documents(s, d).filter(length(trim(col("text"))) > 0)
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalize(col("text")))).as("t"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      // corpus stats (n_docs, avgdl) fold in as a broadcast 1-row aggregate
      // crossJoin — one lazy DAG, no count()/head() pre-scans on the driver
      val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).cast("double").as("sum_dl")))
        .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"))
      val tf = toks.filter(col("t").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val contr = tf.join(df_, Seq("t")).join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df").cast("double") + 0.5) /
            (col("df").cast("double") + 0.5) + 1.0))
        .withColumn("w",
          col("tf").cast("double") * (k1 + 1.0) /
            (col("tf").cast("double") +
              lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
        .withColumn("c", col("idf") * col("w"))
      val wideAggs = qTerms.map(t => max(when(col("t") === t, col("c"))).as(s"c_$t"))
      val wide = contr.groupBy(col("doc_id")).agg(wideAggs.head, wideAggs.tail: _*)
      val scored = wide.withColumn("score_r",
        round(qTerms.map(t => coalesce(col(s"c_$t"), lit(0.0)))
          .reduce(_ + _), 6))
      Transforms.globalTopK(scored, Seq(col("score_r").desc, col("doc_id").asc), 10)
        .select(col("doc_id"), col("score_r"), col("rnk"))
    }),
      """WITH nonempty AS (SELECT * FROM documents WHERE length(trim(text)) > 0),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM nonempty),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nonempty),
        |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM stats) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
        |       WHERE t IN ('data', 'join', 'stream') GROUP BY doc_id, t),
        |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |contr AS (
        |  SELECT tf.doc_id, tf.t,
        |    ln(((SELECT n FROM stats) - CAST(dfq.df AS DOUBLE) + 0.5) /
        |       (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0) *
        |    (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0) /
        |     (CAST(tf.tf AS DOUBLE) +
        |      1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) /
        |             (SELECT avgdl FROM ad)))) AS c
        |  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id)),
        |wide AS (
        |  SELECT doc_id,
        |    max(CASE WHEN t = 'data' THEN c END) AS c_data,
        |    max(CASE WHEN t = 'join' THEN c END) AS c_join,
        |    max(CASE WHEN t = 'stream' THEN c END) AS c_stream
        |  FROM contr GROUP BY doc_id),
        |scored AS (
        |  SELECT doc_id,
        |    round(coalesce(c_data, 0.0) + coalesce(c_join, 0.0) +
        |          coalesce(c_stream, 0.0), 6) AS score_r
        |  FROM wide),
        |ranked AS (
        |  SELECT doc_id, score_r,
        |    CAST(row_number() OVER (ORDER BY score_r DESC, doc_id) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, score_r, rnk FROM ranked WHERE rnk <= 10""".stripMargin),

    // North star: winnowing fingerprints (MOSS-style): positional char
    // 5-grams, portable md5-window hashes, min over each 4-gram window,
    // distinct mins = the document's fingerprint set. Robust to local
    // edits, guaranteed match coverage — the document-fingerprint scheme
    // plagiarism/near-dup pipelines use.
    Contract("q67_winnow_fp", ((s, d) => {
      // The fingerprint set is a SCALAR of the document
      // (functions/PortableHashExpressions.winnowFingerprints): one native
      // pass per doc computes gram hashes + window minima + distinct in
      // place of the former posexplode → window → distinct plan, which
      // shuffled ~|text| rows per doc twice. Zero shuffles remain — the
      // query is a map-side projection. (The earlier explode spelling is
      // preserved semantically: the oracle SQL is unchanged.)
      val docs0 = documents(s, d)
      val par = s.sparkContext.defaultParallelism
      val docs = if (docs0.rdd.getNumPartitions < par) docs0.repartition(par)
                 else docs0
      import org.apache.spark.sql.GraftBridge
      val fps = GraftBridge.column(graft.functions.WinnowFingerprints(
        GraftBridge.expression(TextFunctions.normalize(col("text"))), 5, 4))
      docs.select(col("doc_id"), fps.as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
    }),
      """WITH nrm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    substring(md5(substring(norm, CAST(i AS INTEGER), 5)), 1, 8) AS h
        |  FROM nrm,
        |  LATERAL unnest(range(1, greatest(length(norm) - 4, 1) + 1)) AS u(i)),
        |w AS (
        |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g),
        |d AS (SELECT DISTINCT doc_id, fp FROM w)
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
        |FROM d GROUP BY doc_id""".stripMargin),

    // North star: PII detection + redaction — the scrubbing pass every
    // training corpus goes through. Deterministic synthetic PII is grafted
    // onto the text (the corpus itself is clean) so detection/redaction
    // are exercised end-to-end; output = per-doc counts + the fingerprint
    // of the REDACTED text, proving the masking itself matches.
    Contract("q71_pii_redact", ((s, d) => {
      val emailRx = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRx = "\\+\\d{3}-\\d{4}-\\d{4}"
      val withPii = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or tel "),
          lit("+502-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))
          .as("text"))
      withPii.select(col("doc_id"),
        TextFunctions.matchCount(col("text"), emailRx).as("n_email"),
        TextFunctions.matchCount(col("text"), phoneRx).as("n_phone"),
        md5(regexp_replace(regexp_replace(col("text"), emailRx, "<EMAIL>"),
          phoneRx, "<PHONE>")).as("redacted_fp"))
    }),
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or tel +502-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-' ||
        |    lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(text,
        |   '\+\d{3}-\d{4}-\d{4}')) AS BIGINT) AS n_phone,
        | md5(regexp_replace(regexp_replace(text,
        |   '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '\+\d{3}-\d{4}-\d{4}', '<PHONE>', 'g')) AS redacted_fp
        |FROM p""".stripMargin),

    // North star: repetition-ratio quality signal — the fraction of
    // duplicated word 3-grams per document (boilerplate / degenerate
    // generation detector in corpus filtering).
    Contract("q72_repetition", ((s, d) => {
      // empty/whitespace-only docs excluded on BOTH sides: DuckDB's
      // string_split_regex('') yields [''] (one shingle) while wordShingles
      // yields none — same tokenizer divergence q29/q30/q64/q66 filter out
      val sh = documents(s, d).filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(graft.functions.ShingleOps.wordShinglesCol(col("text"), 3)).as("g"))
      sh.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"))
        .withColumn("dup_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
    }),
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM toks,
        |  LATERAL unnest(range(1,
        |    (CASE WHEN len(t) = 0 THEN 0 ELSE greatest(len(t) - 2, 1) END) + 1)) AS u(i))
        |SELECT doc_id,
        | count(*) AS n_grams,
        | count(DISTINCT g) AS n_distinct,
        | 1.0 - CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |   AS dup_ratio
        |FROM sh GROUP BY doc_id""".stripMargin),

    // North star: deterministic corpus shuffle — reproducible global
    // permutation via hashed shuffle keys; shard-partitioned ranking.
    Contract("q97_corpus_shuffle", ((s, d) =>
      Transforms.deterministicShuffle(documents(s, d), "doc_id", shards = 32)),
      // q97: md5 shuffle key, shard = top byte mod 32, rank within shard
      """WITH k AS (SELECT doc_id,
        |    md5('shuf|' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT doc_id, skey,
        |  ((strpos('0123456789abcdef', substring(skey, 1, 1)) - 1) * 16 +
        |   (strpos('0123456789abcdef', substring(skey, 2, 1)) - 1)) % 32 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
        |       AS BIGINT) AS pos
        |FROM s""".stripMargin),

    // North star: per-language quality-percentile cutoff — keep each
    // language's top half by stopword density. Exact ranks (percent_rank
    // over a LANG-partitioned window with a unique tiebreak), not approx
    // percentile sketches, so the boundary is reproducible cross-engine.
    Contract("q98_quality_percentile", ((s, d) => {
      val toks = TextFunctions.tokens(lower(col("text")))
      val scored = documents(s, d).select(col("doc_id"), col("lang"),
        TextFunctions.stopwordCount(toks, TextFunctions.EnglishStopwords)
          .as("n_stop"),
        size(toks).cast("long").as("n_tokens"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens").cast("double"))
      Transforms.percentileFilter(scored, Seq(col("lang")),
        Seq(col("stop_ratio").desc, col("doc_id").asc), keepFrac = 0.5)
        .select(col("doc_id"), col("lang"), round(col("pr"), 6).as("pr_r"))
    }),
      // q98: per-lang percent_rank cutoff, unique (ratio DESC, doc_id) order
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |       t -> t IN ('the','a','an','of','and','in','to','is','it','for'))) AS DOUBLE) /
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS stop_ratio
        | FROM documents),
        |p AS (SELECT doc_id, lang,
        |  percent_rank() OVER (PARTITION BY lang
        |    ORDER BY stop_ratio DESC, doc_id) AS pr
        | FROM s)
        |SELECT doc_id, lang, round(pr, 6) AS pr_r FROM p WHERE pr <= 0.5""".stripMargin),

    // North star: training-mixture report — per (source, lang) doc and
    // token counts plus corpus shares. The share window runs over the
    // ROLLUP OUTPUT (bounded by |sources|x|langs| rows), never the corpus;
    // count/token sums are integer-valued doubles, so the global sum is
    // order-independent and the shares bit-exact cross-engine.
    Contract("q99_mixture_report", ((s, d) => {
      val agg = documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("n_tokens"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      agg.select(col("source"), col("lang"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_docs").cast("double") /
          sum(col("n_docs").cast("double")).over(all), 6).as("doc_share"),
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens").cast("double")).over(all), 6).as("tok_share"))
    }),
      // q99: (source, lang) rollup + shares over the rollup output
      """WITH a AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / sum(CAST(n_docs AS DOUBLE)) OVER (), 6) AS doc_share,
        |  round(CAST(n_tokens AS DOUBLE) / sum(CAST(n_tokens AS DOUBLE)) OVER (), 6) AS tok_share
        |FROM a""".stripMargin),

    // North star: bigram continuation statistics — the n-gram LM view of
    // the corpus (count(w1,w2), count(w1), the conditional ratio). Two
    // hash aggregates over exploded native 2-gram shingles; the ratio is
    // integer-derived and bit-exact. Low-frequency tail cut at n >= 5
    // keeps the result a statistics table, not a corpus copy.
    Contract("q105_bigram_stats", ((s, d) => {
      val bi = documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(explode(graft.functions.ShingleOps.wordShinglesCol(
          col("text"), 2)).as("s"))
        .filter(size(split(col("s"), " ")) === 2)
        .select(split_part(col("s"), lit(" "), lit(1)).as("w1"),
          split_part(col("s"), lit(" "), lit(2)).as("w2"))
      val pair = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
      val uni = pair.groupBy(col("w1")).agg(sum(col("n")).as("n_w1"))
      pair.join(uni, Seq("w1"))
        .filter(col("n") >= 5)
        .select(col("w1"), col("w2"), col("n").cast("long").as("n"),
          col("n_w1").cast("long").as("n_w1"),
          round(col("n").cast("double") / col("n_w1").cast("double"), 6)
            .as("cond_r"))
    }),
      // q105: same bigram explode, two aggregates, integer-exact ratio
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)),
        |pair AS (SELECT w1, w2, count(*) AS n FROM bi GROUP BY w1, w2),
        |uni AS (SELECT w1, sum(n) AS n_w1 FROM pair GROUP BY w1)
        |SELECT p.w1, p.w2, CAST(p.n AS BIGINT) AS n,
        |  CAST(u.n_w1 AS BIGINT) AS n_w1,
        |  round(CAST(p.n AS DOUBLE) / CAST(u.n_w1 AS DOUBLE), 6) AS cond_r
        |FROM pair p JOIN uni u ON p.w1 = u.w1
        |WHERE p.n >= 5""".stripMargin),

    // North star: corpus-fit bigram-LM surprisal per document — fit (two
    // hash aggregates; model is vocab²-bounded) + transform (equi-hash join
    // of doc bigram instances against the model; AQE broadcasts the model
    // when small). The per-doc score is an exact LONG micro-bits sum, so
    // partial-aggregation order can't perturb it.
    Contract("q108_bigram_lm", ((s, d) =>
      Corpus.bigramSurprisal(documents(s, d), "doc_id", "text")),
      // q108: same bigram fit + per-instance surprisal; the log2 terms are
      // rounded to exact LONG micro-bits on BOTH sides before summing, so
      // aggregation order is irrelevant and only a libm last-ulp difference
      // sitting within 1e-10 of a rounding boundary could diverge
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)),
        |pair AS (SELECT w1, w2, count(*) AS n FROM bi GROUP BY w1, w2),
        |uni AS (SELECT w1, sum(n) AS n_w1 FROM pair GROUP BY w1),
        |term AS (
        |  SELECT b.doc_id,
        |    CAST(round(1e6 * log2(CAST(u.n_w1 AS DOUBLE))) AS BIGINT)
        |    - CAST(round(1e6 * log2(CAST(p.n AS DOUBLE))) AS BIGINT) AS ub
        |  FROM bi b
        |  JOIN pair p ON b.w1 = p.w1 AND b.w2 = p.w2
        |  JOIN uni u ON b.w1 = u.w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bi,
        |  CAST(sum(ub) AS BIGINT) AS surprisal_ub,
        |  CAST((2*sum(ub) + count(*)) // (2*count(*)) AS DOUBLE) / 1e6
        |    AS avg_bits_r
        |FROM term GROUP BY doc_id""".stripMargin),

    // North star: sliding token-window chunking with overlap (64-token
    // windows every 48 tokens — the training-example packing shape). Pure
    // narrow map: sequence + slice + md5 inside whole-stage codegen, zero
    // shuffles at any corpus size.
    Contract("q109_chunk_overlap", ((s, d) =>
      Corpus.chunkWithOverlap(documents(s, d), "doc_id", "text",
        size = 64, stride = 48)),
      // q109: identical integer chunk-count arithmetic and 1-based slicing
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (
        |  SELECT doc_id, t,
        |    CASE WHEN len(t) <= 64 THEN 0
        |         ELSE (len(t) - 64 + 47) // 48 END AS k_max
        |  FROM toks),
        |c AS (
        |  SELECT doc_id, i AS chunk_idx, t[i*48 + 1 : i*48 + 64] AS chunk
        |  FROM n, LATERAL unnest(range(0, k_max + 1)) AS u(i))
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(chunk) AS BIGINT) AS chunk_tok,
        |  chunk[1] AS first_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c""".stripMargin),

    // North star: per-source token-budget curation — deterministic hash
    // order inside each source, O(1)-state running-sum window, admit while
    // the budget isn't exhausted before the document. One shuffle on the
    // group key.
    Contract("q110_source_budget", ((s, d) =>
      Corpus.budgetSample(documents(s, d), "source", "doc_id",
        col("n_chars"), budget = 2500L)),
      // q110: same deterministic md5 order + running-sum admission rule
      """WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |    md5('bud|' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY skey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_wt
        |  FROM k)
        |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS wt,
        |  CAST(cum_wt AS BIGINT) AS cum_wt
        |FROM c WHERE cum_wt - n_chars < 2500""".stripMargin),

    // North star: lexical quality signals — token/type counts, type-token
    // ratio, word-distribution Shannon entropy (exact micro-bits carrier).
    // Two partial-aggregatable hash aggregates.
    Contract("q111_word_entropy", ((s, d) =>
      Corpus.wordEntropy(documents(s, d), "doc_id", "text")),
      // q111: word-frequency entropy with the same micro-bits carrier
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS nw FROM toks GROUP BY doc_id, w),
        |d AS (
        |  SELECT doc_id, sum(nw) AS n_tok, count(*) AS n_types,
        |    sum(nw * CAST(round(1e6 * log2(CAST(nw AS DOUBLE))) AS BIGINT))
        |      AS sum_ub
        |  FROM wc GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST((2000000*n_types + n_tok) // (2*n_tok) AS DOUBLE) / 1e6
        |    AS ttr_r,
        |  CAST((2 * (CAST(round(1e6*log2(CAST(n_tok AS DOUBLE))) AS BIGINT)
        |             * n_tok - sum_ub) + n_tok) // (2 * n_tok) AS DOUBLE)
        |    / 1e6 AS entropy_r
        |FROM d""".stripMargin),

    // North star: mergeable MinHash sketches — per-doc signatures (one
    // native text pass) MIN-merged into per-source sketches map-side, then
    // pairwise lane-agreement similarity on the sketch table alone, with
    // the exact shingle-set Jaccard joined in as verification (blocked
    // equi-join on the shingle, q107-style).
    Contract("q112_source_sketch", ((s, d) => {
      val docs = documents(s, d).filter(length(trim(col("text"))) > 0)
      val sim = Corpus.sketchPairSimilarity(
        Corpus.groupMinhashSketch(docs, "source", "text"), "source")
      // r21: same three-consumer pin as q107's shd (sizes + both sides
      // of the intersection self-join) — one explode+distinct pass, not
      // three, under the small-input gate.
      val shd = ckptIfSmall(docs)(docs.select(col("source"),
          explode(graft.functions.ShingleOps.wordShinglesCol(col("text"), 3))
            .as("sh")).distinct())
      val sizes = shd.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = shd.as("ha")
        .join(shd.as("hb"),
          col("ha.sh") === col("hb.sh") && col("ha.source") < col("hb.source"))
        .groupBy(col("ha.source").as("grp_a"), col("hb.source").as("grp_b"))
        .agg(count(lit(1)).as("n_inter"))
      sim
        .join(inter, Seq("grp_a", "grp_b"), "left")
        .join(sizes.as("za"), col("grp_a") === col("za.source"))
        .join(sizes.as("zb"), col("grp_b") === col("zb.source"))
        .select(col("grp_a"), col("grp_b"), col("n_agree"), col("est_r"),
          coalesce(col("n_inter"), lit(0L)).cast("long").as("n_inter"),
          (col("za.n") + col("zb.n") - coalesce(col("n_inter"), lit(0L)))
            .cast("long").as("n_union"),
          Corpus.ratioRound6(coalesce(col("n_inter"), lit(0L)),
            col("za.n") + col("zb.n") - coalesce(col("n_inter"), lit(0L)))
            .as("jac_r"))
    }),
      // q112: per-source lane minima computed directly from the shingles (the
      // mergeability property: min over docs of per-doc minima = min over the
      // source's union shingle set), then the same agreement/exact-Jaccard
      // pairing as q107 at source granularity
      """WITH toks AS (
        |  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT source, array_to_string(t[i:i+2], ' ') AS s
        |  FROM toks,
        |  LATERAL unnest(range(1,
        |    (CASE WHEN len(t) = 0 THEN 0 ELSE greatest(len(t) - 2, 1) END) + 1)) AS u(i)),
        |lanes AS (SELECT unnest(range(0, 16)) AS lane),
        |minh AS (
        |  SELECT source, lane,
        |    min(substring(md5(s) || md5(s), CAST(2*lane+1 AS INTEGER), 8)) AS h
        |  FROM sh CROSS JOIN lanes GROUP BY source, lane),
        |agree AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b,
        |    count(*) FILTER (a.h = b.h) AS n_agree
        |  FROM minh a JOIN minh b ON a.lane = b.lane AND a.source < b.source
        |  GROUP BY 1, 2),
        |shd AS (SELECT DISTINCT source, s FROM sh),
        |sizes AS (SELECT source, count(*) AS n FROM shd GROUP BY source),
        |inter AS (
        |  SELECT a.source AS grp_a, b.source AS grp_b, count(*) AS n_inter
        |  FROM shd a JOIN shd b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT g.grp_a, g.grp_b, CAST(g.n_agree AS BIGINT) AS n_agree,
        |  round(CAST(g.n_agree AS DOUBLE) / 16, 6) AS est_r,
        |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |  CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
        |  CAST((2000000*coalesce(i.n_inter, 0)
        |        + (sa.n + sb.n - coalesce(i.n_inter, 0)))
        |    // (2*(sa.n + sb.n - coalesce(i.n_inter, 0))) AS DOUBLE) / 1e6
        |    AS jac_r
        |FROM agree g
        |LEFT JOIN inter i ON g.grp_a = i.grp_a AND g.grp_b = i.grp_b
        |JOIN sizes sa ON g.grp_a = sa.source
        |JOIN sizes sb ON g.grp_b = sb.source""".stripMargin),

    // North star: count-min-sketch frequency estimation — a (4×1024)-cell
    // mergeable sketch (partial-aggregatable; the corpus never shuffles,
    // only bucket partials do) with its one-sided error made visible:
    // exact top-20 words joined against their CMS estimates.
    Contract("q113_cms_heavyhitters", ((s, d) =>
      Corpus.cmsHeavyHitters(documents(s, d), "text", k = 20)),
      // q113: same 12-bit md5 bucket (3 hex nibbles mod 1024), same 4-row
      // sketch, same exact-top-20 join; overshoot = est - exact >= 0 always
      s"""WITH words AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |rows_ AS (SELECT unnest(range(0, 4)) AS r),
         |bucketed AS (
         |  SELECT r, w, ${cmsBucketSqlFor("r", "w")} AS bucket
         |  FROM words CROSS JOIN rows_),
         |cms AS (SELECT r, bucket, count(*) AS n FROM bucketed
         |        GROUP BY r, bucket),
         |exact AS (
         |  SELECT w, count(*) AS n_exact FROM words GROUP BY w
         |  ORDER BY n_exact DESC, w LIMIT 20),
         |est AS (
         |  SELECT e.w, e.n_exact, min(c.n) AS n_est
         |  FROM exact e CROSS JOIN rows_ r
         |  JOIN cms c ON c.r = r.r AND c.bucket = (${cmsBucketSqlFor("r.r", "e.w")})
         |  GROUP BY e.w, e.n_exact)
         |SELECT w, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_est AS BIGINT) AS n_est,
         |  CAST(n_est - n_exact AS BIGINT) AS overshoot
         |FROM est""".stripMargin),

    // North star: incremental LM maintenance — the bigram model fit on two
    // disjoint corpus slices and MERGED (sum pair counts, re-derive context
    // totals) must equal the model refit on the whole corpus; the oracle IS
    // the whole-corpus fit. One model-sized aggregate, no corpus refit.
    Contract("q114_incremental_lm", ((s, d) => {
      val docs = documents(s, d)
      val slices = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val merged = Corpus.mergeBigramModels(slices.map(sl =>
        Corpus.bigramModel(Corpus.docBigrams(sl, "doc_id", "text"))))
      merged.filter(col("n") >= 5)
        .select(col("w1"), col("w2"), col("n").cast("long").as("n"),
          col("n_w1").cast("long").as("n_w1"),
          Corpus.ratioRound6(col("n"), col("n_w1")).as("cond_r"))
    }),
      // q114: merging slice fits must equal the whole-corpus fit — the
      // oracle deliberately refits on everything (q105's model + exact-
      // integer rounding), proving merge(fit(A), fit(B)) == fit(A ∪ B)
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)),
        |pair AS (SELECT w1, w2, count(*) AS n FROM bi GROUP BY w1, w2),
        |uni AS (SELECT w1, sum(n) AS n_w1 FROM pair GROUP BY w1)
        |SELECT p.w1, p.w2, CAST(p.n AS BIGINT) AS n,
        |  CAST(u.n_w1 AS BIGINT) AS n_w1,
        |  CAST((2000000*p.n + u.n_w1) // (2*u.n_w1) AS DOUBLE) / 1e6
        |    AS cond_r
        |FROM pair p JOIN uni u ON p.w1 = u.w1
        |WHERE p.n >= 5""".stripMargin),

    // North star: PMI association mining — top-50 word pairs by pointwise
    // mutual information in exact micro-bits; marginals and the corpus
    // total all live on the vocab²-bounded pair table.
    Contract("q116_pmi_pairs", ((s, d) =>
      Corpus.pmiTopPairs(documents(s, d), "doc_id", "text")),
      // q116: identical micro-bit PMI with marginals and total on the pair
      // table; unique (pmi, w1, w2) ordering for the top-50 cut
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (
        |  SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)),
        |pair AS (SELECT w1, w2, count(*) AS n FROM bi GROUP BY w1, w2),
        |uni1 AS (SELECT w1, sum(n) AS n_w1 FROM pair GROUP BY w1),
        |uni2 AS (SELECT w2, sum(n) AS n_w2 FROM pair GROUP BY w2),
        |tot AS (SELECT sum(n) AS t FROM pair),
        |sel AS (
        |  SELECT p.w1, p.w2, p.n, u1.n_w1, u2.n_w2,
        |    CAST(round(1e6 * log2(CAST(p.n AS DOUBLE))) AS BIGINT)
        |    + CAST(round(1e6 * log2(CAST(t.t AS DOUBLE))) AS BIGINT)
        |    - CAST(round(1e6 * log2(CAST(u1.n_w1 AS DOUBLE))) AS BIGINT)
        |    - CAST(round(1e6 * log2(CAST(u2.n_w2 AS DOUBLE))) AS BIGINT)
        |      AS pmi_ub
        |  FROM pair p
        |  JOIN uni1 u1 ON p.w1 = u1.w1
        |  JOIN uni2 u2 ON p.w2 = u2.w2
        |  CROSS JOIN tot t
        |  WHERE p.n >= 5)
        |SELECT w1, w2, CAST(n AS BIGINT) AS n, CAST(n_w1 AS BIGINT) AS n_w1,
        |  CAST(n_w2 AS BIGINT) AS n_w2, pmi_ub,
        |  CAST(pmi_ub AS DOUBLE) / 1e6 AS pmi_r
        |FROM sel ORDER BY pmi_ub DESC, w1, w2 LIMIT 50""".stripMargin),

    // North star: Bloom-pre-pruned decontamination — keep documents whose
    // content digest is NOT in a blocklist (here: digests of doc_id%37==0
    // docs, standing in for an external bad-hash list). The corpus side is
    // filtered by a broadcast Bloom blob inside whole-stage codegen; only
    // might-contain candidates reach the exact anti-join, so false
    // positives cost a shuffle row, never correctness.
    Contract("q120_bloom_blocklist", ((s, d) => {
      val digested = documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("digest"))
      val block = digested.filter(col("doc_id") % 37 === 0).select(col("digest"))
      Blocklist.bloomAntiJoin(digested, block, "digest")
        .select(col("doc_id"), col("digest"))
    }),
      // q120: the Bloom filter is an accelerator, not a semantics change —
      // the oracle is the plain exact anti-join
      """WITH digested AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents)
        |SELECT doc_id, digest FROM digested
        |WHERE digest NOT IN (
        |  SELECT digest FROM digested WHERE doc_id % 37 = 0)""".stripMargin),

    // Incremental-ingest primitive: snapshot diff between two corpus
    // versions (v2 derived deterministically: %41 removed, %43 edited,
    // %47 re-added under a shifted id) — added/removed/changed/unchanged
    // per doc id; only (id, digest) rows ever shuffle.
    Contract("q122_corpus_diff", ((s, d) => {
      val v1 = documents(s, d).select(col("doc_id"), col("text"))
      val kept = v1.filter(col("doc_id") % 41 =!= 0)
        .withColumn("text", when(col("doc_id") % 43 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = v1.filter(col("doc_id") % 47 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"))
      Corpus.snapshotDiff(v1, kept.unionByName(added), "doc_id", "text")
    }),
      // q122: identical v2 derivation, plain full-outer digest compare
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 43 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 41 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' new' FROM v1 WHERE doc_id % 47 = 0),
        |o AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS old_digest
        |  FROM v1),
        |n AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS new_digest
        |  FROM v2)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_digest = new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_digest, new_digest
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // Repetition signal (Gopher-style quality filter), fully under the
    // oracle: the distinct-8gram ratio is the engine-portable proxy for
    // compressibility (repetitive text has few distinct char 8-shingles).
    // The deflate-ratio variant (functions.DeflateRatio) stays available —
    // DEFLATE byte counts are a zlib implementation detail no SQL engine
    // reproduces, so its behavior is locked by TextHashSpec instead of the
    // driver compare. Threshold math is integer-only on both engines.
    Contract("q123_compression_signal", ((s, d) => {
      val n = length(col("text")).cast("long")
      documents(s, d).select(col("doc_id"),
          n.as("n_chars"),
          greatest(n - 7L, lit(1L)).as("n_grams"),
          size(TextFunctions.charShingles(col("text"), 8))
            .cast("long").as("n_distinct"))
        .withColumn("is_repetitive",
          col("n_distinct") * 10L < col("n_grams") * 3L)
    }),
      // q123: same padded char-8-shingle semantics as charShingles (k-1
      // space pad, >=1 shingle even for short/empty text); repetition
      // threshold is integer math on both engines
      """WITH g AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams,
        |    CAST(count(DISTINCT substring(text || repeat(' ', 7),
        |      CAST(i AS INTEGER), 8)) AS BIGINT) AS n_distinct
        |  FROM documents,
        |  LATERAL unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS u(i)
        |  GROUP BY doc_id, length(text))
        |SELECT doc_id, n_chars, n_grams, n_distinct,
        |  (n_distinct * 10 < n_grams * 3) AS is_repetitive
        |FROM g""".stripMargin),

    // Gopher repetition gate (Rae et al. 2021 table A1): top-{2,3,4}-gram
    // and duplicated-{5,10}-gram char masses + keep verdict at the paper's
    // thresholds, all exact integers. One compiled map-only pass per doc
    // (functions.GopherRepetition), ZERO shuffle — vs the explode →
    // groupBy(doc, n, gram) plan the oracle mirrors, which shuffles ~5×
    // the corpus token count. q72's distinct-3gram ratio is the cheap
    // cousin; this is the full multi-n gate used by real curation stacks.
    Contract("q143_gopher_gate", ((s, d) =>
      Corpus.repetitionGate(documents(s, d), "doc_id", "text")),
      // q143: the explode → group(doc, n, gram) formulation of the Gopher
      // gate. The top gram is selected via max(count·2^31 + gramChars) — one
      // integer carrying the count with a longer-gram tie-break, identical
      // on both engines; every output is an exact BIGINT char mass and the
      // verdict is integer cross-multiplication (no float thresholds)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |stats AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(length(array_to_string(t, ' ')) AS BIGINT) AS norm_chars
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS g
        |    FROM toks, LATERAL unnest(range(1, greatest(len(t)-1, 0) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 3, array_to_string(t[i:i+2], ' ')
        |    FROM toks, LATERAL unnest(range(1, greatest(len(t)-2, 0) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 4, array_to_string(t[i:i+3], ' ')
        |    FROM toks, LATERAL unnest(range(1, greatest(len(t)-3, 0) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 5, array_to_string(t[i:i+4], ' ')
        |    FROM toks, LATERAL unnest(range(1, greatest(len(t)-4, 0) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 10, array_to_string(t[i:i+9], ' ')
        |    FROM toks, LATERAL unnest(range(1, greatest(len(t)-9, 0) + 1)) AS u(i)),
        |gc AS (
        |  SELECT doc_id, n, g, count(*) AS cnt, length(g) AS glen
        |  FROM grams GROUP BY 1, 2, 3),
        |ag AS (
        |  SELECT doc_id, n,
        |    max(cnt * 2147483648 + glen) AS score,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup
        |  FROM gc GROUP BY 1, 2),
        |wide AS (
        |  SELECT s.doc_id, s.n_words, s.norm_chars,
        |    CAST(coalesce(a2.score // 2147483648, 0) AS BIGINT) AS top2_count,
        |    CAST(coalesce((a2.score // 2147483648) * (a2.score % 2147483648), 0) AS BIGINT) AS top2_chars,
        |    CAST(coalesce(a3.score // 2147483648, 0) AS BIGINT) AS top3_count,
        |    CAST(coalesce((a3.score // 2147483648) * (a3.score % 2147483648), 0) AS BIGINT) AS top3_chars,
        |    CAST(coalesce(a4.score // 2147483648, 0) AS BIGINT) AS top4_count,
        |    CAST(coalesce((a4.score // 2147483648) * (a4.score % 2147483648), 0) AS BIGINT) AS top4_chars,
        |    CAST(coalesce(a5.dup, 0) AS BIGINT) AS dup5_mass,
        |    CAST(coalesce(a10.dup, 0) AS BIGINT) AS dup10_mass
        |  FROM stats s
        |  LEFT JOIN ag a2 ON a2.doc_id = s.doc_id AND a2.n = 2
        |  LEFT JOIN ag a3 ON a3.doc_id = s.doc_id AND a3.n = 3
        |  LEFT JOIN ag a4 ON a4.doc_id = s.doc_id AND a4.n = 4
        |  LEFT JOIN ag a5 ON a5.doc_id = s.doc_id AND a5.n = 5
        |  LEFT JOIN ag a10 ON a10.doc_id = s.doc_id AND a10.n = 10)
        |SELECT doc_id, n_words, norm_chars,
        |  top2_count, top2_chars, top3_count, top3_chars,
        |  top4_count, top4_chars, dup5_mass, dup10_mass,
        |  (top2_chars * 5 <= norm_chars AND top3_chars * 50 <= norm_chars * 9
        |   AND top4_chars * 25 <= norm_chars * 4
        |   AND dup5_mass * 20 <= norm_chars * 3
        |   AND dup10_mass * 10 <= norm_chars) AS keep_gopher
        |FROM wide""".stripMargin),

    // Per-source content novelty: distinct char-8-shingles per source,
    // split into shared-with-other-sources vs unique — which sources ADD
    // content vs re-serve it. One corpus-sized distinct, then per-shingle
    // aggregates only; uniques come from (count=1, min source), never a
    // corpus-sized join-back. hashed=false here so the oracle mirrors the
    // exact strings; hashed=true is the 8-byte-key production posture.
    Contract("q144_source_novelty", ((s, d) =>
      Corpus.sourceNovelty(documents(s, d), "source", "text")),
      // q144: identical padded char-8-shingle semantics as q123's oracle,
      // over the normalized (lower, whitespace-collapsed) text; novelty uses
      // the exact-integer half-up rounding shared with q111/q116
      """WITH n AS (
        |  SELECT source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |sg AS (
        |  SELECT DISTINCT source,
        |    substring(t || repeat(' ', 7), CAST(i AS INTEGER), 8) AS g
        |  FROM n,
        |  LATERAL unnest(range(1, greatest(length(t) - 7, 1) + 1)) AS u(i)),
        |gc AS (
        |  SELECT g, count(*) AS ns, min(source) AS only_src
        |  FROM sg GROUP BY 1),
        |tot AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY 1),
        |uni AS (
        |  SELECT only_src AS source, count(*) AS n_unique
        |  FROM gc WHERE ns = 1 GROUP BY 1)
        |SELECT t.source, CAST(t.n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(u.n_unique, 0) AS BIGINT) AS n_unique,
        |  CAST((2000000 * coalesce(u.n_unique, 0) + t.n_grams)
        |    // (2 * t.n_grams) AS DOUBLE) / 1e6 AS novelty
        |FROM tot t LEFT JOIN uni u ON u.source = t.source""".stripMargin),

    // Inverted index — the retrieval-side transpose of q64's tf-idf view:
    // per term, df + corpus tf + top-3 postings by tf (doc-id tiebreak).
    // One corpus pass, one term-keyed exchange, df/total/rank as three
    // windows over the same partitioning — no self-join.
    Contract("q146_inverted_index", ((s, d) =>
      Corpus.invertedIndex(documents(s, d), "doc_id", "text")),
      // q146: same tokenizer as every text oracle; rank is total (tf desc,
      // doc_id asc over distinct (term,doc) pairs) so top-3 is deterministic
      """WITH tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0) t
        |  WHERE term <> ''
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT term, doc_id, tf,
        |    count(*) OVER (PARTITION BY term) AS df,
        |    sum(tf) OVER (PARTITION BY term) AS total_tf,
        |    row_number() OVER (PARTITION BY term
        |      ORDER BY tf DESC, doc_id) AS rank
        |  FROM tf)
        |SELECT term, CAST(df AS BIGINT) AS df,
        |  CAST(total_tf AS BIGINT) AS total_tf,
        |  CAST(rank AS BIGINT) AS rank, doc_id, CAST(tf AS BIGINT) AS tf
        |FROM r WHERE rank <= 3""".stripMargin),

    // Large-dictionary masking: one trie pass per doc (vs K regex passes),
    // leftmost-longest = RE2 with a length-desc alternation, so the masked
    // text is proved byte-identical via md5. Overlapping terms (customer
    // query ⊃ customer, hash join ⊃ hash) exercise longest-match.
    Contract("q124_dict_mask", ((s, d) => {
      import org.apache.spark.sql.GraftBridge
      val trie = new graft.functions.DictTrie(DictTerms, "<TERM>")
      documents(s, d).select(col("doc_id"),
          GraftBridge.column(graft.functions.DictScan(
            GraftBridge.expression(col("text")), trie)).as("sc"))
        .select(col("doc_id"), col("sc.n_hits").as("n_hits"),
          md5(col("sc.masked")).as("masked_digest"))
    }),
      // q124: RE2 alternation (length-desc) == trie leftmost-longest; masked
      // text proved byte-identical through the digest
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '(customer query|sort table|hash join|customer|stream|window|spark|hash)'
        |  )) AS BIGINT) AS n_hits,
        |  md5(regexp_replace(text,
        |    '(customer query|sort table|hash join|customer|stream|window|spark|hash)',
        |    '<TERM>', 'g')) AS masked_digest
        |FROM documents""".stripMargin),

    // Reciprocal-rank fusion of two deterministic top-50 rankings
    // (chars-desc and distinct-words-desc): micro-rounded reciprocals,
    // exact fused order, absent-rank contributes nothing.
    Contract("q180_rrf_fusion", ((s, d) => {
      val docs = documents(s, d)
      val rankA = docs.select(col("doc_id"),
        row_number().over(Window.orderBy(col("n_chars").desc,
          col("doc_id"))).cast("long").as("rank"))
        .filter(col("rank") <= 50)
      val rankB = docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .groupBy(col("doc_id")).agg(countDistinct(col("w")).as("types"))
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("types").desc,
            col("doc_id"))).cast("long").as("rank"))
        .filter(col("rank") <= 50)
      Corpus.rrfFuse(rankA, rankB, "doc_id", topK = 50)
    }),
      // q180: same two rankings, FULL OUTER fuse, identical micro-rounded
      // reciprocals; the top-50 set is deterministic (fused desc, doc_id)
      """WITH ra AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC,
        |    doc_id) AS BIGINT) AS rank
        |  FROM documents),
        |fa AS (SELECT * FROM ra WHERE rank <= 50),
        |tb AS (
        |  SELECT doc_id, count(DISTINCT w) AS types FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0)
        |  GROUP BY doc_id),
        |rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY types DESC,
        |  doc_id) AS BIGINT) AS rank FROM tb),
        |fb AS (SELECT * FROM rb WHERE rank <= 50),
        |j AS (
        |  SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
        |    fa.rank AS rank_a, fb.rank AS rank_b
        |  FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id)
        |SELECT doc_id, rank_a, rank_b,
        |  CAST(coalesce((2000000 + (60 + rank_a)) // (2 * (60 + rank_a)), 0)
        |    + coalesce((2000000 + (60 + rank_b)) // (2 * (60 + rank_b)), 0)
        |    AS BIGINT) AS fused_u
        |FROM j ORDER BY fused_u DESC, doc_id LIMIT 50""".stripMargin),

    // Token-mass Gini over documents: grouped-data identity, exact
    // integer moments, one doc-table sort.
    Contract("q174_gini", ((s, d) =>
      Corpus.giniConcentration(documents(s, d), "doc_id", "text")),
      // q174: same ascending (x, doc_id) rank, HUGEINT moments, half-up
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS x
        |  FROM documents WHERE length(trim(text)) > 0),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, doc_id) AS i
        |      FROM lens),
        |m AS (SELECT count(*) AS n, sum(x) AS t, sum(x * i) AS s FROM r)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(t AS BIGINT)
        |    AS total_tokens,
        |  CASE WHEN n * t = 0 THEN NULL
        |    ELSE CAST((2000000 * (2 * s - (n + 1) * t) + n * t)
        |      // (2 * n * t) AS DOUBLE) / 1e6 END AS gini_r
        |FROM m""".stripMargin),

    // Zipf-law fit: slope of log2(freq) vs log2(rank) over the vocab
    // table — micro-bit axes, decimal moment sums, one row out.
    Contract("q175_zipf_fit", ((s, d) => Corpus.zipfFit(documents(s, d), "text")),
      // q175: same (n DESC, w) rank, micro-bit axes, q159's closed form in
      // HUGEINT, sign-aware half-up
      """WITH wc AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT w, count(*) AS n FROM wc GROUP BY 1),
        |r AS (
        |  SELECT CAST(round(1e6 * log2(CAST(row_number()
        |      OVER (ORDER BY n DESC, w) AS DOUBLE))) AS BIGINT) AS x,
        |    CAST(round(1e6 * log2(CAST(n AS DOUBLE))) AS BIGINT) AS y
        |  FROM c),
        |m AS (
        |  SELECT count(*) AS v, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM r),
        |f AS (
        |  SELECT v, v * sxy - sx * sy AS num, v * sxx - sx * sx AS den
        |  FROM m)
        |SELECT CAST(v AS BIGINT) AS vocab,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |      CAST((2000000 * abs(num) + den) // (2 * den) AS DOUBLE) / 1e6
        |  END AS slope_r
        |FROM f""".stripMargin),

    // Vocabulary coverage curve: top-100 words by frequency with
    // cumulative token share — the tokenizer-design query; both windows
    // sort the vocab table only.
    Contract("q168_vocab_coverage", ((s, d) =>
      Corpus.vocabCoverage(documents(s, d), "text", topK = 100)),
      // q168: same (n DESC, w) total order for rank and inclusive
      // cumulative, same tokenizer as q111
      """WITH wc AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT w, count(*) AS n FROM wc GROUP BY 1),
        |r AS (
        |  SELECT w, n,
        |    row_number() OVER (ORDER BY n DESC, w) AS rank,
        |    sum(n) OVER (ORDER BY n DESC, w ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(n) OVER () AS total
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, w, CAST(n AS BIGINT) AS n,
        |  CAST(cum_n AS BIGINT) AS cum_n, CAST(total AS BIGINT) AS total,
        |  CAST((2000000 * cum_n + total) // (2 * total) AS DOUBLE) / 1e6
        |    AS cover_r
        |FROM r WHERE rank <= 100""".stripMargin),

    // Per-source quality scorecard: exact shares of docs passing the
    // English / Flesch≥60 / ≥50-words gates — map-side indicators, ONE
    // hash aggregate, no per-gate subquery joins.
    Contract("q170_source_scorecard", ((s, d) =>
      Corpus.sourceScorecard(documents(s, d), "source", "text", "lang",
        "n_chars")),
      // q170: identical gate expressions (q166's counts + micro Flesch),
      // one aggregate, exact half-up shares
      """WITH g AS (
        |  SELECT source, n_chars AS nc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
        |    CASE WHEN 206835000
        |      - (2 * 1015000 * nw + ns) // (2 * ns)
        |      - (2 * 84600000 * sy + nw) // (2 * nw) >= 60000000
        |      THEN 1 ELSE 0 END AS is_readable,
        |    CASE WHEN nw >= 50 THEN 1 ELSE 0 END AS is_long
        |  FROM (
        |    SELECT source, lang, n_chars,
        |      CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |        AS BIGINT) AS nw,
        |      greatest(CAST(1 AS BIGINT),
        |        CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |        AS ns,
        |      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |        AS BIGINT) AS sy
        |    FROM documents WHERE length(trim(text)) > 0))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST((2000000 * sum(nc) + count(*)) // (2 * count(*)) AS DOUBLE)
        |    / 1e6 AS mean_chars_r,
        |  CAST((2000000 * sum(is_en) + count(*)) // (2 * count(*))
        |    AS DOUBLE) / 1e6 AS en_share_r,
        |  CAST((2000000 * sum(is_readable) + count(*)) // (2 * count(*))
        |    AS DOUBLE) / 1e6 AS readable_share_r,
        |  CAST((2000000 * sum(is_long) + count(*)) // (2 * count(*))
        |    AS DOUBLE) / 1e6 AS long_share_r
        |FROM g GROUP BY source""".stripMargin),

    // Flesch reading-ease per document: integer regex counts (vowel-group
    // syllable proxy, [.!?]+ sentences floored at 1), per-term half-up
    // micro rounding — map-only, zero shuffle.
    Contract("q166_readability", ((s, d) =>
      Corpus.readability(documents(s, d), "doc_id", "text")),
      // q166: same integer regex counts (RE2 character classes are
      // dialect-safe), identical per-term floor-div rounding
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(206835000
        |    - (2 * 1015000 * n_words + n_sentences) // (2 * n_sentences)
        |    - (2 * 84600000 * n_syllables + n_words) // (2 * n_words)
        |    AS DOUBLE) / 1e6 AS flesch_r
        |FROM b""".stripMargin),

    // Pairwise Jensen-Shannon divergence between source unigram
    // distributions — bounded symmetric drift measure; inner word join +
    // closed-form private-mass remainder, exact 0 for identical inputs.
    Contract("q164_js_divergence", ((s, d) =>
      Corpus.jsDivergence(documents(s, d), "source", "text")),
      // q164: same tokenizer as q111, A·B-scaled integer log arguments,
      // micro-bit rounding per word, private-mass remainder, HUGEINT
      // combine with one half-up division
      """WITH toks AS (
        |  SELECT source AS g,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |sw AS (SELECT g, w, count(*) AS n FROM toks GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS tot FROM sw GROUP BY 1),
        |j AS (
        |  SELECT a.g AS s1, b.g AS s2, a.n AS na, b.n AS nb,
        |    ta.tot AS ta, tb.tot AS tb
        |  FROM sw a JOIN sw b ON a.w = b.w AND a.g < b.g
        |  JOIN tot ta ON ta.g = a.g JOIN tot tb ON tb.g = b.g),
        |ag AS (
        |  SELECT s1, s2, count(*) AS n_common,
        |    sum(na * (1000000
        |      + CAST(round(1e6 * log2(CAST(na * tb AS DOUBLE))) AS BIGINT)
        |      - CAST(round(1e6 * log2(CAST(na * tb + nb * ta AS DOUBLE)))
        |          AS BIGINT))) AS sp_in,
        |    sum(nb * (1000000
        |      + CAST(round(1e6 * log2(CAST(nb * ta AS DOUBLE))) AS BIGINT)
        |      - CAST(round(1e6 * log2(CAST(na * tb + nb * ta AS DOUBLE)))
        |          AS BIGINT))) AS sq_in,
        |    sum(na) AS ca, sum(nb) AS cb
        |  FROM j GROUP BY 1, 2),
        |pairs AS (
        |  SELECT p.g AS s1, q.g AS s2, p.tot AS ta, q.tot AS tb
        |  FROM tot p, tot q WHERE p.g < q.g),
        |f AS (
        |  SELECT pr.s1, pr.s2, coalesce(ag.n_common, 0) AS n_common,
        |    coalesce(ag.sp_in, 0)
        |      + (pr.ta - coalesce(ag.ca, 0)) * 1000000 AS sp,
        |    coalesce(ag.sq_in, 0)
        |      + (pr.tb - coalesce(ag.cb, 0)) * 1000000 AS sq,
        |    pr.ta AS ta, pr.tb AS tb
        |  FROM pairs pr LEFT JOIN ag ON pr.s1 = ag.s1 AND pr.s2 = ag.s2)
        |SELECT s1, s2, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sp AS BIGINT) AS sp_ub, CAST(sq AS BIGINT) AS sq_ub, ta, tb,
        |  CAST((2 * (sp * tb + sq * ta) + 2 * ta * tb)
        |    // (4 * ta * tb) AS DOUBLE) / 1e6 AS js_r
        |FROM f""".stripMargin),

    // North star: temperature-rebalanced mixture (τ=2, XLM-R style) — 250
    // docs drawn with quotas ∝ sqrt(n_lang) via integer largest-remainder
    // apportionment and md5-rank member selection.
    Contract("q133_temperature_mix", ((s, d) =>
      Corpus.temperatureRebalance(documents(s, d), "lang", "doc_id",
        totalOut = 250L, temperature = 2)),
      // q133: same sqrt weights (identical IEEE ops), same integer
      // apportionment (operands positive, so // and div agree), same md5 rank
      """WITH counts AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
        |wtd AS (SELECT lang, n_g,
        |  CAST(floor(sqrt(CAST(n_g AS DOUBLE) * 1e12)) AS BIGINT) AS w_g
        |  FROM counts),
        |tot AS (SELECT sum(w_g) AS tot_w FROM wtd),
        |seats AS (SELECT lang, n_g, w_g,
        |  (250 * w_g) // tot_w AS base, (250 * w_g) % tot_w AS rem
        |  FROM wtd, tot),
        |q AS (SELECT lang, n_g, base,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS extra_rk,
        |  250 - sum(base) OVER () AS leftover FROM seats),
        |quotas AS (SELECT lang,
        |  least(n_g, base + CASE WHEN extra_rk <= leftover THEN 1 ELSE 0 END)
        |    AS quota FROM q),
        |ranked AS (SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS rk FROM documents)
        |SELECT r.lang, r.doc_id, CAST(r.rk AS BIGINT) AS rk,
        |  CAST(quota AS BIGINT) AS quota
        |FROM ranked r JOIN quotas USING (lang) WHERE rk <= quota""".stripMargin),

    // North star: Unicode canonicalization — case + accent folding as a
    // native expression, proven on an accent-heavy literal fixture (the
    // synthetic corpus is ASCII); folded keys collapse 'Café'/'cafe' for
    // dedup/joins. Exactly strip_accents(nfc_normalize(lower(x))) in the
    // oracle.
    Contract("q132_unicode_fold", ((s, d) => {
      import s.implicits._
      val rows = Seq(
        (1L, "Café crème"), (2L, "cafe creme"), (3L, "NAÏVE approach"),
        (4L, "naive approach"), (5L, "ÅNGSTRÖM units"), (6L, "señor São Paulo"),
        (7L, "ße öl stays ß"), (8L, "plain ascii text"))
        .toDF("id", "raw")
      rows.select(col("id"),
          graft.functions.UnicodeOps.foldCol(col("raw")).as("folded"))
        .withColumn("fold_key", md5(col("folded")))
    }),
      // q132: the engine-native spelling of the same fold; md5 proves the
      // folded strings byte-identical, not merely similar
      """WITH rows(id, raw) AS (VALUES
        |  (1, 'Café crème'), (2, 'cafe creme'), (3, 'NAÏVE approach'),
        |  (4, 'naive approach'), (5, 'ÅNGSTRÖM units'), (6, 'señor São Paulo'),
        |  (7, 'ße öl stays ß'), (8, 'plain ascii text'))
        |SELECT CAST(id AS BIGINT) AS id,
        |  strip_accents(nfc_normalize(lower(raw))) AS folded,
        |  md5(strip_accents(nfc_normalize(lower(raw)))) AS fold_key
        |FROM rows""".stripMargin),

    // North star: distribution-drift monitor (PSI per language) between two
    // deterministic corpus halves — the pre-training check that a new crawl
    // hasn't shifted the language mixture.
    Contract("q131_psi_drift", ((s, d) => {
      val docs = documents(s, d)
      Corpus.distributionDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    }),
      // q131: same smoothed proportions and identically-ordered double ops;
      // the log-ratio carried as micro-bits
      """WITH a AS (SELECT lang, count(*) AS n_a FROM documents
        |           WHERE doc_id % 2 = 0 GROUP BY lang),
        |b AS (SELECT lang, count(*) AS n_b FROM documents
        |      WHERE doc_id % 2 = 1 GROUP BY lang),
        |cats AS (
        |  SELECT coalesce(a.lang, b.lang) AS lang,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.lang = b.lang),
        |tot AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b,
        |               count(*) AS v FROM cats)
        |SELECT lang, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(round(1e6 * (
        |    log2(CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE))
        |    - log2(CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))))
        |    AS BIGINT) AS lr_ub,
        |  round((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE)
        |       - CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))
        |    * CAST(CAST(round(1e6 * (
        |        log2(CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE))
        |        - log2(CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))))
        |        AS BIGINT) AS DOUBLE) / 1e6, 6) AS contrib_r
        |FROM cats, tot""".stripMargin),

    // North star: CDC MERGE — replay a changelog (latest-per-id upserts +
    // deletes + inserts) onto the corpus snapshot; the inverse of q122's
    // diff. The changelog is derived deterministically from the corpus so
    // both engines construct the identical log.
    Contract("q130_changelog_apply", ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val del = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          lit(null).cast("string").as("text"))
      val up1 = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" rev one")).as("text"))
      val up2 = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" rev two")).as("text"))
      val ins = docs.filter(col("doc_id") % 100 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
          lit("upsert").as("op"),
          concat(lit("fresh insert "), col("doc_id")).as("text"))
      val log = del.unionByName(up1).unionByName(up2).unionByName(ins)
      Corpus.changelogApply(docs, log, "doc_id", "seq", "op")
    }),
      // q130: the same deterministic changelog, latest-per-id wins, deletes
      // drop, untouched rows pass through
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |log AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
        |  FROM docs WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 1, 'upsert', text || ' rev one'
        |  FROM docs WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id, 2, 'upsert', text || ' rev two'
        |  FROM docs WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 1000000, 1, 'upsert', 'fresh insert ' || doc_id
        |  FROM docs WHERE doc_id % 100 = 2),
        |latest AS (
        |  SELECT doc_id, op, text FROM (
        |    SELECT doc_id, seq, op, text,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM log) WHERE rn = 1)
        |SELECT d.doc_id, d.text
        |FROM docs d LEFT JOIN latest l ON d.doc_id = l.doc_id
        |WHERE l.doc_id IS NULL
        |UNION ALL
        |SELECT doc_id, text FROM latest WHERE op = 'upsert'""".stripMargin),

    // North star: DSIR importance weights — per-doc target-vs-corpus unigram
    // log-likelihood ratio in exact micro-bits; target slice = English docs.
    // One model aggregate fits both LMs, totals broadcast, no windows.
    Contract("q127_dsir_weights", ((s, d) =>
      Corpus.importanceWeights(documents(s, d), "doc_id", "text",
        col("lang") === "en")),
      // q127: same one-pass dual-count model in SQL; every log2 argument is an
      // exact integer and every log2 term is individually rounded to micro-bits
      // before the integer sum, so aggregation order cannot move the result
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS is_t,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |model AS (
        |  SELECT w, count(*) AS n_r,
        |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t
        |  FROM toks GROUP BY w),
        |tot AS (
        |  SELECT sum(n_r) AS tot_r, sum(n_t) AS tot_t, count(*) AS vocab
        |  FROM model),
        |sc AS (
        |  SELECT t.doc_id, count(*) AS n_tok,
        |    sum(CAST(round(1e6*log2(CAST(m.n_t + 1 AS DOUBLE))) AS BIGINT)
        |      - CAST(round(1e6*log2(CAST(m.n_r + 1 AS DOUBLE))) AS BIGINT))
        |      AS num_ub
        |  FROM toks t JOIN model m USING (w) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(num_ub - n_tok * (
        |    CAST(round(1e6*log2(CAST(tot_t + vocab AS DOUBLE))) AS BIGINT)
        |    - CAST(round(1e6*log2(CAST(tot_r + vocab AS DOUBLE))) AS BIGINT))
        |  AS BIGINT) AS importance_ub
        |FROM sc, tot""".stripMargin),

    // North star: weight-proportional reproducible sampling (A-ES) — the
    // mixture-construction primitive; md5-seeded keys, one shuffle, map-
    // side WindowGroupLimit top-k. Longer documents are proportionally
    // likelier to be drawn.
    Contract("q118_weighted_sample", ((s, d) =>
      Corpus.weightedSample(documents(s, d), "source", "doc_id",
        col("n_chars"), k = 5)),
      // q118: identical A-ES key — 52-bit md5 dyadic u, key = u^(1/w) — and
      // the same (key desc, doc_id) rank; only the integer rank is compared
      """WITH k AS (
        |  SELECT source, doc_id, n_chars AS wt,
        |    pow((('0x' || substring(md5('aes|' || CAST(doc_id AS VARCHAR)),
        |           1, 13))::BIGINT + 1) / 4503599627370496.0,
        |        1.0 / n_chars) AS skey
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, wt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY skey DESC, doc_id) AS rk
        |  FROM k)
        |SELECT source, doc_id, CAST(wt AS BIGINT) AS wt, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin),

    // Sequence-packing layout: concat-and-cut every 256 tokens per source,
    // each doc reported with its pack span + straddle count (the packing
    // job's attention-mask accounting). Per-source prefix sum — one
    // exchange, O(1)-state window. Terminal orderBy (r10): outputs are
    // ≤5k rows and the driver's hash proved order-sensitive in r9 even
    // though sorted-row content was judge-verified exact at both SFs —
    // a deterministic produced order removes the last degree of freedom.
    Contract("q197_sequence_packing", ((s, d) =>
      Corpus.sequencePacking(documents(s, d), "source", "doc_id", "text",
        seqLen = 256).orderBy(col("source"), col("doc_id"))),
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents WHERE length(trim(text)) > 0),
        |o AS (SELECT source, doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM t)
        |SELECT source, doc_id, n_tokens, start_off,
        |  CAST(start_off // 256 AS BIGINT) AS pack_first,
        |  CAST((start_off + n_tokens - 1) // 256 AS BIGINT) AS pack_last,
        |  CAST((start_off + n_tokens - 1) // 256 - start_off // 256 + 1
        |    AS BIGINT) AS n_packs
        |FROM o ORDER BY source, doc_id""".stripMargin),

    // Water-filling mixture solve: per-source token caps, weight = numeric
    // source suffix + 1 (deterministic unequal weights), budget = half the
    // corpus tokens. Saturated sources take capacity; the shortfall
    // redistributes in weight proportion (exact integer membership test,
    // one-divide allocation).
    Contract("q198_waterfill", ((s, d) => {
      val caps = documents(s, d)
        .groupBy(col("source"))
        .agg(sum(Corpus.wordsCount(col("text"))).as("cap"))
        .withColumn("w",
          (regexp_extract(col("source"), "(\\d+)$", 1).cast("long") + 1L)
            .as("w"))
      val budget = caps.agg((sum(col("cap")) / 2L).cast("long").as("budget"))
      val withB = caps.crossJoin(broadcast(budget))
      Corpus.waterfillAllocation(withB, "source", "cap", "w", "budget")
        .select(col("source"), col("cap").cast("long").as("cap"),
          col("w").cast("long").as("w"), col("is_saturated"),
          col("alloc"))
    }),
      s"""WITH $waterfillCtes
         |SELECT source, cap, w, sat = 1 AS is_saturated, alloc
         |FROM wf_alloc""".stripMargin),

    // Largest-remainder (Hamilton) apportionment — exact-integer quota
    // allocation: distribute a fixed sample budget across sources in
    // proportion to token mass such that Σ alloc == budget EXACTLY
    // (proportional rounding breaks this; floor + largest-fractional-
    // remainder repair fixes it deterministically). remainder comparison
    // is pure integers (w·B mod T), tiebreak on source — no floats
    // anywhere. The quota solver behind every fixed-size stratified
    // sample this engine draws.
    Contract("q237_apportionment", ((s, d) => {
      val budget = 10000L
      val w = documents(s, d).groupBy(col("source"))
        .agg(sum(Corpus.wordsCount(col("text"))).as("w"))
      val tot = w.agg(sum(col("w")).as("t"))
      val base = w.crossJoin(broadcast(tot))
        .select(col("source"), col("w").cast("long").as("w"),
          col("t").cast("long").as("t"),
          expr(s"(w * ${budget}L) DIV t").as("fl"),
          expr(s"(w * ${budget}L) % t").as("rem"))
      val deficit = base.agg((lit(budget) - sum(col("fl"))).as("k"))
      base.crossJoin(broadcast(deficit))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source").asc)))
        .select(col("source"), col("w"),
          (col("fl") + when(col("rk") <= col("k"), 1L).otherwise(0L))
            .cast("long").as("alloc"))
    }),
      // q237: identical integer floor/remainder repair.
      """WITH w AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS t FROM w),
        |base AS (SELECT source, w.w, t.t,
        |    (w.w * 10000) // t.t AS fl, (w.w * 10000) % t.t AS rem
        |  FROM w CROSS JOIN t),
        |k AS (SELECT 10000 - sum(fl) AS k FROM base),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
        |    AS rk FROM base)
        |SELECT source, CAST(w AS BIGINT) AS w,
        |  CAST(fl + CASE WHEN rk <= k.k THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r CROSS JOIN k""".stripMargin),

    // Rendezvous (highest-random-weight) shard assignment + resize
    // rebalance report: shard(d) = argmax_s md5(d#s), so growing the
    // cluster N→N+1 moves ONLY the docs the new shard wins (expected
    // 1/(N+1) ≈ 11.1% here) — the partitioning-story query: consistent
    // assignment bounds data movement on resize, where mod-N hashing
    // reshuffles ~everything. Both assignments per doc come from ONE
    // map-side struct-argmax over the shard list — no explode, no
    // shuffle until the ≤N-row report aggregate.
    Contract("q228_rendezvous_shards", ((s, d) => {
      def assign(n: Int) = expr(
        s"""array_max(transform(sequence(0, ${n - 1}), sid ->
           |  struct(md5(concat(cast(doc_id as string), '#',
           |    cast(sid as string))) as h, sid))).sid""".stripMargin)
        .cast("long")
      documents(s, d)
        .select(col("doc_id"), assign(8).as("old_shard"),
          assign(9).as("new_shard"))
        .groupBy(col("old_shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L))
            .cast("long").as("n_moved"))
        .withColumn("moved_share_r",
          Corpus.ratioRound6(col("n_moved"), col("n_docs")))
    }),
      // q228: arg_max over the unnested shard list — same md5 keys.
      """WITH x AS (SELECT doc_id, u.sid,
        |    md5(CAST(doc_id AS VARCHAR) || '#' || CAST(u.sid AS VARCHAR))
        |      AS h
        |  FROM documents, LATERAL unnest(range(0, 9)) AS u(sid)),
        |a8 AS (SELECT doc_id, arg_max(sid, h) AS old_shard
        |       FROM x WHERE sid < 8 GROUP BY doc_id),
        |a9 AS (SELECT doc_id, arg_max(sid, h) AS new_shard
        |       FROM x GROUP BY doc_id)
        |SELECT CAST(old_shard AS BIGINT) AS old_shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_moved,
        |  CAST((sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)
        |      * 2000000 + count(*)) // (count(*) * 2) AS DOUBLE) / 1e6
        |    AS moved_share_r
        |FROM a8 JOIN a9 USING (doc_id) GROUP BY old_shard""".stripMargin),

    // Content-defined chunking dedup profile (Rabin-style CDC): boundaries
    // anchored to content via an exact-integer rolling hash, so an edit
    // shifts only the chunks it touches — the chunk-level dup report
    // fixed-stride chunking (q55) cannot give. All-long output.
    Contract("q219_cdc_chunks", ((s, d) =>
      Corpus.cdcChunkStats(documents(s, d), "doc_id", "text",
        window = 8, divisor = 64)),
      // Same exact-integer rolling hash (constants from Corpus.cdcPows);
      // DuckDB range() is end-exclusive = Spark's guarded sequence(w, n-1).
      {
      val terms = Corpus.cdcPows(8).zipWithIndex
        .map { case (p, k) => s"codes[i - $k] * $p" }.mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  WHERE length(trim(text)) > 0),
         |c AS (SELECT doc_id, text,
         |  list_transform(range(1, length(text) + 1),
         |    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes
         |  FROM d),
         |b AS (SELECT doc_id, text,
         |  list_concat(list_filter(range(8, length(text)),
         |    i -> ($terms) % 64 = 0), [length(text)]) AS bnd
         |  FROM c),
         |ch AS (SELECT doc_id, unnest(list_transform(range(1, len(bnd) + 1),
         |    j -> substr(text,
         |      CASE WHEN j = 1 THEN 1 ELSE bnd[j - 1] + 1 END,
         |      bnd[j] - CASE WHEN j = 1 THEN 0 ELSE bnd[j - 1] END)))
         |    AS chunk FROM b),
         |h AS (SELECT doc_id, md5(chunk) AS ch, length(chunk) AS clen
         |  FROM ch),
         |nd AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM h GROUP BY ch)
         |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared,
         |  CAST(sum(CASE WHEN nd >= 2 THEN clen ELSE 0 END) AS BIGINT)
         |    AS shared_len
         |FROM h JOIN nd USING (ch) GROUP BY h.doc_id""".stripMargin
    }),

    // Frequency-of-frequencies spectrum over word TRIGRAMS (Good–Turing
    // input): N_r = number of trigram types occurring exactly r times,
    // r ≤ 10 plus a tail bucket, each bucket's token mass, and the
    // Good–Turing adjusted count r* = (r+1)·N_{r+1}/N_r (one divide of
    // exact ints → bit-equal doubles). Trigrams, not unigrams: the
    // corpus's unigram vocabulary is ~31 types all far into the tail,
    // while the trigram spectrum has the hapax-heavy head GT smoothing
    // actually consumes. Two aggregates, both map-side partial.
    Contract("q211_frequency_spectrum", ((s, d) => {
      val tf = documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(split(trim(lower(col("text"))), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 3), " +
            "i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("r"))
      val spec = tf
        .groupBy(when(col("r") <= 10, col("r")).otherwise(lit(-1L))
          .as("r_bucket"))
        .agg(count(lit(1)).as("n_types"), sum(col("r")).as("token_mass"))
      val next = spec.select((col("r_bucket") - 1L).as("r_bucket"),
        col("n_types").as("n_next"))
      spec.join(next, Seq("r_bucket"), "left")
        .select(col("r_bucket").cast("long").as("r_bucket"),
          col("n_types").cast("long").as("n_types"),
          col("token_mass").cast("long").as("token_mass"),
          when(col("r_bucket").between(1L, 9L) && col("n_next").isNotNull,
            round((col("r_bucket") + 1L).cast("double") *
              col("n_next").cast("double") /
              col("n_types").cast("double"), 6)).as("gt_r"))
    }),
      """WITH base AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |g0 AS (SELECT toks, unnest(range(0, len(toks) - 2)) AS s
        |       FROM base WHERE len(toks) >= 3),
        |tf AS (
        |  SELECT array_to_string(list_slice(toks, s + 1, s + 3), ' ')
        |      AS term, count(*) AS r
        |  FROM g0 GROUP BY 1),
        |spec AS (
        |  SELECT CASE WHEN r <= 10 THEN r ELSE -1 END AS r_bucket,
        |    count(*) AS n_types, sum(r) AS token_mass
        |  FROM tf GROUP BY 1)
        |SELECT CAST(s.r_bucket AS BIGINT) AS r_bucket,
        |  CAST(s.n_types AS BIGINT) AS n_types,
        |  CAST(s.token_mass AS BIGINT) AS token_mass,
        |  CASE WHEN s.r_bucket BETWEEN 1 AND 9 AND n2.n_types IS NOT NULL
        |    THEN round(CAST(s.r_bucket + 1 AS DOUBLE) *
        |      CAST(n2.n_types AS DOUBLE) / CAST(s.n_types AS DOUBLE), 6)
        |  END AS gt_r
        |FROM spec s LEFT JOIN spec n2 ON n2.r_bucket = s.r_bucket + 1""".stripMargin),

    // Mixture DRAW — the consumption step closing q198's loop: water-fill
    // the per-source allocations, then admit each source's documents in
    // the deterministic md5 order until its OWN allocation is exhausted
    // (low-water mark, as budgetSample). Solve → draw in one plan.
    Contract("q207_mixture_draw", ((s, d) => {
      val docs = documents(s, d).select(col("source"), col("doc_id"),
        Corpus.wordsCount(col("text")).as("n_tok"))
      val caps = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("cap"))
        .withColumn("w",
          regexp_extract(col("source"), "(\\d+)$", 1).cast("long") + 1L)
      val budget = caps.agg((sum(col("cap")) / 2L).cast("long").as("budget"))
      val alloc = Corpus.waterfillAllocation(
          caps.crossJoin(broadcast(budget)), "source", "cap", "w", "budget")
        .select(col("source"), col("alloc"))
      Corpus.allocatedSample(docs.join(broadcast(alloc), "source"),
          "source", "doc_id", col("n_tok"), "alloc")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("wt")).cast("long").as("tokens_drawn"))
    }),
      s"""WITH $waterfillCtes,
         |docs AS (SELECT source, doc_id,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS BIGINT) AS n_tok,
         |    md5('bud|' || CAST(doc_id AS VARCHAR)) AS skey
         |  FROM documents),
         |adm AS (SELECT d.source, d.n_tok, a.alloc,
         |    sum(d.n_tok) OVER (PARTITION BY d.source ORDER BY d.skey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM docs d JOIN wf_alloc a USING (source))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens_drawn
         |FROM adm WHERE cum - n_tok < alloc GROUP BY source""".stripMargin)
  )
}
