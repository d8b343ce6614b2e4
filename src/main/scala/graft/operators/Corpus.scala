package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ShingleOps

/** Corpus-level statistics and curation operators for LLM training-data
  * pipelines (SURVEY north star): n-gram language-model scoring, sliding
  * token-window chunking, per-source token-budget selection, lexical-entropy
  * quality signals, and mergeable per-group MinHash sketches.
  *
  * Determinism-by-construction: every floating-point per-document score is
  * derived from an exact LONG sum ("micro-bits": each log2 term rounded to
  * 1e-6 and summed as integers), so aggregation order — which differs
  * between Spark partial aggregation and a single-node oracle — cannot
  * perturb the result. A double sum of log terms would be associativity-
  * dependent at the ulp level and could straddle a rounding boundary.
  *
  * Scale notes (100 TB):
  *  - the bigram model is vocabulary²-bounded, not corpus-sized — the scoring
  *    join is an equi-hash join on the bigram key that AQE converts to a
  *    broadcast when the model is small;
  *  - chunking is a pure narrow map (sequence + slice inside whole-stage
  *    codegen), zero shuffles;
  *  - budget selection shuffles once on the group key and runs an O(1)-state
  *    running-sum window per group;
  *  - entropy is two partial-aggregatable hash aggregates (map-side combine
  *    on (doc, word), then (doc));
  *  - group sketches merge per-document MinHash lane minima with MIN — an
  *    associative, map-side-combinable aggregate, the property that makes
  *    MinHash usable as a distributed sketch (one text pass, then only
  *    (group, lane, 8-byte-hash) rows ever shuffle).
  */
object Corpus {

  /** Micro-bits: round(1e6 * log2(x)) as LONG. Exact-integer carrier for
    * log-domain scores; both engines compute log2 of the same integer and
    * round at 1e-6, where a last-ulp libm difference cannot move the result
    * (it would need to land within ~1e-10 of a rounding boundary). */
  private def microBits(x: Column): Column =
    round(lit(1e6) * log2(x.cast("double"))).cast("long")

  /** Wide exact-integer carrier for the rounding helpers and for
    * aggregate-moment products ((38,0) holds any product of two
    * corpus-scale counts; the r14-review overflow class). */
  private[graft] val decWide = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Exact half-up rounding of the rational num/den to 6 decimals, computed
    * entirely in exact integers: (2e6·num + den) DIV (2·den), then an exact
    * double divide by 1e6. `round(num/den, 6)` on doubles is NOT portable —
    * when the rational sits exactly on a 5e-7 tie (common for micro-bit
    * averages), the two engines' double rounding resolves it differently.
    * The carrier is DECIMAL(38,0), not LONG: 2e6·num wraps past 2⁶³ once
    * num ≳ 4.6e12 — token-level counts cross that at corpus scale, and the
    * oracle's exact integer arithmetic would diverge silently (the same
    * r14-review class as the chi²/Gini/JS fixes). The DIV quotient is
    * ≤ ~2e6·(num/den) — far inside LONG for any ratio this rounds — so the
    * double result is bit-identical wherever the old math didn't wrap. */
  def ratioRound6(num: Column, den: Column): Column =
    call_function("div",
      num.cast(decWide) * lit(2000000L) + den.cast(decWide),
      den.cast(decWide) * lit(2L)).cast("double") / lit(1e6)

  /** Same exact rounding for a value already in micro-units (num micro-bits
    * over den instances → micro-bits average). Same DECIMAL carrier: a
    * corpus-group's micro-bit SUM alone can cross 2⁶²/2. */
  private def microAvgRound(numMicro: Column, den: Column): Column =
    call_function("div",
      numMicro.cast(decWide) * lit(2L) + den.cast(decWide),
      den.cast(decWide) * lit(2L)).cast("double") / lit(1e6)

  /** Per-document raw bigram instances (multiplicity preserved — these are
    * term frequencies, not document frequencies). Single-token documents
    * emit no bigram. */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(
        ShingleOps.wordShinglesCol(col(textCol), 2)).as("s"))
      // a 2-gram shingle contains a space; the lone short shingle emitted
      // for a single-token document does not
      .filter(col("s").contains(" "))
      .select(col(idCol),
        split_part(col("s"), lit(" "), lit(1)).as("w1"),
        split_part(col("s"), lit(" "), lit(2)).as("w2"))

  /** Corpus bigram model: count(w1,w2) and the left-context total count(w1·).
    * Two hash aggregates; the second runs over the model (vocab²-bounded),
    * not the corpus. */
  def bigramModel(bigrams: DataFrame): DataFrame = {
    val pair = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    // n_w1 via a window over the ALREADY-AGGREGATED pair table (vocab²-
    // bounded) — one exchange on w1 of model-sized rows instead of a second
    // aggregate plus a join; no skew concern at that cardinality
    pair.withColumn("n_w1",
      sum(col("n")).over(Window.partitionBy(col("w1"))))
  }

  /** Per-document surprisal under the corpus-fit bigram LM: each bigram
    * instance costs log2(n_w1) - log2(n) bits (its negative log conditional
    * probability; every document bigram exists in the model because the
    * model is fit on the same corpus — no smoothing needed). Returns one row
    * per document: instance count, exact total micro-bits, and the average
    * bits/bigram derived from the exact total. High average surprisal =
    * unpredictable text (a quality / outlier signal); near-zero = the
    * corpus's most formulaic documents. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = docBigrams(docs, idCol, textCol)
    // Two corpus passes total: the model subtree (window over one pair
    // aggregate) shingles once, the scoring side once. No checkpoint —
    // keeping it one declarative plan lets AQE size the model at runtime
    // and broadcast it without a blocking materialization job.
    val model = bigramModel(bi)
    val scored = bi.join(model, Seq("w1", "w2"))
      .select(col(idCol),
        (microBits(col("n_w1")) - microBits(col("n"))).as("ub"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bi"),
        sum(col("ub")).as("surprisal_ub"))
      .select(col(idCol), col("n_bi").cast("long").as("n_bi"),
        col("surprisal_ub").cast("long").as("surprisal_ub"),
        microAvgRound(col("surprisal_ub"), col("n_bi")).as("avg_bits_r"))
  }

  /** Interpolated Kneser-Ney smoothed bigram model — the LM-quality step
    * past [[bigramModel]]'s raw conditionals: instead of backing off to
    * unigram FREQUENCY (which overrates words that are frequent only
    * inside fixed phrases), KN backs off to continuation probability —
    * how many distinct contexts a word follows:
    *
    *   P_KN(w2|w1) = max(c12 − d, 0)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/N1+(··)
    *
    * with absolute discount d = 0.75 (Chen & Goodman 1999's standard
    * setting). Emitted per bigram with `c12 ≥ 3`: the five exact
    * integer count columns the formula reads, plus `p_kn` evaluated in
    * doubles with a FIXED operation tree (ints < 2^53 are exact in double
    * and each IEEE op is correctly rounded, so an oracle mirroring the
    * same parenthesization is bit-identical — no rounding step to
    * tie-break).
    *
    * Scale: one corpus-sized bigram aggregate, then everything runs over
    * the MODEL (vocab²-bounded): two partitioned windows (w1: context
    * total + follower types; w2: predecessor types) and a broadcast 1-row
    * global distinct-bigram count — never a single-partition window. */
  def knBigramModel(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pair = docBigrams(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val byW1 = Window.partitionBy(col("w1"))
    val byW2 = Window.partitionBy(col("w2"))
    val tot = pair.agg(count(lit(1)).as("n_bigrams"))
    val d = lit(0.75)
    pair
      .withColumn("c1", sum(col("c12")).over(byW1))
      .withColumn("n_follow", count(lit(1)).over(byW1))
      .withColumn("n_precede", count(lit(1)).over(byW2))
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= 3L)
      .select(col("w1"), col("w2"),
        col("c12").cast("long").as("c12"),
        col("c1").cast("long").as("c1"),
        col("n_follow").cast("long").as("n_follow"),
        col("n_precede").cast("long").as("n_precede"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        (greatest(col("c12").cast("double") - d, lit(0.0))
            / col("c1").cast("double")
          + ((d * col("n_follow").cast("double")) / col("c1").cast("double"))
            * (col("n_precede").cast("double")
              / col("n_bigrams").cast("double"))).as("p_kn"))
  }

  /** Sliding token-window chunks: windows of `size` tokens every `stride`
    * tokens (stride < size ⇒ overlapping context windows, the standard
    * training-example packing shape). The last window may be shorter; a
    * document shorter than `size` yields exactly one chunk. Chunk count is
    * integer arithmetic (exact in both engines); the chunk text is carried
    * as an MD5 so the output stays a manifest, not a corpus copy. Pure
    * narrow transform — zero shuffles at any scale. */
  def chunkWithOverlap(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, s"need 0 < stride <= size")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val nTok = org.apache.spark.sql.functions.size(toks)
    // chunks = 1 + ceil(max(len - size, 0) / stride), via integer arithmetic
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("toks"), nTok.as("n_tok"))
      .select(col(idCol),
        posexplode(sequence(lit(0),
          when(col("n_tok") <= size, lit(0)).otherwise(
            expr(s"CAST((n_tok - $size + $stride - 1) DIV $stride AS INT)"))))
          .as(Seq("chunk_idx", "k")),
        col("toks"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(size))
          .as("chunk"))
      .select(col(idCol), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long")
          .as("chunk_tok"),
        element_at(col("chunk"), 1).as("first_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
  }

  /** Sequence-packing layout (the GPT-style "concatenate and cut every
    * `seqLen` tokens" training-data packing): per source, documents
    * concatenate in `idCol` order into one token stream that is cut into
    * fixed-length packs; each document is reported with the pack span it
    * occupies — `pack_first`/`pack_last` (0-based pack ids within the
    * source) and `n_packs` (how many packs the document straddles, the
    * cross-boundary attention-mask accounting a packing job needs).
    * Extends q91's hash-bucketed start-bin assignment: this keys by the
    * REAL source column and reports the full span, not just where the
    * document starts.
    * Tokenization is [[wordsCount]]'s (trim/lower/\s+ — oracle-portable);
    * empty-text documents are excluded (they occupy no tokens).
    *
    * Scale: the layout is a per-source prefix sum — ONE exchange on the
    * source key and an O(1)-state running-sum window inside it (same
    * shape as [[budgetSample]]). A corpus with few giant sources sorts
    * long runs inside single partitions; pre-split such sources into
    * shards upstream (source, shard) if that skew materializes — the
    * operator is agnostic to what the grouping key means. */
  def sequencePacking(docs: DataFrame, sourceCol: String, idCol: String,
      textCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    // window over the RENAMED projection — referencing sourceCol/idCol
    // here would fail analysis for any caller whose columns aren't
    // literally named source/doc_id (r14 review)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        wordsCount(col(textCol)).as("n_tokens"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("start_off"),
        expr(s"start_off DIV $seqLen").as("pack_first"),
        expr(s"(start_off + n_tokens - 1) DIV $seqLen").as("pack_last"))
      .withColumn("n_packs", (col("pack_last") - col("pack_first") + 1L))
  }

  /** Water-filling budget allocation across sources — the mixture-
    * construction SOLVE: given per-source token capacity `capCol`, desired
    * mixture weight `wCol`, and a total token `budgetCol` (constant across
    * rows, e.g. crossJoined from an aggregate), find the unique allocation
    * a_s = min(cap_s, t·w_s) with Σ a_s = budget. Sources that cannot
    * meet their weighted share saturate at capacity and their shortfall
    * redistributes to the rest in weight proportion — the step [[
    * temperatureRebalance]] (which computes target WEIGHTS) and
    * [[budgetSample]] (which draws docs for ONE source's budget) need
    * between them.
    *
    * Exact by construction: the saturated set is the maximal prefix in
    * cap/w ratio order whose membership test `cap_i · R_{i-1} ≤
    * (B − C_{i-1}) · w_i` is evaluated in INTEGER cross-multiplication
    * (no division), with the prefix-AND making the standard monotonicity
    * explicit rather than assumed. Only the final per-source allocation
    * divides — one multiply + one divide in identical order on both
    * engines, so the doubles are bit-equal. Long overflow bound:
    * cap·ΣW and (B−C)·w must stay < 2⁶³ — fine for token counts < 2⁴⁰
    * with weight sums < 2²⁰; pre-scale weights down otherwise.
    *
    * Scale: the input is the per-source STATS table (one row per source,
    * vocabulary-bounded by contract) — the global-order windows here sort
    * that bounded table, never document rows; the allocation then joins
    * back to documents as a broadcast. */
  def waterfillAllocation(perGroup: DataFrame, keyCol: String,
      capCol: String, wCol: String, budgetCol: String): DataFrame = {
    val ratio = col(capCol).cast("double") / col(wCol).cast("double")
    val ord = Window.orderBy(ratio.asc, col(keyCol).asc)
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val everything = ord.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perGroup
      .withColumn("_wTot", sum(col(wCol)).over(everything))
      .withColumn("_cBefore", coalesce(sum(col(capCol)).over(before), lit(0L)))
      .withColumn("_wBefore", coalesce(sum(col(wCol)).over(before), lit(0L)))
      .withColumn("_cond", when(col(capCol) * (col("_wTot") - col("_wBefore"))
        <= (col(budgetCol) - col("_cBefore")) * col(wCol), 1L).otherwise(0L))
      .withColumn("_sat", min(col("_cond")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_cSat",
        coalesce(sum(when(col("_sat") === 1L, col(capCol))).over(everything),
          lit(0L)))
      .withColumn("_wSat",
        coalesce(sum(when(col("_sat") === 1L, col(wCol))).over(everything),
          lit(0L)))
      .select(col(keyCol), col(capCol), col(wCol),
        (col("_sat") === 1L).as("is_saturated"),
        when(col("_sat") === 1L, col(capCol).cast("double"))
          // divisor guard (r10, ADVICE): if no unsaturated weight remains
          // (all-zero weights among the unsaturated rows), emit 0.0 rather
          // than a silent NaN from the 0-divide
          .otherwise(when(col("_wTot") - col("_wSat") <= 0L, lit(0.0))
            .otherwise((col(budgetCol) - col("_cSat")).cast("double") *
              col(wCol).cast("double") /
              (col("_wTot") - col("_wSat")).cast("double"))).as("alloc"))
  }

  /** Per-group token-budget selection: order documents inside each group by
    * a deterministic hash key, admit each while the budget is not yet
    * exhausted BEFORE it (so the first over-budget document is still taken —
    * the budget is a low-water mark, matching quota-sampling practice where
    * every group emits at least one document). One shuffle on the group key;
    * the running sum is an O(1)-state window. */
  def budgetSample(docs: DataFrame, groupCol: String, idCol: String,
      weight: Column, budget: Long): DataFrame = {
    val skey = md5(concat(lit("bud|"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("skey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(groupCol), col(idCol), weight.cast("long").as("wt"),
        skey.as("skey"))
      .withColumn("cum_wt", sum(col("wt")).over(w))
      .filter(col("cum_wt") - col("wt") < budget)
      .select(col(groupCol), col(idCol), col("wt"),
        col("cum_wt").cast("long").as("cum_wt"))
  }

  /** [[budgetSample]] with a PER-GROUP budget column — the consumption
    * step of [[waterfillAllocation]]: admit documents in the same
    * deterministic md5 order while the GROUP'S OWN budget (e.g. its
    * water-filled allocation, carried as a column) is not exhausted before
    * them. Same low-water-mark semantics and O(1)-state window; the only
    * difference is the budget riding on the row instead of a constant. */
  def allocatedSample(docs: DataFrame, groupCol: String, idCol: String,
      weight: Column, budgetCol: String): DataFrame = {
    val skey = md5(concat(lit("bud|"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("skey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(groupCol), col(idCol), weight.cast("long").as("wt"),
        col(budgetCol).as("_bud"), skey.as("skey"))
      .withColumn("cum_wt", sum(col("wt")).over(w))
      .filter(col("cum_wt") - col("wt") < col("_bud"))
      .select(col(groupCol), col(idCol), col("wt"),
        col("cum_wt").cast("long").as("cum_wt"))
  }

  /** Deterministic weighted sampling without replacement per group
    * (Efraimidis–Spirakis A-ES): each document draws u ∈ (0,1] from its own
    * md5 (52 bits → an exactly-representable dyadic rational) and ranks by
    * key = u^(1/weight); the top-k keys per group are a weight-proportional
    * sample, reproducible across runs, partitionings, and engines. The key
    * is computed map-side; the only shuffle is the group partition for the
    * rank window, and the top-k rank prunes map-side via WindowGroupLimit.
    * The float key is never emitted — only the integer rank — so a last-ulp
    * libm pow() difference could matter only if two keys collided within
    * ~1e-16, which the md5 draw makes vanishingly unlikely. */
  def weightedSample(docs: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(lit("aes|"),
        col(idCol).cast("string"))), 1, 13), 16, 10).cast("long") + lit(1L))
      .cast("double") / lit(4503599627370496.0) // 2^52
    val key = pow(u, lit(1.0) / weight.cast("double"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("skey").desc, col(idCol))
    docs.select(col(groupCol), col(idCol), weight.cast("long").as("wt"),
        key.as("skey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(groupCol), col(idCol), col("wt"),
        col("rk").cast("long").as("rk"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by the log-likelihood ratio of its tokens under a
    * unigram LM fit on the TARGET slice (`isTarget` rows) vs one fit on
    * the full corpus, add-1 smoothed over the corpus vocabulary:
    *
    *   importance = Σ_w tf_w·(log2(n_t(w)+1) − log2(n_r(w)+1))
    *                − n_tok·(log2(N_t+V) − log2(N_r+V))
    *
    * High scores = "looks like the target domain"; feed the weights to
    * [[weightedSample]]/[[budgetSample]] to resample the raw corpus
    * toward it. The score is an exact LONG in micro-bits (each log2 of
    * an exact integer, see [[microBits]]) so partial-aggregation order
    * cannot perturb it; per-token normalization is a caller-side double
    * divide of the two exact longs (IEEE division is engine-portable).
    * Negative-capable, so no half-up integer average here — floor vs
    * truncating integer division diverge on negatives across engines.
    *
    * Scale: ONE pass fits both models (conditional sum for the target
    * counts in the same word aggregate), the corpus totals are a 1-row
    * broadcast cross join, and scoring equi-joins token rows against the
    * vocabulary-bounded model (AQE broadcasts it). No windows, no
    * driver state, nothing quadratic. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), isTarget.as("is_t"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val model = toks.groupBy(col("w")).agg(
      count(lit(1)).as("n_r"),
      sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("n_t"))
    val totals = model.agg(
      sum(col("n_r")).cast("long").as("tot_r"),
      sum(col("n_t")).cast("long").as("tot_t"),
      count(lit(1)).cast("long").as("vocab"))
    val scored = toks.join(model, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(microBits(col("n_t") + lit(1L)) -
          microBits(col("n_r") + lit(1L))).as("num_ub"))
    scored.crossJoin(broadcast(totals))
      .select(col(idCol),
        col("n_tok").cast("long").as("n_tok"),
        (col("num_ub") - col("n_tok") *
          (microBits(col("tot_t") + col("vocab")) -
            microBits(col("tot_r") + col("vocab")))).cast("long")
          .as("importance_ub"))
  }

  /** Per-document lexical statistics: token count, distinct types,
    * type-token ratio, and word-distribution Shannon entropy in bits —
    * H = log2(N) - (Σ n_w·log2(n_w))/N, with the Σ carried as exact LONG
    * micro-bits. Low entropy = repetitive/templated text (quality filter
    * signal). Two partial-aggregatable hash aggregates. */
  def wordEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    toks.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("nw"))
      .groupBy(col(idCol))
      .agg(sum(col("nw")).as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(col("nw") * microBits(col("nw"))).as("sum_ub"))
      .select(col(idCol),
        col("n_tok").cast("long").as("n_tok"),
        col("n_types").cast("long").as("n_types"),
        ratioRound6(col("n_types"), col("n_tok")).as("ttr_r"),
        // H = (µb(N)·N − Σ n_w·µb(n_w)) / (N·1e6), rounded at 6dp in exact
        // LONG arithmetic. round(double, 6) here was the documented 5e-7
        // tie hazard: e.g. 13×one-word + 3 singletons in 16 tokens lands
        // EXACTLY on 0.9933925, which the two engines' double rounding can
        // resolve differently. The numerator is ≥ 0 (µb is monotone), so
        // half-up integer division is portable.
        microAvgRound(
          microBits(col("n_tok")) * col("n_tok") - col("sum_ub"),
          col("n_tok")).as("entropy_r"))
  }

  /** Vocabulary coverage curve — the "how big must the vocab be" tokenizer
    * design query: words ranked by frequency (ties broken by the word
    * itself for a total order), with each rank's cumulative token share.
    * The top-100 rows ARE the coverage curve; cover_r at rank V is the
    * share of all token occurrences a V-word vocabulary captures.
    *
    * Scale: the corpus collapses to the vocab table in one partial-
    * aggregatable groupBy; ranking + cumulative sum sort THAT table only
    * (vocab-bounded — the q158 posture), and both windows share one sort
    * order. */
  def vocabCoverage(docs: DataFrame, textCol: String): DataFrame = {
    val wc = docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val ord = Window.orderBy(col("n").desc, col("w"))
    wc.withColumn("rank", row_number().over(ord))
      .withColumn("cum_n", sum(col("n"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .filter(col("rank") <= 100)
      .select(col("rank").cast("long").as("rank"), col("w"),
        col("n").cast("long").as("n"), col("cum_n").cast("long").as("cum_n"),
        col("total").cast("long").as("total"),
        ratioRound6(col("cum_n"), col("total")).as("cover_r"))
  }

  /** Flesch reading-ease score per document — the classic readability
    * gate (long sentences + polysyllabic words → low score): 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words). Counts are pure
    * integer regex counts (sentences = [.!?]+ runs floored at 1,
    * syllables ≈ [aeiouy]+ vowel groups — the standard cheap proxy), and
    * each ratio term is half-up rounded to micro-units independently, so
    * the score is an exact LONG difference scaled once.
    *
    * Scale: map-only (three regex passes per row inside codegen, no
    * shuffle at all). */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), wordsCount(col(textCol)).as("n_words"),
        sentencesCount(col(textCol)).as("n_sentences"),
        syllablesCount(col(textCol)).as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (fleschMicro(col("n_words"), col("n_sentences"), col("n_syllables"))
          .cast("double") / lit(1e6)).as("flesch_r"))

  /** Rolling-hash powers 31^0..31^(w-1) for [[cdcChunkStats]] — public so
    * the oracle SQL embeds the identical long constants. */
  def cdcPows(window: Int): Seq[Long] =
    Iterator.iterate(1L)(_ * 31L).take(window).toSeq

  /** Content-defined chunking dedup profile — the storage-dedup primitive
    * (Rabin-style CDC) applied to corpus text: a chunk boundary falls after
    * position i whenever the rolling hash of the trailing 8 chars is
    * ≡ 0 (mod 64), so boundaries are CONTENT-anchored — inserting a
    * line into a document shifts only the chunks it touches, and every
    * other chunk keeps its identity. Fixed-size chunking (the q55 stride
    * shape) loses all alignment after one insertion; CDC is how chunk-level
    * dedup survives edits.
    *
    * The rolling hash is the exact integer Σ_{k<w} code(i−k)·31^k — no
    * modular reduction needed (max codepoint · 31^7 · 8 ≈ 2.4e17 < 2^63),
    * so both engines compute identical longs from identical codepoints.
    * Per doc: n_chunks, plus how much of the doc (chunks, chars) is shared
    * with ≥1 other document — the chunk-level dup-rate report.
    *
    * Scale: chunking is MAP-ONLY higher-order expressions (no UDF); the
    * only shuffles are the chunk-hash aggregate (partial-agg collapses hot
    * boilerplate chunks map-side) and the equi-join back — never all-pairs.
    * Returns (idCol, n_chunks, n_shared, shared_len) — all LONG. */
  def cdcChunkStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        // ONE native codegen pass (boundaries + slicing); the equivalent
        // three-lambda HOF chain ran interpreted per position and was the
        // whole cost of the operator (6.7 s -> chunking at scan speed)
        explode(graft.functions.CdcOps.cdcChunksCol(
          col(textCol), 8, 64)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("ch"),
        length(col("chunk")).cast("long").as("clen"))
      // shared = appears in ≥2 DISTINCT documents (an intra-doc repeat is
      // not dedup-able across docs); partial distinct-agg then equi-join
      .transform { h =>
        val nd = h.groupBy(col("ch"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        h.join(nd, "ch")
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long").as("n_shared"),
        sum(when(col("nd") >= 2, col("clen")).otherwise(0L)).cast("long")
          .as("shared_len"))
  }

  /** The [[readability]] building blocks as standalone columns — shared
    * with composite per-source gates so the two stay definitionally
    * identical. */
  def wordsCount(text: Column): Column =
    size(split(trim(lower(text)), "\\s+")).cast("long")
  def sentencesCount(text: Column): Column =
    greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
  def syllablesCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("long")
  def fleschMicro(w: Column, s: Column, syl: Column): Column =
    lit(206835000L) -
      call_function("div", lit(2L) * lit(1015000L) * w + s, lit(2L) * s) -
      call_function("div", lit(2L) * lit(84600000L) * syl + w, lit(2L) * w)

  /** Reciprocal-rank fusion — the standard zero-tuning way to merge two
    * rankings (lexical + semantic retrieval, or any pair of orderings):
    * fused(d) = Σ_r 1/(k0 + rank_r(d)), k0 = 60. Each reciprocal is
    * half-up rounded to micro-units BEFORE the sum (exact LONG — the
    * microBits posture for rationals), so fused scores and the final
    * ordering are engine-identical; documents absent from one ranking
    * simply contribute nothing. Returns the fused top-`topK` with a
    * deterministic (score desc, id) order.
    *
    * Scale: a full-outer equi-join of two (id, rank) tables — both
    * already topK-bounded by their producers — plus one
    * TakeOrderedAndProject. */
  def rrfFuse(rankA: DataFrame, rankB: DataFrame, idCol: String,
      topK: Int): DataFrame = {
    def recipU(rank: Column): Column =
      coalesce(call_function("div",
        lit(2000000L) + (lit(60L) + rank),
        (lit(60L) + rank) * lit(2L)), lit(0L))
    val a = rankA.select(col(idCol), col("rank").as("rank_a"))
    val b = rankB.select(col(idCol), col("rank").as("rank_b"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_a").cast("long").as("rank_a"),
        col("rank_b").cast("long").as("rank_b"),
        (recipU(col("rank_a")) + recipU(col("rank_b"))).as("fused_u"))
      .orderBy(col("fused_u").desc, col(idCol))
      .limit(topK)
  }

  /** Token-mass Gini coefficient — how unequally the corpus's tokens are
    * spread across documents (0 = every doc the same length, → 1 = a few
    * giants hold everything): the grouped-data identity
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) with x ascending and the
    * rank made total by the doc id. All moments are exact integer sums;
    * the single division happens half-up in DECIMAL(38,0) (the rank-
    * weighted moment outgrows LONG·2e6 at corpus scale). For ascending
    * order the numerator is provably ≥ 0 — no sign handling.
    *
    * Scale: the ranking window sorts the doc-LENGTH table (one row per
    * doc, not per token); the moments then collapse in one aggregate. */
  def giniConcentration(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val lens = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), wordsCount(col(textCol)).as("x"))
    val ranked = lens.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col(idCol))).cast("long"))
    // The rank-weighted moment and the (n+1)·t / n·t products outgrow
    // LONG at corpus scale (≥ ~1e9 docs × 1e3 tokens) — accumulate and
    // multiply in DECIMAL as zipfFit does; the oracle's HUGEINT sums are
    // already exact (r14 review).
    val dec = DecimalType(38, 0)
    val m = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("t"),
      sum((col("x") * col("i")).cast(dec)).as("s"))
    val num = m("s") * lit(2L) - (m("n") + lit(1L)).cast(dec) * m("t")
    val den = m("n").cast(dec) * m("t")
    m.select(m("n").cast("long").as("n_docs"),
      m("t").cast("long").as("total_tokens"),
      when(den === 0L, lit(null).cast("double"))
        .otherwise(call_function("div", num * lit(2000000L) + den,
          den * lit(2L)).cast("double") / lit(1e6)).as("gini_r"))
  }

  /** Zipf-law fit — the sanity check that a corpus's word-frequency
    * distribution has the power-law head natural language should (slope
    * of log2(freq) vs log2(rank) ≈ −1; a far-off slope flags templated
    * or synthetic text). Both axes are micro-bit integers ([[
    * microBits]]), the slope is the q159 closed form with DECIMAL(38,0)
    * moment sums (V·Σx² outgrows LONG), sign-aware half-up rounding.
    *
    * Scale: corpus → vocab table in one groupBy; the ranking sorts that
    * table only, and the moments collapse in one aggregate. */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val wc = docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val ranked = wc.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("w"))).cast("long"))
    val x = microBits(col("rank"))
    val y = microBits(col("n"))
    val dec = DecimalType(38, 0)
    val m = ranked.agg(count(lit(1)).as("v"),
      sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
      sum((x * y).cast(dec)).as("sxy"), sum((x * x).cast(dec)).as("sxx"))
    val num = m("v") * m("sxy") - m("sx") * m("sy")
    val den = m("v") * m("sxx") - m("sx") * m("sx")
    m.select(m("v").cast("long").as("vocab"),
      when(den === 0L, lit(null).cast("double"))
        .otherwise((when(num < 0L, lit(-1.0)).otherwise(lit(1.0))) *
          (call_function("div", abs(num) * lit(2000000L) + den,
            den * lit(2L)).cast("double") / lit(1e6))).as("slope_r"))
  }

  /** Per-source quality scorecard — the one-table curation dashboard:
    * for each source, document count, exact mean length, and the exact
    * share of documents passing each gate (English, Flesch ≥ 60,
    * ≥ 50 words). Every gate is a verified building block ([[
    * readability]]'s counts, the lang column) evaluated map-side; the
    * scorecard is ONE partial-aggregatable aggregate over gate
    * indicators — no joins between per-gate subqueries.
    *
    * Scale: map-only gate evaluation + one hash aggregate to |sources|
    * rows. */
  def sourceScorecard(docs: DataFrame, sourceCol: String, textCol: String,
      langCol: String, nCharsCol: String): DataFrame = {
    val w = wordsCount(col(textCol))
    val s = sentencesCount(col(textCol))
    val syl = syllablesCount(col(textCol))
    val gates = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(sourceCol), col(nCharsCol).cast("long").as("nc"),
        when(col(langCol) === "en", 1L).otherwise(0L).as("is_en"),
        when(fleschMicro(w, s, syl) >= lit(60000000L), 1L).otherwise(0L)
          .as("is_readable"),
        when(w >= 50L, 1L).otherwise(0L).as("is_long"))
    gates.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
        sum(col("is_en")).as("n_en"), sum(col("is_readable")).as("n_read"),
        sum(col("is_long")).as("n_long"))
      .select(col(sourceCol), col("n_docs").cast("long").as("n_docs"),
        col("sum_chars").cast("long").as("sum_chars"),
        ratioRound6(col("sum_chars"), col("n_docs")).as("mean_chars_r"),
        ratioRound6(col("n_en"), col("n_docs")).as("en_share_r"),
        ratioRound6(col("n_read"), col("n_docs")).as("readable_share_r"),
        ratioRound6(col("n_long"), col("n_docs")).as("long_share_r"))
  }

  /** Pairwise Jensen-Shannon divergence between group unigram
    * distributions — the bounded, symmetric corpus-drift measure ([0, 1]
    * bit) PSI can't give when supports differ (JS never divides by zero).
    * Per shared word, the P-side term weight is
    * 1 + log2(a·B) − log2(a·B + b·A) (the A·B-scaled rearrangement of
    * log2(2p/(p+q)) that keeps every log argument an exact integer
    * product); words private to one group contribute exactly their full
    * probability mass, which is why an INNER join on the word suffices —
    * the private-mass remainder (A − Σ_shared a)·1e6 is added in closed
    * form. Per-word log factors are micro-bit rounded ([[microBits]])
    * before the LONG sums, and the final combine runs in DECIMAL(38,0)
    * with one half-up division: identical distributions give EXACTLY 0.
    *
    * Scale: token explode → one (group, word) partial aggregate; the
    * pair join shuffles on the WORD key (group-count-bounded fanout per
    * word, never all-pairs over rows); totals broadcast. */
  def jsDivergence(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol).as("g"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val sw = toks.groupBy(col("g"), col("w")).agg(count(lit(1)).as("n"))
    val tot = sw.groupBy(col("g")).agg(sum(col("n")).cast("long").as("tot"))
    val joined = sw.as("a")
      .join(sw.as("b"),
        col("a.w") === col("b.w") && col("a.g") < col("b.g"))
      .select(col("a.g").as("s1"), col("b.g").as("s2"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .join(broadcast(tot.select(col("g").as("s1"), col("tot").as("ta"))), "s1")
      .join(broadcast(tot.select(col("g").as("s2"), col("tot").as("tb"))), "s2")
    // DECIMAL products: na·tb pairs a word count with the OTHER group's
    // token total, which wraps Long past ~1e19 (a 1e9-count word against
    // a 1e10-token group) — microBits casts to double anyway, so the
    // decimal input is free and the log argument stays exact-positive
    // instead of silently negative → NaN (r14 review).
    val decJs = DecimalType(38, 0)
    val aB = col("na").cast(decJs) * col("tb")
    val bA = col("nb").cast(decJs) * col("ta")
    val agg = joined.groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("na") * (lit(1000000L) + microBits(aB) - microBits(aB + bA)))
          .as("sp_in"),
        sum(col("nb") * (lit(1000000L) + microBits(bA) - microBits(aB + bA)))
          .as("sq_in"),
        sum(col("na")).as("ca"), sum(col("nb")).as("cb"))
    // pair scaffold keeps disjoint-vocabulary pairs (JS exactly 1 bit)
    // that the inner word join would drop entirely
    val pairs = tot.select(col("g").as("s1"), col("tot").as("ta"))
      .crossJoin(tot.select(col("g").as("s2"), col("tot").as("tb")))
      .filter(col("s1") < col("s2"))
    val full = pairs.join(agg, Seq("s1", "s2"), "left")
    val sp = (coalesce(col("sp_in"), lit(0L)) +
      (col("ta") - coalesce(col("ca"), lit(0L))) * lit(1000000L))
    val sq = (coalesce(col("sq_in"), lit(0L)) +
      (col("tb") - coalesce(col("cb"), lit(0L))) * lit(1000000L))
    val num = (sp.cast(DecimalType(38, 0)) * col("tb") +
      sq.cast(DecimalType(38, 0)) * col("ta"))
    val den = (col("ta").cast(DecimalType(38, 0)) * col("tb") * lit(2L))
    full.select(col("s1"), col("s2"),
      coalesce(col("n_common"), lit(0L)).cast("long").as("n_common"),
      sp.cast("long").as("sp_ub"), sq.cast("long").as("sq_ub"),
      col("ta").cast("long").as("ta"), col("tb").cast("long").as("tb"),
      (call_function("div", num * lit(2L) + den, den * lit(2L))
        .cast("double") / lit(1e6)).as("js_r"))
  }

  /** Merge per-document MinHash signatures into per-group sketches:
    * element-wise lane MIN — associative and commutative, so Spark's partial
    * aggregation combines map-side and only (group, lane, hash) rows reach
    * the shuffle. The group sketch equals the sketch of the group's union
    * shingle set (MIN over docs of per-doc shingle minima = MIN over the
    * union), which is what makes pairwise group similarity estimable from
    * sketches alone — no second pass over text. */
  def groupMinhashSketch(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    // fanOutScan measured negative here (r22, part of q112's +0.6 with
    // the shd spread) — the lane pass flows into the sketch aggregate's
    // own exchange either way. Left unspread (see Spread.fanOutScan).
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(groupCol),
        posexplode(Dedup.minhashLanes(col(textCol))).as(Seq("lane", "h")))
      .groupBy(col(groupCol), col("lane"))
      .agg(min(col("h")).as("h"))

  /** Count-min-sketch bucket id for hash row `r`: the top 12 bits of
    * md5(r + "|" + word), mod the width. Portable — both engines derive the
    * same bucket from the same hex digest. */
  private def cmsBucket(word: Column, r: Int): Column =
    conv(substring(md5(concat(lit(s"$r|"), word)), 1, 3), 16, 10)
      .cast("long") % CmsWidth

  /** The count-min sketch's shape. cmsBucket draws 12 bits (3 md5 hex
    * chars) per row, so the width stays ≤ 4096. */
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Count-min sketch of word frequencies: `CmsDepth` = 4 hash rows ×
    * `CmsWidth` = 1024 buckets of LONG counts — a (depth·width)-bounded
    * table no matter the corpus size, built by one partial-aggregatable
    * hash aggregate per row (each word instance contributes to 4 cells;
    * the explode is map-side). The sketch overestimates only: est(w) = min over rows of
    * its bucket count ≥ true count, with the overshoot bounded by collision
    * mass. This is the scale shape for frequency estimation at 100 TB —
    * the corpus never shuffles, only (row, bucket) partial counts do. */
  def countMinSketch(words: DataFrame, wordCol: String): DataFrame =
    words.select((0 until CmsDepth).map(r =>
        cmsBucket(col(wordCol), r).as(s"b$r")): _*)
      .select(posexplode(array((0 until CmsDepth).map(r => col(s"b$r")): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Heavy hitters with sketch verification: exact top-k words joined
    * against their count-min estimates (est = MIN over hash rows of the
    * word's bucket count). Output carries both so the sketch's one-sided
    * error (est ≥ exact, always) is visible and oracle-checkable. The
    * top-k and the sketch are both tiny — the joins broadcast. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val words = docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    val exact = words.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(k)
    val cms = countMinSketch(words, "w")
    val est = exact
      .select(col("w"), col("n_exact"),
        posexplode(array((0 until CmsDepth).map(r =>
          cmsBucket(col("w"), r)): _*)).as(Seq("r", "bucket")))
      .join(cms, Seq("r", "bucket"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("n")).as("n_est"))
    est.select(col("w"), col("n_exact").cast("long").as("n_exact"),
      col("n_est").cast("long").as("n_est"),
      (col("n_est") - col("n_exact")).cast("long").as("overshoot"))
  }

  /** Top-k word associations by pointwise mutual information:
    * PMI(w1,w2) = log2(n·T / (n_w1·n_w2)), carried as exact LONG micro-bits
    * (mb(n) + mb(T) - mb(n_w1) - mb(n_w2)) so ranking and output are
    * bit-reproducible. All statistics live on the vocab²-bounded pair
    * table: marginals are windows over it, the corpus total T is a 1-row
    * broadcast cross join, and the top-50 is a TakeOrdered with a unique
    * (pmi, w1, w2) sort key over the pairs seen at least 5 times. The
    * corpus is shingled exactly once. */
  def pmiTopPairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pair = docBigrams(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val tot = pair.agg(sum(col("n")).as("t"))
    pair
      .withColumn("n_w1", sum(col("n")).over(Window.partitionBy(col("w1"))))
      .withColumn("n_w2", sum(col("n")).over(Window.partitionBy(col("w2"))))
      .crossJoin(broadcast(tot))
      .filter(col("n") >= 5)
      .select(col("w1"), col("w2"), col("n").cast("long").as("n"),
        col("n_w1").cast("long").as("n_w1"),
        col("n_w2").cast("long").as("n_w2"),
        (microBits(col("n")) + microBits(col("t"))
          - microBits(col("n_w1")) - microBits(col("n_w2"))).as("pmi_ub"))
      .orderBy(col("pmi_ub").desc, col("w1"), col("w2"))
      .limit(50)
      .withColumn("pmi_r", col("pmi_ub").cast("double") / lit(1e6))
  }

  /** Merge independently-fit bigram models by summing pair counts and
    * re-deriving the left-context totals — the map-reduce mergeability
    * property that makes the LM fit incrementally maintainable: fitting
    * yesterday's corpus and today's increment separately, then merging,
    * equals refitting from scratch. One hash aggregate over the models
    * (vocab²-bounded), never over the corpora. */
  def mergeBigramModels(models: Seq[DataFrame]): DataFrame = {
    require(models.nonEmpty, "need at least one model")
    val pair = models.map(_.select(col("w1"), col("w2"), col("n")))
      .reduce(_.unionByName(_))
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n"))
    pair.withColumn("n_w1",
      sum(col("n")).over(Window.partitionBy(col("w1"))))
  }

  /** Corpus snapshot diff — the incremental-ingest primitive: classify
    * every doc id across two corpus versions as added / removed / changed /
    * unchanged by comparing content fingerprints, so a re-crawl only
    * reprocesses `added ∪ changed` downstream. One full-outer shuffle join
    * on the id (co-partition both snapshots on `idCol` at write time and
    * even that shuffle disappears); only (id, 128-bit digest) rows move,
    * never document bodies. Returns (doc_id, status, old_digest,
    * new_digest) with null digests on the absent side. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def digested(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.fingerprint(col(textCol)).as(s"${side}_digest"))
    digested(oldDocs, "old").as("o")
      .join(digested(newDocs, "new").as("n"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_digest"), col("new_digest"))
  }

  /** Temperature-rebalanced mixture sampling — the multilingual-training
    * resampler (XLM-R style): draw `totalOut` documents with per-group
    * quotas ∝ n_g^(1/τ) at τ = 2 (the common choice: integer-exact sqrt
    * weights), so low-resource groups are boosted and the head
    * flattened.
    *
    * Everything after the weights is INTEGER largest-remainder
    * apportionment: base_g = T·w_g div W, the leftover seats go to the
    * largest T·w_g mod W (ties → group name), quotas cap at availability
    * (no redistribution — by the time a 100 TB group exhausts, the
    * mixture is the least of your problems; documented, not hidden). The
    * weights themselves are floor(sqrt(n_g·10¹²)) computed through IEEE
    * doubles — identical ops on identical integers on any engine. Member
    * selection is the deterministic md5-of-id rank, so the same corpus
    * always yields the same sample. Contract: T·w_g must fit a LONG
    * (T·√(n_g)·10⁶ < 2⁶³ — holds to ~10¹² output docs).
    *
    * Scale: one count aggregate, apportionment over the GROUP table
    * (bounded, one window), then a per-group rank window over candidate
    * members. Returns (groupCol, idCol, rk, quota). */
  def temperatureRebalance(docs: DataFrame, groupCol: String, idCol: String,
      totalOut: Long): DataFrame = {
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
    val weighted = counts.withColumn("w_g",
      floor(sqrt(col("n_g").cast("double") * lit(1e12))).cast("long"))
    val totW = weighted.agg(sum(col("w_g")).cast("long").as("tot_w"))
    val seats = weighted.crossJoin(broadcast(totW))
      .withColumn("base", expr(s"div(${totalOut}L * w_g, tot_w)"))
      .withColumn("rem", lit(totalOut) * col("w_g") % col("tot_w"))
    val wRem = Window.orderBy(col("rem").desc, col(groupCol))
    val quotas = seats
      .withColumn("extra_rk", row_number().over(wRem))
      .withColumn("leftover",
        lit(totalOut) - sum(col("base")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(groupCol),
        least(col("n_g"),
          col("base") + when(col("extra_rk") <= col("leftover"), 1L)
            .otherwise(0L)).cast("long").as("quota"))
    val wSel = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.select(col(groupCol), col(idCol))
      .withColumn("rk", row_number().over(wSel).cast("long"))
      .join(quotas, Seq(groupCol))
      .filter(col("rk") <= col("quota"))
      .select(col(groupCol), col(idCol), col("rk"), col("quota"))
  }

  /** PSI-style distribution drift between two corpus slices, per category
    * — the data-quality monitor that catches "the new crawl is 40% less
    * German" before training does. Per category i with add-1-smoothed
    * proportions p_i = (a_i+1)/(N_A+V), q_i = (b_i+1)/(N_B+V):
    *
    *   contrib_i = (p_i − q_i) · log2(p_i / q_i)    (≥ 0, bits)
    *
    * and PSI = Σ contrib_i (the caller sums; categories missing from one
    * slice are handled by the smoothing). Every input to the doubles is
    * an exact integer count, the double expressions are written with
    * identical operation order in the oracle, and the log-ratio is
    * carried as micro-bits — so the per-category rows hash-match across
    * engines.
    *
    * Scale: two count aggregates (category-bounded), a full-outer join of
    * the two category tables, one 1-row broadcast of totals. The slices
    * are never materialized together; nothing is corpus-sized past the
    * first aggregate. */
  def distributionDrift(dfA: DataFrame, dfB: DataFrame,
      catCol: String): DataFrame = {
    val a = dfA.groupBy(col(catCol)).agg(count(lit(1)).as("n_a"))
    val b = dfB.groupBy(col(catCol)).agg(count(lit(1)).as("n_b"))
    val cats = a.join(b, Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("n_a"), lit(0L)).cast("long").as("n_a"),
        coalesce(col("n_b"), lit(0L)).cast("long").as("n_b"))
    val totals = cats.agg(
      sum(col("n_a")).cast("long").as("tot_a"),
      sum(col("n_b")).cast("long").as("tot_b"),
      count(lit(1)).cast("long").as("v"))
    // products as doubles (exact-long multiply overflows at corpus scale;
    // identical IEEE ops on identical longs are engine-portable)
    val pa = (col("n_a") + lit(1L)).cast("double") /
      (col("tot_a") + col("v")).cast("double")
    val pb = (col("n_b") + lit(1L)).cast("double") /
      (col("tot_b") + col("v")).cast("double")
    val lrUb = round(lit(1e6) * (log2(pa) - log2(pb))).cast("long")
    cats.crossJoin(broadcast(totals))
      .select(col(catCol), col("n_a"), col("n_b"),
        lrUb.as("lr_ub"),
        round((pa - pb) * lrUb.cast("double") / lit(1e6), 6).as("contrib_r"))
  }

  /** Apply a CDC changelog to a snapshot — the MERGE counterpart of
    * [[snapshotDiff]] (diff produces a changelog; this replays one). The
    * changelog carries (`idCol`, `seqCol`, `opCol`, payload columns); per
    * id the change with the highest `seqCol` wins ('upsert' replaces the
    * row, 'delete' removes it), everything untouched passes through.
    * Payload columns must match the snapshot's non-id columns.
    * Contract: (`idCol`, `seqCol`) pairs are unique — a CDC log has a
    * total per-key order by construction; with duplicate seqs the winner
    * among the tied changes would be partitioning-dependent.
    *
    * Scale: the dedup window runs over the CHANGELOG only (log-sized, not
    * corpus-sized), and the corpus-sized work is one anti-join of the
    * snapshot against the touched-id set — broadcastable whenever the log
    * is. The snapshot is never sorted, windowed, or rewritten in place;
    * this is exactly the shape a lakehouse MERGE compiles to. */
  def changelogApply(snapshot: DataFrame, changes: DataFrame, idCol: String,
      seqCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(seqCol).desc)
    val latest = changes
      .withColumn("_cdc_rn", row_number().over(w))
      .filter(col("_cdc_rn") === 1)
      .drop("_cdc_rn")
    val touched = latest.select(col(idCol))
    val untouched = snapshot.join(touched, Seq(idCol), "left_anti")
    val applied = latest.filter(col(opCol) === "upsert")
      .drop(seqCol, opCol)
    untouched.unionByName(applied)
  }

  /** Build an SCD Type-2 version-history table from a CDC changelog — the
    * warehouse-dimension counterpart of [[changelogApply]] (which keeps only
    * the latest state, this keeps every state with its validity interval).
    * Per id, each 'upsert' opens a version at its `seqCol`; the version
    * closes at the NEXT change's seq (whether that change is an upsert or a
    * delete), so `valid_to` is null exactly for the live version and a
    * trailing delete leaves the id with no current row. Deletes emit no row
    * of their own — they only terminate the preceding interval.
    * Contract: (`idCol`, `seqCol`) pairs are unique, as in
    * [[changelogApply]].
    *
    * Scale: one hash exchange of the CHANGELOG on id + a per-id sorted
    * window (log-sized, never corpus-sized); the snapshot is not involved.
    * This is the streaming-friendly shape — a new log batch only touches
    * the ids it mentions, and the previous history's open intervals close
    * by the same lead-seq rule. */
  def scd2Build(changes: DataFrame, idCol: String, seqCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(seqCol))
    changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) === "upsert")
      .drop(opCol)
      .withColumn("valid_from", col(seqCol).cast("long"))
      .drop(seqCol)
      .withColumn("valid_to", col("valid_to").cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Pairwise lane-agreement similarity between group sketches: est_r =
    * agreeing lanes / [[Dedup.MinhashLaneCount]], an unbiased estimate of
    * the Jaccard similarity of the groups' shingle sets. The sketch table is
    * groups×lanes rows — trivially broadcastable at any corpus size. */
  def sketchPairSimilarity(sketch: DataFrame, groupCol: String): DataFrame =
    sketch.as("a")
      .join(sketch.as("b"),
        col("a.lane") === col("b.lane") &&
          col(s"a.$groupCol") < col(s"b.$groupCol"))
      .groupBy(col(s"a.$groupCol").as("grp_a"),
        col(s"b.$groupCol").as("grp_b"))
      .agg(sum(when(col("a.h") === col("b.h"), 1L).otherwise(0L))
        .as("n_agree"))
      .select(col("grp_a"), col("grp_b"),
        col("n_agree").cast("long").as("n_agree"),
        round(col("n_agree").cast("double") / lit(Dedup.MinhashLaneCount), 6)
          .as("est_r"))

  /** Gopher repetition gate (Rae et al. 2021, table A1): per document, the
    * char mass (count × gram char length) of the most frequent word n-gram
    * for n=2,3,4 and the char mass of all DUPLICATED n-grams for n=5 and
    * n=10, plus the combined keep/drop verdict at the paper's thresholds
    * (top: 20/18/16 % of chars; dup: 15/10 %).
    *
    * Repetition is strictly per-document, so this is a map-only projection
    * — one compiled pass ([[graft.functions.RepetitionOps.gopherStats]])
    * computes all five n values with ZERO shuffle; at 100 TB it runs at
    * scan throughput, vs ~5× the corpus token count shuffling through the
    * equivalent explode → groupBy(doc, n, gram) plan (which the DuckDB
    * oracle mirrors to prove equivalence). All columns are exact integers
    * and the verdict is decided by integer cross-multiplication
    * (`top2_chars * 5 <= norm_chars`, not `top2_chars/norm_chars <= 0.2`)
    * — no float ties anywhere. Ties for "most frequent" break to the
    * longer gram (encoded as count·2³¹+len, max'd), deterministically on
    * both engines. */
  def repetitionGate(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.RepetitionOps.gopherStatsCol(col(textCol)).as("st"))
      // n_words/norm_chars ride in the same array as the gram masses, so
      // every ratio's numerator and denominator share one tokenization
      .withColumn("n_words", col("st").getItem(10))
      .withColumn("norm_chars", col("st").getItem(11))
    // decode [score_n, dup_n]: count = score >> 31, chars = count * (score
    // & (2^31-1)); duplicate `st` references collapse to one evaluation via
    // whole-stage-codegen subexpression elimination
    def score(i: Int) = col("st").getItem(i * 2)
    def dup(i: Int) = col("st").getItem(i * 2 + 1)
    def cnt(i: Int) = shiftright(score(i), 31)
    def chars(i: Int) = cnt(i) * score(i).bitwiseAND(lit((1L << 31) - 1))
    base.select(col(idCol), col("n_words"), col("norm_chars"),
      cnt(0).as("top2_count"), chars(0).as("top2_chars"),
      cnt(1).as("top3_count"), chars(1).as("top3_chars"),
      cnt(2).as("top4_count"), chars(2).as("top4_chars"),
      dup(3).as("dup5_mass"), dup(4).as("dup10_mass"))
      .withColumn("keep_gopher",
        col("top2_chars") * 5 <= col("norm_chars") &&
          col("top3_chars") * 50 <= col("norm_chars") * 9 &&
          col("top4_chars") * 25 <= col("norm_chars") * 4 &&
          col("dup5_mass") * 20 <= col("norm_chars") * 3 &&
          col("dup10_mass") * 10 <= col("norm_chars"))
  }

  /** Per-source content NOVELTY: of each source's distinct char-8-shingle
    * set, how many shingles appear in NO other source — the signal that
    * tells a mixture designer which sources actually add new content vs
    * re-serving what the rest of the corpus already has.
    *
    * Plan shape (the part that must survive 100 TB): one exploded
    * (source, shingle) DISTINCT — partial-aggregated map-side, the only
    * corpus-sized shuffle — then two aggregates over the distinct pairs:
    * per-shingle (count, min source) and per-source totals. Uniques are
    * recovered from the per-shingle aggregate alone (a shingle with
    * count 1 belongs entirely to its min source), so no corpus-sized
    * join-back. The final join is #sources × #sources rows. Shingles stay
    * strings, so a SQL oracle can mirror the exact computation. */
  def sourceNovelty(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val shingles = graft.functions.TextFunctions.charShingles(
      graft.functions.TextFunctions.normalize(col(textCol)), 8)
    // sg feeds both the per-gram and the per-source aggregate; pinning
    // it was MEASURED ~neutral-to-slower (r21 A/B, 3× interleaved fresh
    // JVMs: min 3.09 → 3.21 s) — the synchronous checkpoint job costs
    // more than the saved second aggregation, whose input the two
    // consumers' exchanges already overlap. Keep the recompute.
    // CPU-dense shingle explode: fan a narrower-than-cores scan out first
    // (r22, Spread.fanOutScan — the pass otherwise runs single-task on a
    // single-row-group corpus file, TWICE since sg is recomputed per
    // consumer; a real corpus has enough scan partitions to skip this)
    val sg = Spread.fanOutScan(docs, col(textCol))
      .filter(length(trim(col(textCol))) > 0)
      .select(col(srcCol).as("src"), explode(shingles).as("g"))
      .distinct()
    val gc = sg.groupBy(col("g"))
      .agg(count(lit(1)).as("ns"), min(col("src")).as("only_src"))
    val tot = sg.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val uni = gc.filter(col("ns") === 1L).groupBy(col("only_src"))
      .agg(count(lit(1)).as("n_unique"))
      .withColumnRenamed("only_src", "src")
    tot.join(uni, Seq("src"), "left")
      .select(col("src").as(srcCol),
        col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).cast("long").as("n_unique"))
      .withColumn("novelty", ratioRound6(col("n_unique"), col("n_grams")))
  }

  /** Inverted index (long form): per term its document frequency, corpus
    * term frequency, and the top-k postings by tf (ties → lower doc id, so
    * ranking is total and deterministic). The transpose of the tf-idf view:
    * retrieval stacks ask "which docs for this term", not "which terms for
    * this doc". Postings keep the top 3 per term.
    *
    * Plan: one corpus pass → (term, doc) hash aggregate (map-side
    * partials), then ONE term-keyed exchange feeding df/total_tf/rank as
    * three window functions over the SAME partitioning — no self-join, no
    * second corpus scan, never a single-partition window. Output is
    * 3 × vocabulary rows. */
  def invertedIndex(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tf = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(
          lower(col(textCol)))).as("term"))
      // split keeps edge empty strings when text is bounded by non-space
      // whitespace (trim strips spaces only) — not a real term
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    val ranked = byTerm.orderBy(col("tf").desc, col("doc_id").asc)
    tf.select(col("term"), col("doc_id"), col("tf"),
        count(lit(1)).over(byTerm).as("df"),
        sum(col("tf")).over(byTerm).as("total_tf"),
        row_number().over(ranked).as("rank"))
      .filter(col("rank") <= 3)
      .select(col("term"), col("df").cast("long").as("df"),
        col("total_tf").cast("long").as("total_tf"),
        col("rank").cast("long").as("rank"), col("doc_id"),
        col("tf").cast("long").as("tf"))
  }
}
