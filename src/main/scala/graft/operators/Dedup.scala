package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Large-scale document deduplication (SURVEY north star — beyond the
  * reference, whose only dedup is row-level `drop_duplicates`,
  * `PGSITE/__init__.py:284`). Designed for 100 TB corpora:
  *
  *  - exact dedup: one hash-aggregate shuffle on a 128-bit digest (not on the
  *    document text — shuffle bytes stay tiny no matter how big the docs are);
  *  - MinHash+LSH: signatures are computed map-side (k hash lanes over char
  *    shingles, all codegen'd built-ins), then only `(band, bandHash, docId)`
  *    tuples shuffle — O(docs × bands) small rows, never document bodies.
  *    Candidate pairs come from equi-joining the banded table with itself,
  *    which Spark executes as a shuffled hash join on the band key; true
  *    Jaccard verification happens only on the candidate set.
  */
object Dedup {

  /** Exact dedup: group on the MD5 of normalized text, keep the smallest id.
    * Returns (text_hash, keeper, n_dups). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** The one MinHash scheme of the md5-lane operators (the banded
    * candidates here, [[graft.streaming.StreamingDedup]] and the group
    * sketches in [[Corpus]]): word 3-gram shingles hashed into
    * `MinhashLaneCount` md5 lanes ([[minhashLanes]]), and LSH buckets of at
    * most `MinhashMaxBucket` docs. The DuckDB oracles spell the same
    * values out as literals. */
  val MinhashLaneCount = 16
  private val MinhashMaxBucket = 1000

  /** Per-doc md5 MinHash lane minima of `text` under the scheme, one
    * native scalar pass ([[graft.functions.Md5MinhashLanes]] — shingle,
    * md5, windowed min); NULL for a shingle-less doc. */
  def minhashLanes(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.Md5MinhashLanes(
      org.apache.spark.sql.GraftBridge.expression(text), 3, MinhashLaneCount))

  /** Oracle-portable MinHash+LSH candidates: per-doc lane minima come from
    * ONE native scalar pass ([[minhashLanes]] — no token explode and NO
    * signature shuffle at all), and every hash is md5/substring/MIN —
    * semantics a DuckDB oracle reproduces verbatim. */
  def minhashCandidatesPortable(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4): DataFrame =
    candidatesFromSignatures(md5MinhashSignatures(docs, idCol, textCol), bands)

  /** Cross-group near-dup leakage matrix — where duplicate pairs live:
    * candidate pairs labeled with their two docs' groups (sources,
    * splits), counted per unordered group pair with exact shares and an
    * is_cross flag. A heavy cross-group cell means content is leaking
    * between sources (or between train and eval splits — the q126
    * hazard made visible as a matrix).
    *
    * Scale: two id-keyed joins decorate the (already candidate-bounded)
    * pair list; the matrix aggregate is |groups|²-bounded. */
  def crossGroupPairMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    pairs
      .join(docs.select(col(idCol).as("id_a"), col(groupCol).as("ga")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(groupCol).as("gb")), "id_b")
      .select(least(col("ga"), col("gb")).as("src_a"),
        greatest(col("ga"), col("gb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("total", sum(col("n_pairs")).over(w))
      .select(col("src_a"), col("src_b"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("total").cast("long").as("total"),
        Corpus.ratioRound6(col("n_pairs"), col("total")).as("share_r"),
        (col("src_a") =!= col("src_b")).as("is_cross"))
  }

  /** Per-doc md5 MinHash lane minima as a (doc_id, ls: array) table — the
    * expensive text pass, separated so a caller can localCheckpoint it and
    * feed BOTH [[candidatesFromSignatures]] and signature-level analytics
    * (q107's lane-agreement estimates) from one computation. */
  def md5MinhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // fanOutScan measured ~neutral-to-negative here (r22: q107 +0.1,
    // q112 +0.6 min-of-3 interleaved with the sketch spread) — the md5
    // lane pass on this corpus shape is cheaper than the text shuffle
    // the spread adds. Left unspread; see Spread.fanOutScan for where it pays.
    docs.select(col(idCol).as("doc_id"), minhashLanes(col(textCol)).as("ls"))
      .filter(col("ls").isNotNull)

  /** LSH candidate pairs from a precomputed signature table, the lanes
    * banded `bands` ways. */
  def candidatesFromSignatures(sig: DataFrame, bands: Int = 4): DataFrame = {
    val rows = MinhashLaneCount / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).cast("long").as("band"),
        md5(concat_ws("|",
          (b * rows until (b + 1) * rows).map(i => element_at(col("ls"), i + 1)): _*))
          .as("bh"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bh"))
    candidatesFromBanded(banded)
  }

  /** The LSH tail: cap the buckets of `banded` at `MinhashMaxBucket` —
    * dropping singletons too — then self-join within the kept buckets for
    * distinct ordered pairs.
    *
    * The bands-per-doc rows feed the bucket-count aggregate and both
    * self-join branches, and the kept rows feed both branches again, so
    * each is pinned under [[Spread.pinIfSmall]] (r11 at-scale rule):
    * under the bound ONE signature pass serves every consumer; above it a
    * banded table is O(docs × bands) rows and pinning it in executor
    * storage is worse than re-deriving it per consumer — recompute is the
    * 100 TB shape.
    *
    * Buckets are counted via aggregate + semi-join, NOT a count window
    * over (band, bh): the partial aggregate collapses a corpus-hot bucket
    * map-side and the join stays splittable, where a window partition
    * cannot be split — counting a hot bucket through a window is itself
    * the straggler the cap exists to prevent (r11 shape rule, as in
    * prefixJaccardPairs / sharedPassagePairs). */
  private def candidatesFromBanded(banded: DataFrame): DataFrame = {
    val pin = Spread.pinIfSmall(banded) _
    val b0 = pin(banded)
    val keep = b0.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= MinhashMaxBucket && col("bucket_n") > 1)
      .select(col("band"), col("bh"))
    val pruned = pin(b0.join(keep, Seq("band", "bh"))
      .select(col("doc_id"), col("band"), col("bh")))
    val a = pruned.as("a"); val b = pruned.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Connected components over near-dup candidate pairs — the step after
    * LSH candidate generation in a dedup pipeline: every document gets the
    * smallest doc id reachable through candidate edges as its `cluster`
    * id, so "keep one per cluster" becomes a trivial filter.
    *
    * Iterative min-label propagation: each round joins current labels to
    * the symmetric edge list, takes the min over (own label, neighbor
    * labels), and stops when no label changed. Rounds needed = graph
    * diameter (tiny for near-dup clusters — they are cliques-ish by
    * construction); each round is one shuffle join + one aggregate, and
    * labels are localCheckpoint'd so lineage stays O(1) instead of growing
    * by two joins per round — the standard large-graph CC shape (what
    * GraphFrames does under the hood).
    *
    * Contract: `nodes` must contain `idCol`, ids must be numeric (long-
    * castable, non-null), and every id referenced by `pairs` (id_a, id_b)
    * must appear in `nodes` — candidate pairs are always derived FROM the
    * node set in a dedup pipeline, so this holds by construction. It
    * matters because the two dispatch arms treat a dangling edge endpoint
    * differently (the broadcast arm would let it win a min-label, the
    * iterative arm drops it), so the result is only arm-independent under
    * the subset contract. Returns (idCol, cluster). Isolated nodes
    * cluster to themselves. */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      broadcastEdgeLimit: Int = 1 << 20): DataFrame = {
    // Bounded dispatch (the knnJoin pattern): near-dup edge sets are tiny
    // relative to the corpus — when the probe proves |edges| fits the
    // limit, union-find the edge-induced subgraph driver-side (ms of CPU)
    // and broadcast the label map instead of paying diameter+1 rounds of
    // shuffle+checkpoint. Identical labels (min member per component);
    // the iterative path remains for genuinely large graphs and is
    // force-tested via broadcastEdgeLimit = 0.
    // ONE bounded collect probes AND fetches (r21, guide §1.2): the old
    // shape ran the caller's pair lineage twice — a limit+count probe,
    // then the full collect — and for CC callers the pair join is the
    // expensive stage (q233's Jaro-Winkler block join, q63's band
    // chain). limit(L+1) bounds the driver transfer exactly as before —
    // ≤ L+1 two-long rows, which is ~16 MB of PAYLOAD at the 2^20
    // default but several times that as driver-heap GenericRow objects
    // (~100+ MB: per-row object headers + boxed fields — r21 ADVICE;
    // size broadcastEdgeLimit against THAT figure, or collect through
    // the RDD as primitive longs first, when raising it); when the fetch
    // comes back over the limit it is discarded and the iterative path
    // runs — the same cost class as the count probe it replaces. When
    // the limit holds, limit(L+1) returned EVERY edge, so the label map
    // is identical.
    val probed =
      if (broadcastEdgeLimit > 0)
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(broadcastEdgeLimit + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (broadcastEdgeLimit > 0 && probed.length <= broadcastEdgeLimit) {
      val es = probed.map { r =>
          require(!r.isNullAt(0) && !r.isNullAt(1),
            "connectedComponents: pair ids must be non-null and numeric " +
              "(long-castable); got a null/uncastable id in `pairs`")
          (r.getLong(0), r.getLong(1))
        }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression (a recursive find overflows the
      // stack on a million-edge chain)
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElseUpdate(x, x) != x) x = parent(x)
        var y = x0
        while (parent(y) != x) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union always parents the larger root under the smaller, and every
      // member starts as its own root — so the final root IS the minimal
      // member: find(x) is already the cluster label
      val touched = parent.keys.toSeq.map(x => (x, find(x)))
      val spark = nodes.sparkSession
      import spark.implicits._
      val lblDf = touched.toDF("_cc_id", "_cc_lbl")
      return nodes
        .join(broadcast(lblDf),
          nodes(idCol).cast("long") === col("_cc_id"), "left")
        .select(nodes(idCol),
          coalesce(col("_cc_lbl"), nodes(idCol).cast("long")).as("cluster"))
    }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = nodes.select(col(idCol).as("id"), col(idCol).cast("long").as("lbl"))
      .localCheckpoint()
    // DECIMAL(38,0) accumulation: Spark's non-ANSI Long sum wraps silently,
    // so at ~1e9 nodes with 1e12-range ids a Long witness could overflow to
    // a repeated value and fake convergence. sum() over an empty node set is
    // null — the isNullAt branch maps that to ZERO instead of NPE-ing.
    // (A decimal(38,0) overflow also nulls in non-ANSI mode, but needs a
    // label sum > 1e38 — unreachable with Long ids.)
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head() match {
        case row if row.isNullAt(0) => java.math.BigDecimal.ZERO
        case row => row.getDecimal(0)
      }
    var prevSum = lblSum(labels)
    var iter = 0
    var converged = false
    while (iter < 50 && !converged) {
      val viaNeighbors = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min(col("lbl")).as("nlbl"))
      val next = labels.join(viaNeighbors, labels("id") === col("id2"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      // labels only ever decrease, so the label sum is a convergence
      // witness — one cheap aggregate instead of a change-detection join
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist() // release the superseded checkpoint's storage
      labels = next
      iter += 1
    }
    edges.unpersist()
    // silent non-convergence would return non-minimal labels — fail loudly
    // (rounds needed = component diameter; 50 covers any near-dup graph)
    if (!converged) throw new IllegalStateException(
      "connectedComponents did not converge in 50 iterations")
    labels.select(col("id").as(idCol), col("lbl").as("cluster"))
  }

  /** N-gram Jaccard similarity over candidate pairs restricted by a blocking
    * key (here: equal `blockCol`), computed distributively: explode distinct
    * shingles, equi-join on shingle+block, count intersections, then derive
    * |A∪B| = |A|+|B|−|A∩B|. No array is ever shipped whole through the join —
    * only (doc, shingle) rows, so skew stays bounded by shingle frequency. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleK: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        explode(TextFunctions.charShingles(lower(col(textCol)), shingleK)).as("s"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.blk") === col("b.blk") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"),
        (col("n_inter").cast("double") /
          (col("s1.n") + col("s2.n") - col("n_inter")).cast("double")).as("jaccard"))
  }

  /** The text joins' one scheme, which every contract query runs: char
    * 8-gram shingles, the Jaccard threshold t = 3/5 of
    * [[prefixJaccardPairs]] and [[prefixHotness]], and the containment
    * threshold t = 3/4 of the containment joins. A threshold stays an
    * integer pair, so both engines compare `den·inter ≥ num·n` exactly. */
  private val ShingleK = 8
  private val JaccardNum = 3
  private val JaccardDen = 5
  private val ContainNum = 3
  private val ContainDen = 4

  /** The text joins' dfreq cap: a prefix or probe shingle in more than 20
    * documents is dropped from the candidate join (see
    * [[prefixJaccardPairs]] for the recall bound it costs). */
  private val MaxDocsPerTok = 20

  /** (doc_id, n, tok) exploded shingle rows — the plan inside
    * [[shingleFront]], the prefix-filtered joins' shared front.
    *
    * PLAN SHAPE IS LOAD-BEARING (r16, the q245 regression; locked in
    * ScaleSpec): the generator input must be the shingling EXPRESSION,
    * not an alias of it. InferFiltersFromGenerate fires only when
    * `explode`'s input is a bare attribute; with the r15 `arr`-alias
    * shape it inferred `size(arr) > 0 AND isnotnull(arr)`, alias
    * substitution rebuilt the full charShingles call inside that filter,
    * and predicate pushdown carried it below the fan-out Repartition onto
    * the narrow scan — serial, multiple shingling passes per row, q245
    * 3.4–4.2 → 6.7 s. With the expression inline the rule skips (by
    * design — "only generate extra predicates if the input is an
    * attribute"), and `n` is computed once per doc in the Project BELOW
    * the Generate (NOT in the select that holds the explode — there it
    * lands in the Project ABOVE the Generate and is re-evaluated per
    * SHINGLE row, measured 21 s vs 0.6 s at sf0.1 shape). */
  private[graft] def shingleToksPlan(base: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val shingleExpr = TextFunctions.charShingles(
      TextFunctions.normalize(col(textCol)), ShingleK)
    base
      .select(col(idCol).as("doc_id"), size(shingleExpr).as("n"),
        col(textCol))
      .select(col("doc_id"), col("n"), explode(shingleExpr).as("tok"))
  }

  /** The shingle joins' token tables, see [[shingleFront]]. */
  private[graft] final case class Front(toks: DataFrame, toksPlan: DataFrame,
      dfreq: DataFrame, inputSmall: Boolean)

  /** Shared token-table front of the prefix and containment joins
    * ([[prefixJaccardPairs]], [[prefixHotness]] and the containment
    * joins): spread + non-empty filter, the exploded (doc_id, n, tok)
    * shingle plan, the probe-side checkpoint dispatch, and the
    * full-corpus dfreq, plus the [[Spread.small]] verdict the callers'
    * later stages reuse.
    *
    * `n` = the doc's distinct-shingle count, computed at explode time and
    * carried on every tok row (one int): it is both the PPJoin length
    * filter's `n` AND the bound the prefix/rarest-k aggregates need to
    * know their k from the first row they see; Catalyst prunes it from
    * the dfreq and index consumers. The verify stages threshold on
    * hash-ARRAY sizes (size(tokset)), so under a within-doc 64-bit
    * collision n_str exceeds n_hash by the collision count and the two
    * stages could disagree on a pair whose ratio sits within
    * ~collisions/n of the threshold — a ~n²/2⁶⁵ event, deterministic, so
    * a PropertySpec flake means exactly this. charShingles is distinct
    * per doc, so (doc_id, tok) rows are already unique — no row-level
    * distinct/shuffle needed.
    *
    * The PROBE side (`toks`: dfreq + prefix/rarest-k aggregates) has two
    * consumers (the dfreq aggregate and the join against it); whether to
    * materialize this corpus-sized table between them is dispatched
    * under EITHER of two gates (r16, restoring the r14 band the r15
    * narrowing lost — q245 regressed 3.4–4.2 → 6.7 s when sf0.1-shaped
    * inputs fell between the 40 MB danger zone and the 512 MB perf
    * bound):
    *   - [[Spread.small]], for REUSE — measured at sf0.1 shape (5k docs /
    *     1.35M shingle rows, local[32]): recompute both branches 8.0 s
    *     warm, localCheckpoint toks 3.4 s; a dfreq count-window over tok
    *     (1.8 s) was REJECTED — a window partition cannot be split, so
    *     one corpus-hot shingle (a stopword 8-gram in ~every doc) becomes
    *     an unbounded straggler at 100 TB, whereas the aggregate/join
    *     pair stays splittable (partial agg collapses the hot key; AQE
    *     splits the join side);
    *   - [[inBroadcastDangerZone]], for HONEST STATS (r15): Catalyst's
    *     static size estimate is content-blind through Generate (no
    *     fan-out model), so a small parquet input estimated the 21M-row
    *     exploded table under the broadcast threshold and the initial
    *     plan BROADCAST the fan-out side of the dfreq join (measured 3×
    *     the whole prefix stage on the 10× rehearsal; at worst a driver
    *     OOM). A checkpointed RDD scan carries its REAL byte size, the
    *     static plan stays a shuffle join, and AQE still upgrades the
    *     dictionary side to broadcast from actual runtime sizes.
    * Above both, recompute — one extra column-pruned scan + native
    * shingling pass beats pinning a corpus-sized intermediate in
    * executor storage.
    *
    * The INDEX side (`toksPlan`) keeps the recomputed plan: its join
    * prunes the recomputed scan and pipelines (the r11 containment
    * measurement that rejected a full checkpoint here), and it never
    * joins against a misestimated side.
    *
    * Lifecycle: the returned tables read the checkpoint blocks lazily,
    * so they cannot be unpersisted here; Verify/Bench release all
    * persistent RDDs after each query's result is consumed, and other
    * callers rely on ContextCleaner GC (the blocks are bounded by the
    * dispatch above). */
  private[graft] def shingleFront(docs: DataFrame, idCol: String,
      textCol: String): Front = {
    // fan a narrower-than-cores scan out first (single-row-group test
    // file; a real corpus has plenty of scan partitions and skips this
    // shuffle)
    val spread = Spread.fanOutScan(docs, col(idCol))
    val base = spread.filter(length(trim(col(textCol))) > 0)
    val toksPlan = shingleToksPlan(base, idCol, textCol)
    val inputSmall = Spread.small(spread)
    val toks =
      if (inputSmall || inBroadcastDangerZone(toksPlan))
        toksPlan.localCheckpoint()
      else toksPlan
    // dfreq is consumed twice (probe/prefix join + index-side filter),
    // but pinning it was MEASURED SLOWER (r21 A/B, 3× interleaved fresh
    // JVMs: q154 5.57→6.13 s, q259 4.25→4.62 s min): the extra
    // synchronous checkpoint job serializes what AQE otherwise overlaps
    // with the downstream joins, and the re-aggregation over the pinned
    // toks table is cheap. Keep the recompute.
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    Front(toks, toksPlan, dfreq, inputSmall)
  }

  /** Per-doc rarest-p prefix shingles of a [[shingleFront]] as
    * (doc_id, n, tok) rows: the front half of [[prefixJaccardPairs]] and
    * [[prefixHotness]]. */
  private def prefixToks(f: Front): DataFrame =
    // per-doc rarest-p prefix WITHOUT a global sort-window: hash-aggregate
    // each doc's (dfreq, tok) pairs through the native bounded k-min
    // aggregate (prefix_min_k, r14 judge item 2 — struct compare = dfreq
    // then binary tok, the same order the oracle's row_number uses). The
    // doc-side shuffle carries each doc once instead of once per tok, the
    // partial buffer is BOUNDED at the prefix length k ≈ (1−t)·n (the
    // collect_list + array_sort + slice form it replaces shipped all n
    // structs per doc and sorted the full array — P121 attributed ~50% of
    // the chain to it), and no n-element array is ever materialized.
    // dfreq is distinct-shingle-sized. Do NOT force a broadcast here:
    // the dictionary's size tracks corpus CONTENT, not input bytes (a
    // 15 MB content-dense synthetic corpus produced a multi-million-row
    // dictionary and a forced broadcast regressed the 10× rehearsal
    // 33 → 53 s, r11) — AQE sees the aggregate's actual output size and
    // converts this join to a broadcast hash join exactly when the
    // dictionary is genuinely small, which is the repetitive-corpus case
    // where it helps.
    f.toks
      .join(f.dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(graft.functions.PrefixMinK.column(JaccardNum, JaccardDen)(
        col("n"), col("dfreq"), col("tok")).as("pk"))
      .select(col("doc_id"), col("pk.n").as("n"),
        explode(col("pk.items")).as("x"))
      .select(col("doc_id"), col("n"), col("x.tok").as("tok"))

  /** Prefix-hotness diagnostic for choosing [[prefixJaccardPairs]]'s
    * `maxDocsPerTok` cap on an unfamiliar corpus: the distribution of
    * nd = how many documents' PREFIXES carry each shingle, as
    * (nd, n_toks) rows sorted hot-first. The cap's recall bound reads
    * from this distribution — a cluster of m members whose shared
    * shingles ALL sit at nd ≈ m loses every pair under a cap below m.
    * That is the WORST case (identical documents, no unique material):
    * a candidate pair needs only ONE shared below-cap prefix token, and
    * realistic near-dups carry them — shingles spanning the shared/
    * unique-text boundary land at nd ≪ m (measured: the 200-member
    * boilerplate cluster kept all 19,900 pairs under a cap of 199 at
    * the 100k-doc rehearsal, connected entirely through sub-cap
    * boundary shingles). Read the tail: the largest nd well below
    * corpus size is the biggest genuine cluster — cap above it for a
    * worst-case-safe recall floor; capping below trades recall only
    * for identical-payload families. An nd near the corpus size is template/boilerplate structure
    * (every document near-dup of every other), which is q95/q196's job
    * to strip, not a pairwise-dedup cap to chase. Aggregates only
    * (shuffles by tok then by nd, both with map-side partial
    * aggregation), so the diagnostic is linear in corpus shingles and
    * safe to run — or to run on a sample — before committing to the
    * quadratic-in-cluster-size candidate join.
    *
    * `sample` makes the run-on-a-sample guidance executable (r15 VERDICT
    * depth item 8) instead of a comment the caller re-implements: a
    * DETERMINISTIC row predicate applied before the chain, e.g.
    * `pmod(xxhash64(col("doc_id")), lit(100)) < lit(5)` for a 5% hash-mod
    * sample (hash-mod, not `rand()` — reruns and retried tasks must see
    * the same rows). Sampling scales nd down by roughly the sample rate:
    * a cluster of m members keeps ≈ m×rate members, so read the tail cap
    * at nd/rate, and clusters smaller than ~1/rate fade below nd = 2 —
    * the cap question the diagnostic answers concerns the LARGEST
    * clusters, exactly the ones a sample preserves. */
  def prefixHotness(docs: DataFrame, idCol: String, textCol: String,
      sample: Option[Column] = None): DataFrame =
    prefixToks(shingleFront(sample.map(docs.filter).getOrElse(docs), idCol,
      textCol))
      .groupBy(col("tok")).agg(count(lit(1)).as("nd"))
      .groupBy(col("nd")).agg(count(lit(1)).as("n_toks"))
      .orderBy(col("nd").desc)

  /** Prefix-filtered shingle-set similarity join (PPJoin-style). The naive
    * shingle equi-join explodes on frequent shingles; here each document
    * joins only on its `p = n - ceil(t·n) + 1` globally-RAREST shingles
    * (ascending document frequency, shingle as tiebreaker). Any two sets
    * with Jaccard ≥ t must share at least one prefix element (if the
    * prefixes were disjoint, the overlap is at most n - p < t·n ≤ the
    * overlap bound), so the prefix filter ALONE loses nothing —
    * candidates just shrink from hot-shingle quadratic to rare-shingle
    * buckets. Combined with `maxDocsPerTok` below, overall recall is
    * exact-up-to-the-cap, NOT unconditionally exact: a qualifying pair
    * whose every shared prefix shingle sits in more than `maxDocsPerTok`
    * documents' prefixes is missed — concretely, every pair inside a
    * near-dup cluster LARGER than the cap (see the cap paragraph;
    * DedupSimilaritySpec "prefix cap recall bound" demonstrates it). The set element is a
    * char 8-gram (sequence-sensitive; distinct WORD sets are
    * degenerate on template-heavy corpora — measured 71k/125k pairs at
    * t=3/5 vs exactly the 25 true near-dup pairs with 8-grams). Threshold
    * t = 3/5; ceil and the final filter are pure integer
    * arithmetic (`(3n+4) div 5`, `5·inter ≥ 3·union`) so both engines
    * threshold identically — the double `jacc` column is display-only.
    *
    * `maxDocsPerTok` is the same skew-cap contract as the LSH chain's
    * `maxBucket`: prefix shingles present in more than that many documents
    * are dropped from the candidate join (a template corpus can make even
    * the per-doc-RAREST shingles corpus-hot — measured Σc² = 90M join rows
    * uncapped vs 0.9M at cap 20 on sf0.1, a 318 s → seconds difference).
    * The recall bound: a pair is found iff it shares ≥1 prefix shingle
    * that is in ≤ cap documents' prefixes. A shingle can only be
    * prefix-hot if the documents carrying it in their prefixes are
    * (near-)mutual near-dups — the prefix keeps a doc's RAREST 2/5, so a
    * doc with enough unique content pushes shared shingles out of its
    * prefix — which means the pairs lost to the cap are exactly the pairs
    * inside near-dup clusters larger than the cap (measured: all 255 true
    * pairs kept at cap 20 on sf0.1, where the largest cluster is 2). On a
    * corpus with bigger clusters, raise the cap above the cluster size
    * (cost grows as Σ nd² over capped shingles) or recover them from the
    * exact-dup/MinHash chain — do NOT assume unconditional exactness.
    * Don't shrink the cap below the expected
    * near-dup CLUSTER size: members of an m-way cluster share rare
    * shingles with document frequency m (measured at sf0.1: cap 5 kept
    * 49/255 true pairs, cap 20 kept all). The cap is mirrored in the
    * oracle.
    *
    * Scale shape: shingles shuffle by value (df count + candidate join)
    * and by doc_id (the bounded PrefixMinK prefix aggregate). Exact
    * verification never re-explodes shingles: each candidate pair
    * merge-scans the two documents' sorted distinct shingle-HASH arrays
    * (native `sorted_intersect_count` — no boxed hash set per row), so
    * verify cost is candidates × set size and only candidate members'
    * compact hash arrays ever move. Hash collisions within one document
    * (~n²/2⁶⁵) are the only way this can diverge from string-set
    * Jaccard — negligible and deterministic.
    *
    * A non-positive `maxDocsPerTok` is refused: it would keep no prefix
    * token, and so return no pairs. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDocsPerTok: Int = MaxDocsPerTok): DataFrame = {
    require(maxDocsPerTok > 0, s"maxDocsPerTok must be > 0: $maxDocsPerTok")
    val f = shingleFront(docs, idCol, textCol)
    val prefixPre0 = prefixToks(f)
    // the r11 dispatch: pin the prefix table under the input bound, where
    // the nd aggregate and the keep join below both read it
    val prefixPre =
      if (f.inputSmall) prefixPre0.localCheckpoint() else prefixPre0
    // cap-hot prefix tokens via aggregate + semi-join, NOT a count
    // window: the partial aggregate collapses a corpus-hot prefix token
    // map-side and the join stays splittable, where a window partition
    // by tok cannot be split — the same at-scale reason the count-window
    // dfreq variant was rejected above (the prefix biases toward rare
    // shingles, but "rare" is a per-doc rank, not a global bound, so a
    // hot-partition guarantee needs the aggregate shape).
    val keepToks = prefixPre.groupBy(col("tok"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= maxDocsPerTok).select(col("tok"))
    val prefix = prefixPre
      .join(keepToks, "tok") // AQE broadcasts when actually small (above)
      .select(col("doc_id"), col("n"), col("tok"))
      // tiny (≤ prefix size per doc, cap per shingle) and consumed by
      // BOTH sides of the candidate self-join — materialize once so
      // the chain above doesn't run twice
      .localCheckpoint()
    // PPJoin length filter at the CANDIDATE level: jacc = I/U ≤
    // min/max (I ≤ min(n_a,n_b), U ≥ max), so a pair with min·5 <
    // max·3 cannot pass the exact threshold — dropped here, BEFORE
    // the distinct shuffle and before the per-doc shingle arrays are
    // hauled through the verify join (~1/3 of sf0.1 candidates die;
    // exact math, so the oracle is untouched).
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.n"), col("b.n")) * JaccardDen >=
        greatest(col("a.n"), col("b.n")) * JaccardNum)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    jaccardVerify(docs, idCol, textCol, cand, f.inputSmall)
  }

  /** Exact-Jaccard verify stage of [[prefixJaccardPairs]]: candidates
    * (d1, d2) join the per-doc sorted shingle-hash arrays and every pair is
    * re-checked against the exact integer threshold, so the candidate
    * generator can only cost recall, never precision. */
  private def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
      cand: DataFrame, inputSmall: Boolean): DataFrame = {
    val (candSpread, arrsV) = verifyArrs(docs, idCol, textCol, cand, inputSmall)
    candSpread
      .join(arrsV.as("sa"), col("sa.doc_id") === col("d1"))
      .join(arrsV.as("sb"), col("sb.doc_id") === col("d2"))
      .withColumn("n_inter",
        TextFunctions.sortedIntersectCount(col("sa.tokset"), col("sb.tokset")))
      .filter(col("n_inter") * JaccardDen >=
        (col("sa.n") + col("sb.n") - col("n_inter")) * JaccardNum)
      .select(col("d1").as("id_a"), col("d2").as("id_b"),
        col("n_inter").cast("long").as("n_inter"),
        col("sa.n").cast("long").as("n_a"), col("sb.n").cast("long").as("n_b"),
        (col("n_inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("n_inter")).cast("double")).as("jacc"))
  }

  /** The exact verifies' shared inputs ([[jaccardVerify]],
    * [[containmentVerify]]): the candidates, respread to the core count
    * when `inputSmall`, and the per-doc sorted shingle-hash arrays
    * (doc_id, tokset, n), broadcast when [[maybeBroadcastArrs]] admits
    * them. Each verify keeps its own joins and threshold. */
  private def verifyArrs(docs: DataFrame, idCol: String, textCol: String,
      cand: DataFrame, inputSmall: Boolean): (DataFrame, DataFrame) = {
    // The verify stage is CPU-dense per BYTE (a merge scan of two ~n-
    // element hash arrays per pair), so AQE's bytes-based coalescing
    // under-parallelizes it when the candidate table is small on disk —
    // respread to the core count under the same input bound. At scale
    // the candidate exchange is large and AQE sizes it correctly.
    val candSpread = if (inputSmall)
      cand.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    else cand
    // compact per-doc shingle-hash sets — one row per doc, no re-explode.
    // Spread a narrower-than-cores scan first (r22, the shingle front's
    // fan-out): the hash-array pass is the query's single most CPU-dense
    // per-doc computation, and when maybeBroadcastArrs broadcasts, the
    // build executes this subtree AT THE SCAN'S OWN parallelism — on a
    // single-row-group corpus file that was ONE task (measured: q121's
    // per-job timeline shows a 3.3 s serial broadcast build as the
    // query's long pole, every other job done 2.5 s earlier). A real
    // corpus has plenty of scan partitions and skips this shuffle.
    val arrs = Spread.fanOutScan(docs, col(idCol))
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        TextFunctions.charShingleHashes(
          TextFunctions.normalize(col(textCol)), ShingleK).as("tokset"))
      .withColumn("n", size(col("tokset")))
    (candSpread, maybeBroadcastArrs(docs, textCol, arrs))
  }

  /** Static-estimate danger zone for the exploded-toks joins (r15): the
    * honest-stats checkpoint is needed exactly when Catalyst's
    * content-blind estimate (no fan-out model through Generate) could
    * drop the exploded side under the broadcast threshold and the
    * initial plan would broadcast a huge fan-out (measured 3× the prefix
    * stage; at worst a driver OOM). Above 4× the threshold the static
    * plan is already a shuffle join and the checkpoint would only PIN
    * the exploded table in the block manager — at the 100× rehearsal
    * that pin (plus the rest of the chain's scratch) overran the local
    * disk. 4× margin absorbs estimate wobble; a disabled threshold
    * (-1 = broadcast off) means no trap and no checkpoint. */
  private def inBroadcastDangerZone(toksPlan: DataFrame): Boolean = {
    val thr = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      toksPlan.sparkSession.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    thr > 0 &&
      toksPlan.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(4L) * BigInt(thr)
  }

  /** Verify-side broadcast dispatch (r15, found by the 100× rehearsal):
    * the verify stage joins the candidate pairs against the per-doc
    * shingle-hash table TWICE (once per endpoint), and in the shuffle
    * shape the SECOND join re-exchanges the candidate stream with the
    * first endpoint's hash ARRAY attached — one ~n-long array PER
    * CANDIDATE through an exchange. At 50k docs that was an unnoticed
    * ~16 GB of shuffle; at 500k docs it was ~250 GB and a disk-full
    * abort. Broadcasting the arrs table instead ships one array per DOC
    * per executor (candidates/docs ≈ 20×, so ~20× less data, and the
    * candidate stream pipelines through both joins with NO exchange).
    * Gate: a bounded probe over the RAW docs side (one limit+agg job on
    * the source scan — probing arrs would compute every doc's hash array
    * just to decide whether to broadcast it) vs a heap-proportional byte
    * budget. The probe reads ACTUAL text lengths, not an assumed
    * bytes/doc (r15 ADVICE — a long-doc corpus blows a fixed 4 KB/doc
    * assumption by 8×+ and aborts on the broadcast size limit where the
    * shuffle shape would have completed): the payload is one 8-byte hash
    * per distinct shingle ≤ 8 × text chars, doubled for row/array
    * overhead in the broadcast relation. When the row bound holds the
    * limit covered every doc, so the char total is exact, not a sample.
    * Past either bound the shuffle shape is the honest at-scale cost and
    * a cluster sizes its scratch disks for it. */
  private def maybeBroadcastArrs(docs: DataFrame, textCol: String,
      arrs: DataFrame): DataFrame = {
    // a driver-side broadcast build also collects the table through
    // spark.driver.maxResultSize — gate on BOTH limits (half/eighth for
    // headroom), or the dispatch trades a disk-full abort for a
    // maxResultSize abort (observed at the 100x rehearsal)
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      docs.sparkSession.conf.get("spark.driver.maxResultSize", "1g"))
    val budgetBytes =
      math.min(Runtime.getRuntime.maxMemory() / 8L,
        if (maxResult <= 0) Long.MaxValue else maxResult / 2L)
    // row cap only bounds the probe scan; 1 KB/doc floor keeps it from
    // rejecting tiny-doc corpora the byte budget below would admit
    val cap = math.min(budgetBytes / 1024L, Int.MaxValue.toLong - 1).toInt
    // project length BEFORE the limit (r16 ADVICE): limit(cap+1) funnels
    // its input through a single-partition exchange, and with the raw
    // docs as input that exchange carried cap+1 FULL text payloads —
    // many GB through one task on a long-doc corpus, in the gate whose
    // whole job is avoiding a heavy job. One 8-byte length per row
    // crosses instead; count/sum semantics are identical.
    val probe = docs.select(length(col(textCol)).cast("long").as("len"))
      .limit(cap + 1)
      .agg(count(lit(1)).as("n"), sum(col("len")).as("chars")).head()
    val nDocs = probe.getLong(0)
    val chars = if (probe.isNullAt(1)) 0L else probe.getLong(1)
    // ÷48, not ÷16 (r16, measured on the halved-heap grid): the verify
    // stage builds the broadcast relation for BOTH endpoint joins, and a
    // hashed relation costs ~3× the raw hash bytes — so the heap holds
    // ~6× (8 B/char) = 48× chars at peak. The ÷16 gate admitted a 128 MB
    // payload on a 4 GB heap and Spark aborted the build ("Not enough
    // memory to build and broadcast"), a cliff where the shuffle shape
    // degrades; ÷48 routes that case to the shuffle (12.5%-of-heap
    // ceiling: 4 g/16 M chars now rejects, 48 g/64 M chars — the 200k
    // ladder arm, measured working — still broadcasts).
    val small = nDocs <= cap && chars <= budgetBytes / 48L
    if (small) broadcast(arrs) else arrs
  }

  /** Directed containment join — the ASYMMETRIC sibling of
    * [[prefixJaccardPairs]]: emit (sub, sup) where C(sub→sup) =
    * |S_sub ∩ S_sup| / |S_sub| ≥ 3/4 over char 8-gram shingle
    * sets. Jaccard misses exactly these pairs: a short doc quoted inside
    * a much longer one has high containment but low Jaccard (the union is
    * dominated by the long doc), and it's the quote/partial-copy/expansion
    * relation a crawl dedup actually wants directed.
    *
    * Prefix filter, containment form: if C(A→B) ≥ t then at most
    * n_A − ⌈t·n_A⌉ of A's shingles are missing from B, so among A's
    * rarest n_A − ⌈t·n_A⌉ + 1 shingles (same slice formula as the Jaccard
    * prefix) at least one lands ANYWHERE in B — hence the probe side is
    * A's prefix but the index side must be B's FULL token table. That
    * asymmetry is affordable because the join key equality forces index
    * postings onto the probe's rare shingles: tokens with document
    * frequency > `maxDocsPerTok` are dropped from the probe prefix
    * (capped-recall contract as in [[prefixJaccardPairs]] — a pair whose
    * every prefix witness is corpus-hot is lost; the cap is mirrored in
    * the oracle), so every surviving posting list has ≤ cap entries and
    * the candidate join is Σ_{rare tok} (prefix_ct × dfreq), never
    * all-pairs. The index side is pre-filtered to the same rare tokens —
    * semantically a no-op given the equality, but it keeps hot-token rows
    * out of the exchange.
    *
    * Verification is exact and never re-explodes: candidates merge-scan
    * the two docs' sorted shingle-hash arrays (native
    * `sorted_intersect_count`), C = n_inter/n_sub as one IEEE divide of
    * exact ints. Both directions of a mutual near-dup emit.
    *
    * A non-positive `maxDocsPerTok` is refused: it would keep no probe
    * token, and so return no pairs. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDocsPerTok: Int = MaxDocsPerTok): DataFrame = {
    require(maxDocsPerTok > 0, s"maxDocsPerTok must be > 0: $maxDocsPerTok")
    val f = shingleFront(docs, idCol, textCol)
    // probe prefix: the rarest n − ceil(t·n) + 1 shingles by global dfreq
    containmentVerify(docs, idCol, textCol,
      probeCandidates(f, graft.functions.PrefixMinK.column(ContainNum,
        ContainDen), maxDocsPerTok),
      f.inputSmall)
  }

  /** One-sided probe width (r20): each prospective SUB doc probes
    * its k globally-rarest char shingles. Recall contract: a pair at
    * containment exactly t is missed only when ALL k probed shingles
    * fall in the sub's missing (1−t) fraction — ≤ (1−t)^k when misses
    * are independent of rarity rank (1.5e-5 at t=3/4, 0.4% at t=1/2, at
    * k=8); EXACT (the full prefix guarantee) for subs with
    * n − ⌈t·n⌉ + 1 ≤ k shingles — the quote/snippet class the probe
    * exists for. Adversarial caveat: a sup that strips precisely the
    * sub's rarest shingles (a template-cleaned copy) defeats the
    * heuristic; [[containmentPairs]]' full prefix keeps the exact-prefix
    * guarantee for that shape. */
  private val OneSidedProbeK = 8

  /** Directed (sub, sup) candidates of the containment joins: each doc's
    * probe tokens — `pick` over its (n, dfreq, tok) rows: the rarest
    * prefix, or the rarest k — that sit in at most `maxDocsPerTok` docs,
    * joined against the full token index, distinct. `pick` is a native
    * bounded k-min aggregate (no cluster-wide sort, no full per-doc array
    * — the partial buffer caps at the probe length, see PrefixMinK). */
  private def probeCandidates(f: Front,
      pick: (Column, Column, Column) => Column,
      maxDocsPerTok: Int): DataFrame = {
    val probe = f.toks.join(f.dfreq, "tok")
      .groupBy(col("doc_id"))
      .agg(pick(col("n"), col("dfreq"), col("tok")).as("pk"))
      .select(col("doc_id"), explode(col("pk.items")).as("x"))
      .select(col("doc_id"), col("x.dfreq").as("dfreq"),
        col("x.tok").as("tok"))
    // index side: the RECOMPUTED token plan, not the checkpoint — its join
    // prunes the recomputed scan and pipelines (tools/P154, r11: full
    // checkpoint here measured 5.3-5.4 s vs 4.1-4.5 s recomputing), and
    // the kept-token build side is a real aggregate whose size AQE reads
    // at runtime. Pre-filtering it to sub-cap tokens is a no-op under the
    // join equality, but it keeps hot-token rows out of the exchange.
    val index = f.toksPlan.join(
      f.dfreq.filter(col("dfreq") <= maxDocsPerTok).select(col("tok")), "tok")
    probe.filter(col("dfreq") <= maxDocsPerTok)
      .select(col("doc_id"), col("tok")).as("a")
      .join(index.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("sub"), col("b.doc_id").as("sup"))
      .distinct()
  }

  /** Union of two candidate generators through one exact containment
    * verify (the q261 contract): md5-lane banded candidates
    * ([[minhashCandidatesPortable]] — every hash md5/substring/MIN,
    * semantics a DuckDB oracle reproduces verbatim) in BOTH directions,
    * unioned with the one-sided rarest-k candidates at an explicit dfreq
    * cap (the `row_number() ≤ k AND dfreq ≤ cap` mirror), distinct — the
    * generators overlap on pairs that are both near-identical and
    * mutually containing — through ONE shared exact verify.
    *
    * The two generators are COMPLEMENTARY, not substitutes. Banded
    * collision ≈ 1−(1−J²)^8 is blind to asymmetric pairs (0.2% measured
    * at J≈0.03, BASELINE casym) but nails near-identical families (97.7%
    * at J 0.59); the rarest-k probe nails quotes (a tiny sub's rarest
    * shingles sit at dfreq≈2 — found for free) but is adversarially
    * wrong on near-identical families, where each member's rarest
    * shingles are its own unique tail — exactly the shingles MISSING
    * from every other member. */
  def containmentUnionPortable(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val f = shingleFront(docs, idCol, textCol)
    // 8 bands of 2 lanes (collision 1−(1−J²)⁸) — the q29-default 4×4
    // layout measurably misses ~5 of the spec corpus's 1560 family pairs
    // ((1−J⁴)⁴ at J≈0.86), which the one-sided leg cannot recover
    // (blind to families by design)
    val sym = minhashCandidatesPortable(docs, idCol, textCol, bands = 8)
    containmentVerify(docs, idCol, textCol,
      sym.select(col("id_a").as("sub"), col("id_b").as("sup"))
        .unionByName(sym.select(col("id_b").as("sub"), col("id_a").as("sup")))
        .unionByName(probeCandidates(f,
          graft.functions.PrefixMinK.columnK(OneSidedProbeK), MaxDocsPerTok))
        .distinct(),
      f.inputSmall)
  }

  /** The ONE-SIDED containment join (r20 — the asymmetric-recall path
    * banded candidates measurably lack: BASELINE casym, 0.2% banded
    * recall at J≈0.03 vs 100% for the 19×-wall/225×-scratch exact
    * join). Candidates come from the SUBSET side only: each doc probes
    * its [[OneSidedProbeK]] globally-rarest char 8-gram shingles
    * (native bounded `rarest_min_k` aggregate — the map-side partial
    * never holds more than k pairs) against the FULL token index,
    * capped at `maxDocsPerTok`. A tiny-quote sub probes dfreq≈2
    * shingles by construction, so its posting lists — and hence the
    * whole quote-in-doc candidate class — are cheap no matter how large
    * the corpus: candidate volume is EXACTLY Σ dfreq over kept probe
    * rows. Verification is the shared exact merge-scan
    * ([[containmentVerify]]); candidate generation costs recall only,
    * never precision. Both directions of a mutual near-dup emit (every
    * doc probes as its own sub).
    *
    * The quote-in-doc/contamination check q259 runs. Oracle-mirrorable:
    * probe = `row_number() OVER (PARTITION BY doc ORDER BY dfreq, tok) ≤
    * 8 AND dfreq ≤ cap`. A non-positive `maxDocsPerTok` is refused:
    * it would keep no probe token, and so return no pairs. */
  def containmentPairsOneSided(docs: DataFrame, idCol: String,
      textCol: String, maxDocsPerTok: Int = MaxDocsPerTok): DataFrame = {
    require(maxDocsPerTok > 0, s"maxDocsPerTok must be > 0: $maxDocsPerTok")
    val f = shingleFront(docs, idCol, textCol)
    containmentVerify(docs, idCol, textCol,
      probeCandidates(f, graft.functions.PrefixMinK.columnK(OneSidedProbeK),
        maxDocsPerTok),
      f.inputSmall)
  }

  /** Exact directed-containment verify stage shared by the containment
    * joins: candidates (sub, sup) join the per-doc sorted shingle-hash
    * arrays and C(sub→sup) = I/n_sub is re-checked against the exact
    * integer threshold — candidate generators cost recall only, never
    * precision. */
  private def containmentVerify(docs: DataFrame, idCol: String,
      textCol: String, cand0: DataFrame, inputSmall: Boolean): DataFrame = {
    val (cand, arrsV) = verifyArrs(docs, idCol, textCol, cand0, inputSmall)
    cand
      .join(arrsV.as("sa"), col("sa.doc_id") === col("sub"))
      .join(arrsV.as("sb"), col("sb.doc_id") === col("sup"))
      // length pre-filter, exact: I ≤ n_sup, so C = I/n_sub ≥ t forces
      // 4·n_sup ≥ 3·n_sub — a sup much shorter than its sub cannot
      // contain it. Kills the pair on two carried ints BEFORE the
      // merge-scan of the hash arrays (the PPJoin-filter idea, containment
      // form); implied by the exact threshold below, so oracle untouched.
      .filter(col("sb.n") * ContainDen >= col("sa.n") * ContainNum)
      .withColumn("n_inter",
        TextFunctions.sortedIntersectCount(col("sa.tokset"), col("sb.tokset")))
      .filter(col("n_inter") * ContainDen >= col("sa.n") * ContainNum)
      .select(col("sub").as("id_sub"), col("sup").as("id_sup"),
        col("n_inter").cast("long").as("n_inter"),
        col("sa.n").cast("long").as("n_sub"),
        col("sb.n").cast("long").as("n_sup"),
        (col("n_inter").cast("double") / col("sa.n").cast("double"))
          .as("cont_r"))
  }

  /** PRE-checkpoint variant builder of [[editDistanceJoin]] — the
    * plan-lock surface (r21, same rationale as [[spanGramsPlan]]). */
  private[graft] def deletionVariantsPlan(base: DataFrame): DataFrame =
    base.select(col("id"),
      explode(graft.functions.ShingleOps.deletionVariantsCol(col("s"))).as("v"))
      .distinct()

  /** Edit-distance-1 self-join — CHARACTER-level record linkage (ID typos,
    * OCR noise), the scalable complement of a key-blocked levenshtein join
    * (q49 blocks on brand; this needs no blocking key). Emits unordered
    * pairs (id_a < id_b) with levenshtein ≤ 1 — EXACT, no recall cap.
    *
    * Candidate scheme: deletion neighborhood (SymSpell/FastSS). Each
    * string explodes into itself plus its `len` single-deletion variants;
    * two strings are within edit distance 1 iff their neighborhoods
    * intersect (substitution at i → both delete position i; insertion in
    * b → deleting it recovers a, which is its own variant; equality is
    * the identity variant). Gram/prefix filters need frequency caps on
    * templated vocabularies — this needs none: the blow-up is a LINEAR
    * ×(len+1) explode, variant posting lists are bounded by the true
    * near-match density, and the exact `levenshtein` verify touches only
    * genuine candidates. Long strings should be pre-hashed to a bounded
    * key prefix upstream if `len` is unbounded (the scheme targets short
    * identifier-like strings). */
  def editDistanceJoin(rows: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val base = rows.select(col(idCol).as("id"), col(strCol).as("s"))
    // index 0 keeps the string itself; 1..len delete character i — native
    // codegen'd pass (ShingleOps.deletionVariants): the HOF transform/
    // substring formulation evaluated its lambda interpreted len+1 times
    // per string (PropertySpec pins the equivalence)
    // both sides of the self-join consume the variant table — pin the
    // ×(len+1) explode + distinct once under the small-input gate (r21,
    // guide §1.2; same dispatch as the shingle fronts), recompute at scale
    val variantsPlan = deletionVariantsPlan(base)
    val variants = Spread.pinIfSmall(rows)(variantsPlan)
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Keeper selection — the step that turns near-dup CLUSTERS into an
    * actual deduplicated corpus: per cluster, keep the member with the
    * highest `weightCol` (ties → smallest id). `members` is
    * [[connectedComponents]] output joined with a per-doc weight (token
    * count, quality score, …). One shuffle on `cluster`; the ranking
    * window is partitioned, never global. Returns
    * (cluster, keeper, keeper_weight, n_members). */
  def selectKeepers(members: DataFrame, idCol: String,
      weightCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(weightCol).desc, col(idCol).asc)
    members
      .withColumn("_keeper_rnk", row_number().over(w))
      .withColumn("_keeper_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
      .filter(col("_keeper_rnk") === 1)
      .select(col("cluster"), col(idCol).as("keeper"),
        col(weightCol).cast("long").as("keeper_weight"),
        col("_keeper_n").cast("long").as("n_members"))
  }

  /** Line-level corpus dedup (the CCNet/RefinedWeb cleanup): drop every
    * LINE that appears in ≥ 2 distinct documents (headers,
    * footers, cookie banners, navigation), keep the rest of each document
    * in original order. Complements [[boilerplateSpans]] (which MEASURES
    * n-gram boilerplate); this one REWRITES the text, line-granular.
    *
    * Returns (idCol, text_clean, n_lines, n_dropped); a document whose
    * every line is corpus-hot comes back with empty text_clean, still one
    * row. Exact by construction — no hashing, the line string itself is
    * the key (hash the line first at scales where line strings dominate
    * the shuffle; the shape is unchanged).
    *
    * Scale: one (line → distinct-doc count) aggregate (two-level, partial
    * map-side), an anti-join of (doc, pos, line) rows against the hot-line
    * dictionary (vocabulary-bounded — AQE broadcasts it), and one groupBy
    * per doc whose `array_sort` over (pos, line) structs restores order
    * without a window. Documents never move whole; lines do. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the newline is a LITERAL separator (quoted — Spark's split takes a
    // regex)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote("\n"), -1)).as(Seq("pos", "line")))
    val hot = lines.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("line"))
    val kept = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), "\n").as("text_clean"))
    val totals = lines.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines").cast("long").as("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_dropped"))
  }

  /** PRE-checkpoint gram builder of [[duplicatedSpanRemoval]] — the
    * plan-lock surface (r21): after the gated pin the word_grams kernel
    * no longer shows in the operator's FINAL plan, so ScaleSpec asserts
    * codegen/shape here, on the plan that actually computes the pass
    * (the r16 rule: assert on the builder, not past a checkpoint). */
  private[graft] def spanGramsPlan(base: DataFrame, gramN: Int): DataFrame =
    base.filter(size(col("toks")) >= gramN)
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordShinglesRaw(col("toks"), gramN)))
      .toDF("doc_id", "s", "g")

  /** Exact duplicated-SPAN removal — the REWRITE arm of the substring-dedup
    * family (the "ExactSubstr" cleanup of Lee et al. 2022, word-aligned):
    * any 5-word n-gram appearing in ≥ 2 distinct documents
    * marks every token it covers as duplicated; each document is rewritten
    * with all covered tokens removed. Overlapping hot grams merge
    * naturally (a token is dropped if ANY covering gram is hot), so a long
    * copied passage disappears wholesale while the unique remainder of the
    * document survives in original order. Complements [[lineDedup]]
    * (line-granular, exact-match lines only) and [[boilerplateSpans]]
    * (which MEASURES n-gram boilerplate but rewrites nothing): a copied
    * paragraph with re-wrapped line breaks defeats line identity but not
    * word n-grams.
    *
    * Tokenization is `split(trim(lower(text)), "\\s+")` — the engine's
    * shared oracle-portable tokenizer (q64 precedent). Output per input
    * doc (empty-text docs excluded): (doc_id, n_tokens, n_dropped,
    * text_clean), with text_clean = kept tokens joined by single spaces
    * (normalized, as with lineDedup's rewrite).
    *
    * Scale: the gram dictionary groups by the gram STRING (exact by
    * construction; hash grams to 64-bit first at scales where gram
    * strings dominate the shuffle — same shape, same note as
    * [[lineDedup]]). Per-doc hot-start lists are bounded by document
    * length, collected on the doc_id partition, never global. The
    * rewrite is a per-row lambda, O(tokens × hot-spans) worst case per
    * document — no shuffle beyond the dictionary join and one groupBy
    * per side. A document never moves whole through the gram exchange;
    * only (gram, doc, pos) rows do. */
  def duplicatedSpanRemoval(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val gramN = 5
    // fanOutScan measured NEGATIVE here (r22: q196 +0.36, q200 +0.37
    // min-of-3 interleaved) — the split+gram pass is cheaper than the
    // text shuffle the spread adds. Left unspread (see Spread.fanOutScan).
    val base = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
    // native gram pass (ShingleOps.wordGrams): the HOF transform/slice/
    // concat_ws formulation evaluates its lambda interpreted per gram —
    // corpus × ~n_tok interpreted evals, run TWICE here (grams feeds both
    // the dictionary aggregate and the starts join). posexplode's pos =
    // gram start index in toks. r21 (guide §1.2): under the same proven
    // input-size bound the shingle front uses ([[shingleToksPlan]]'s
    // checkpoint dispatch), pin the gram table once instead of running
    // the explode+gram pass twice; above the bound, recompute — the
    // at-scale posture, nothing corpus-content-sized pinned in the block
    // manager (measured min-of-3: 1.11 → 0.96 s for the q196 body at
    // sf0.1; the recompute branch is unchanged).
    val gramsPlan = spanGramsPlan(base, gramN)
    val grams = Spread.pinIfSmall(docs)(gramsPlan)
    val hot = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"))
    val starts = grams.join(hot, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("starts"))
    base.join(starts, Seq("doc_id"), "left")
      // typedLit (not CAST(array() AS ARRAY<INT>)): the DDL cast parses as
      // containsNull=true, which token_span_filter now rejects at analysis
      .withColumn("st",
        coalesce(col("starts"), typedLit(Array.empty[Int])))
      // native merge sweep (ShingleOps.tokenSpanFilter) over the sorted
      // start list: the filter/exists HOF it replaces was O(tokens ×
      // hot-spans) INTERPRETED per doc — quadratic exactly on the
      // boilerplate-heavy documents this operator exists to clean
      .withColumn("kept",
        graft.functions.TextFunctions.tokenSpanFilter(
          col("toks"), col("st"), gramN))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_dropped"),
        concat_ws(" ", col("kept")).as("text_clean"))
  }

  /** Leakage-safe train/val/test split: assign the SPLIT to the near-dup
    * CLUSTER, not the document — a near-dup pair straddling train and eval
    * leaks the eval answer into training (the standard decontamination
    * failure mode a doc-level random split cannot prevent). `members` is
    * [[connectedComponents]] output: every member of a cluster inherits
    * the cluster's split; singleton documents are their own cluster and
    * hash independently, so the split is simultaneously leakage-safe and
    * corpus-wide ~uniform.
    *
    * Deterministic and engine-portable by construction: the bucket is the
    * first byte of md5(cluster label cast to string) compared as a HEX
    * STRING against boundaries expressed in 1/256ths — no hex→integer
    * conversion, no RNG state, reproducible across engines, runs, and
    * cluster partitionings. Any label type string-casts losslessly (a
    * long→string round-trip through an intermediate numeric cast would
    * instead NULL out non-numeric labels and silently dump the whole
    * corpus into 'test'). Labels must be non-null. One narrow map over
    * `members`: no shuffle, no driver participation, trivially 100
    * TB-safe.
    *
    * Fractions are 1/256ths: 204 train, 26 val, the other 26 test.
    *
    * Returns `members` plus a `split` column ('train'|'val'|'test'). */
  def leakageSafeSplit(members: DataFrame): DataFrame = {
    val hx = substring(md5(col("cluster").cast("string")), 1, 2)
    members.withColumn("split",
      when(hx < lit("cc"), lit("train"))
        .when(hx < lit("e6"), lit("val"))
        .otherwise(lit("test")))
  }

  /** [[leakageSafeSplit]] generalized to 5-fold cross-validation: every
    * member of a near-dup cluster lands in the SAME fold (fold id =
    * first 8 md5 hex chars of the cluster label, mod 5 — deterministic,
    * engine-portable, ~uniform across folds), so no fold's validation
    * half shares a near-duplicate with its training half. Same one-map
    * shape: no shuffle, no RNG state. */
  def leakageSafeKFold(members: DataFrame): DataFrame =
    members.withColumn("fold",
      pmod(conv(substring(md5(col("cluster").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(5L)))

  /** Corpus-frequency boilerplate detection — the C4-style "drop text
    * units that repeat across the corpus" cleanup, over word n-gram spans
    * (this corpus has no line structure; on line-structured text pass the
    * exploded lines through the same shape). Returns per document the
    * distinct word 5-gram count, how many of those spans are boilerplate
    * (appear in ≥ 2 documents), and the boilerplate share.
    *
    * Scale: the per-(doc, span) distinct and the span doc-frequency are
    * two hash aggregates over one identical scan+shuffle subtree — AQE's
    * query-stage cache materializes that stage once and reuses it; only
    * (doc_id, span) pairs shuffle, never documents. A window-count over
    * the span would save the second aggregate but puts every occurrence
    * of a hot span in one task (universal boilerplate ⇒ a straggler);
    * the aggregate+broadcast shape has no such cliff.
    * The boilerplate dictionary is broadcast (spans repeating across
    * documents are a vocabulary-bounded set). */
  def boilerplateSpans(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // the shingle explode is CPU-bound: fan a narrower-than-cores scan out
    // first (a single-row-group test file otherwise pins both aggregate
    // branches to one task; a real corpus has plenty of scan partitions
    // and skips this shuffle)
    val perDoc = Spread.fanOutScan(docs, col(idCol))
      .filter(length(trim(col(textCol))) > 0)
      // native compiled shingling — the HOF spelling (transform/slice/
      // concat_ws) evaluates interpreted and costs ~3 s of first-use
      // lambda setup alone at sf0.1
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.ShingleOps.wordShinglesCol(
          col(textCol), 5)).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("_m"))
    val dict = perDoc.groupBy(col("s"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("s"), lit(1).as("_b"))
    perDoc
      .join(broadcast(dict), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_distinct"),
        count(col("_b")).cast("long").as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_distinct").cast("double"), 6))
  }

  /** Shared-passage pairs: documents sharing ≥ 8 winnowing
    * fingerprints — PASSAGE-level duplication (a copied paragraph inside
    * otherwise-different documents), which whole-document MinHash misses
    * when the shared span is a small fraction of each document.
    *
    * Winnowing guarantees any shared character run of length ≥ gram+win-1
    * contributes at least one common fingerprint, so the shared count
    * scales with the passage length being hunted. The values (16-char
    * grams, window 8, ≥8 shared, fp in ≤10 docs) tune for real passages: short
    * grams on a small-vocabulary corpus make fingerprints near-universal
    * and the pair set quadratic (measured: gram=5/cap=100 yielded 81k
    * pairs of 125k possible at sf0.01; these values isolate exactly the
    * 25 true near-dup pairs and grow linearly with the corpus). Same scale
    * discipline as the LSH chain: one native scalar pass computes each
    * document's distinct fingerprint set (zero shuffles), only
    * (doc_id, 8-hex-fp) rows ever shuffle, and fingerprints appearing in
    * more than 10 documents are dropped as boilerplate BEFORE
    * the self-join — the hot bucket can't quadratically explode a task. */
  def sharedPassagePairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // the winnow pass is CPU-bound per doc: fan a narrower-than-cores
    // scan out first (r22 — without this the whole fingerprint pass ran
    // as ONE task on a single-row-group corpus file, measured as q119's
    // largest job; see Spread.fanOutScan)
    val fpsPlan = Spread.fanOutScan(docs, col(idCol))
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(GraftBridge.column(graft.functions.WinnowFingerprints(
          GraftBridge.expression(
            graft.functions.TextFunctions.normalize(col(textCol))),
          16, 8))).as("fp"))
    // TWO consumers follow (the band aggregate and the join) — same
    // size-dispatched materialization as prefixJaccardPairs: under a
    // proven input bound the winnow pass is checkpointed once; above it,
    // recompute beats pinning a corpus-sized intermediate.
    val pin = Spread.pinIfSmall(docs) _
    val fps = pin(fpsPlan)
    // shared/cap band via aggregate + semi-join, NOT a count window over
    // fp: the partial aggregate collapses a corpus-hot fingerprint (site
    // boilerplate shared by millions of docs) map-side and the join
    // stays splittable, where a window partition by fp cannot be split —
    // the same at-scale shape rule as prefixJaccardPairs' caps (r11).
    val fpBand = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1 && col("n_docs") <= 10)
      .select(col("fp"))
    // consumed by both self-join sides; ≤ cap rows per fingerprint but
    // total rows still scale with the corpus, so the same dispatch
    // applies (checkpoint under the bound, recompute above it)
    val pruned = pin(fps.join(fpBand, "fp").select(col("doc_id"), col("fp")))
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"), min(col("a.fp")).as("min_fp"))
      .filter(col("n_shared") >= 8)
      .select(col("id_a"), col("id_b"),
        col("n_shared").cast("long").as("n_shared"), col("min_fp"))
  }
}
