package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY north star). The reference's only "similarity" logic is the
  * generated top-3-nearest-POS SQL (`HTIPNEXSITE/__init__.py:106-122`); this
  * generalizes it to dense vectors.
  *
  * Scale design:
  *  - brute-force top-k against ONE query vector is a map-side scan +
  *    a single top-k reduction — O(n·d) work, no shuffle of vectors;
  *  - all-pairs near-dup at 100 TB must never cross-join: hyperplane LSH
  *    buckets vectors by a sign signature map-side, then only within-bucket
  *    pairs are scored. Hyperplane components come from an integer lattice
  *    over (plane, dimension), so there is no model state, every executor
  *    computes identical planes, and the oracle reproduces them.
  */
object Similarity {

  /** Element-wise dot product — native compiled loop
    * ([[graft.functions.VectorOps]]), sequential left fold so results are
    * bit-identical to the HOF spelling and the oracle's ordered sum. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotCol(a, b)

  def toDoubleArray(a: Column): Column = transform(a, x => x.cast("double"))

  /** Cosine similarity between two float/double array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Element-wise mean pooling per group — label prototypes / cluster
    * centroids. Elements are quantized to exact integer micro-units
    * (`floor(v·1e6 + 0.5)`, identical IEEE ops in any engine) BEFORE
    * summing, so the aggregation is associative-exact under Spark's
    * arbitrary partial-sum order — no float-order drift, hash-stable vs
    * any oracle. One shuffle of groups×dims rows (posexplode is map-side);
    * the output mean is the bit-deterministic quotient of two exact
    * integers. Returns (grp, pos, n, sum_u, mean_v). */
  def meanPool(vectors: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("grp"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000d) + lit(0.5d))
          .cast("long").as("u"))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("sum_u"))
      .select(col("grp"), col("pos"), col("n").cast("long").as("n"),
        col("sum_u").cast("long").as("sum_u"),
        (col("sum_u").cast("double") /
          (col("n") * lit(1000000L)).cast("double")).as("mean_v"))

  /** Deterministic integer random projection — the cheap dimensionality
    * reduction in front of ANN indexing, in the spirit of sparse integer
    * JL projections (small bounded ± coefficients, zero-ish mean).
    * Coefficient c(i,j) = (((31·i + 17·j + 13·i·j) mod 67) mod 7) − 3 ∈
    * {−3..3} is derived from the output/input index pair alone —
    * stateless, reproducible on any engine, no stored matrix. The
    * bilinear i·j term is what makes the lattice non-degenerate: a purely
    * additive form like (31i + 17j) mod 7 collapses to a function of
    * (i+j) mod 7 (31 ≡ 17 ≡ 3), i.e. rank ≤ 7 with repeating rows AND
    * columns; with the mixing term, two coefficient columns can only
    * coincide when j ≡ j' (mod 67) — distinct for any input dim ≤ 67 —
    * and rows likewise for outDim ≤ 67. Inputs are quantized to exact
    * integer micro-units first (`floor(v·1e6 + 0.5)`, the [[meanPool]]
    * contract), so every projected coordinate is an exact integer sum —
    * no float associativity anywhere. Map-only, zero shuffle; one fused
    * pass per row inside codegen. Output columns `p0..p7` (outDim = 8) are
    * micro-units (divide by 1e6 for the real-valued projection). */
  def randomProjection(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val proj = (0 until 8).map(i => intProjection(col(vecCol), i).as(s"p$i"))
    vectors.select((col(idCol) +: proj): _*)
  }

  /** The i-th coordinate of [[randomProjection]] as a standalone column —
    * the same micro-unit quantization and ±3 coefficient stream, exposed
    * for consumers that need ONE deterministic integer score per vector
    * (e.g. the AUC evaluation's ranking score). */
  def intProjection(vec: Column, i: Int): Column = {
    val q = transform(vec,
      x => floor(x.cast("double") * lit(1000000d) + lit(0.5d)).cast("long"))
    aggregate(
      zip_with(q, sequence(lit(0L), size(vec).cast("long") - 1L),
        (x, j) => x * (pmod(pmod(lit(31L * i) + j * 17L + j * lit(13L * i),
          lit(67L)), lit(7L)) - lit(3L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** The LSH joins' one signature: a hyperplane signature over a small
    * integer lattice, bit i = sign(v · h_p) with plane p = `table·bits + i`
    * and h_p[j] = ((p·31 + j·17) mod 7) − 3 ∈ [−3, 3]. Table 0 is the
    * single-table signature; every further OR-table draws the next planes
    * of the same lattice. Portable SQL, so the DuckDB oracle reproduces the
    * bucketing exactly and every LSH chain is oracle-checkable end to end
    * (q32, q254, q256). */
  def hyperplaneSignatureLatticeAt(vec: Column, bits: Int, table: Int): Column = {
    val vd = toDoubleArray(vec)
    val sigBits = (0 until bits).map { i =>
      val plane = table * bits + i
      val proj = aggregate(
        zip_with(vd, sequence(lit(0), size(vd) - 1),
          (x, j) => x * (pmod(lit(plane) * 31 + j * 17, lit(7)) - lit(3))
            .cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    sigBits.reduce(_ + _)
  }

  /** The LSH joins' one scheme, which every contract query runs: 4
    * lattice bits per table, 2 OR-tables in [[lshNearPairsTables]], and
    * every bit probed in [[lshNearPairsMultiProbe]]. */
  private val LshBits = 4
  private val LshTables = 2

  /** OR-table `table` of the LSH joins' signature. */
  private def lshSignature(vec: Column, table: Int): Column =
    hyperplaneSignatureLatticeAt(vec, LshBits, table)

  /** IVF (inverted-file) ANN index: partition vectors into `nLists` KMeans
    * cells; a query probes only the `nProbe` nearest cells. The 100 TB
    * shape: the corpus is clustered ONCE (sampled fit, map-side assignment),
    * stored partitioned by cell id — a probe then touches nProbe/nLists of
    * the data (partition pruning on the cell column), with recall tunable
    * via nProbe. Approximate by construction. KMeans runs 5 iterations
    * from seed 42 on a 25% sample. */
  def ivfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      nLists: Int): (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    val withFeat = vectors.withColumn("_feat",
      array_to_vector(toDoubleArray(col(vecCol))))
    // the 100 TB shape: centers come from a SAMPLE (clustering quality
    // needs only a sketch of the distribution); the full corpus is then
    // assigned map-side by model.transform. Probe results stay exact for
    // nProbe = nLists no matter what the sample produced.
    val fitOn = {
      val s = withFeat.sample(withReplacement = false, 0.25, 42L)
      // a Bernoulli sample of a small corpus can come back with fewer
      // rows than centers (or none) — fall back to the full set; the
      // probe (bounded limit+count) costs one tiny job at index build
      if (s.limit(nLists).count() < nLists) withFeat else s
    }
    // random seeded init, not kmeans||: the parallel init runs several
    // extra distributed passes for center quality IVF cells don't need —
    // probe exactness never depends on where the centers landed
    val model = new KMeans().setK(nLists).setSeed(42L).setMaxIter(5)
      .setInitMode("random")
      .setFeaturesCol("_feat").setPredictionCol("_cell").fit(fitOn)
    val indexed = model.transform(withFeat)
      .select(col(idCol), col(vecCol), col("_cell").as("cell"))
    (model, indexed)
  }

  /** Top-k cosine against `queryVec` probing only the nProbe nearest IVF
    * cells of `indexed` (output of [[ivfIndex]]). */
  def ivfTopK(model: org.apache.spark.ml.clustering.KMeansModel,
      indexed: DataFrame, idCol: String, vecCol: String,
      queryVec: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val dot = c.toArray.zip(queryVec).map { case (a, b) => a * b }.sum
        val sim = dot / (math.sqrt(c.toArray.map(x => x * x).sum) *
          math.sqrt(queryVec.map(x => x * x).sum))
        (i, sim)
      }
    val probed = centers.sortBy(-_._2).take(nProbe).map(_._1).toSeq
    val q = Seq(Tuple1(queryVec)).toDF("qe")
    val scored = indexed
      .filter(col("cell").isin(probed: _*)) // partition pruning at scale
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("qe")).as("sim"))
    scored.orderBy(col("sim").desc, col(idCol)).limit(k)
  }

  /** Bucket-size hotness diagnostic for [[lshNearPairs]]'s `maxBucket`
    * cap — the embedding-side mirror of [[Dedup.prefixHotness]]: the
    * distribution of m = how many vectors share each signature bucket, as
    * (m, n_buckets) rows sorted hot-first. The within-bucket self-join is
    * quadratic in m, so the tail of this distribution IS the join's cost
    * model: the largest m well below the corpus size is the biggest
    * genuine semantic cluster — cap above it; an m approaching the corpus
    * size means the signature has collapsed (near-constant embeddings, a
    * dominant direction, or bits too few) and enumerating that bucket's
    * pairs is a cross join in disguise. Aggregates only (shuffle by
    * bucket then by m, both with map-side partial aggregation) — linear
    * in the corpus, safe to run, or to run on a sample, before committing
    * to the candidate join. */
  def bucketHotness(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(lshSignature(col(vecCol), 0).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("m").desc)

  /** LSH-bucketed near-neighbor pairs: bucket by the lattice signature,
    * score cosine only within buckets, keep pairs ≥ minSim.
    *
    * `maxBucket` is the hot-bucket guard every text-side candidate
    * generator already carries: buckets holding more than `maxBucket`
    * vectors are excluded from pair generation (aggregate + semi-join —
    * splittable, never a count window; the partial aggregate collapses a
    * collapsed-signature bucket map-side, and AQE broadcasts the
    * ≤ 2^bits-row bucket list). Unlike [[Dedup.prefixJaccardPairs]]'s
    * per-token cap, a vector lives in exactly ONE bucket, so an excluded
    * bucket's members produce no pairs at all — the cap is for signature
    * COLLAPSE (an m ≈ corpus bucket whose pair set is a disguised cross
    * join), not for shaving genuine clusters; read [[bucketHotness]] first.
    * Defaults to `Int.MaxValue` (off — every bucket scored, the exact
    * within-bucket semantics the oracle checks). A non-positive cap is a
    * caller arithmetic bug (e.g. an Int-wrapped value) and fails loudly
    * instead of refusing every bucket. */
  def lshNearPairs(vectors: DataFrame, idCol: String, vecCol: String,
      minSim: Double, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be > 0: $maxBucket")
    // Carry a per-row norm column through the join (computed once per
    // vector; the join shuffle materializes it) so each candidate pair
    // costs one native dot product + a multiply. Normalizing the array
    // itself in a lambda re-evaluates the norm per element — higher-order
    // lambdas don't hoist loop-invariant subexpressions.
    val sig0 = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      lshSignature(col(vecCol), 0).as("bucket"))
    val sig =
      if (maxBucket == Int.MaxValue) sig0
      else sig0.join(sig0.groupBy(col("bucket"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") <= maxBucket.toLong).select(col("bucket")), "bucket")
    val a = sig.as("a"); val b = sig.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Multi-table (OR-construction) LSH near pairs — the recall knob
    * [[lshNearPairs]] does not have (r16 VERDICT item 2): `LshTables`
    * independent lattice plane families bucket the corpus once each, and
    * a pair is a candidate when it collides in ANY table. Per-pair
    * candidate recall lifts from r = (1−θ/π)^bits to 1 − (1−r)^L at ~L×
    * bucketing + candidate-join cost; precision is untouched because the
    * verify filter is still the exact cosine.
    *
    * Scale shape: signatures are exploded MAP-SIDE into (vid, tbl,
    * bucket) rows — the bucket shuffle carries ids and two longs, never
    * vectors. Candidate pairs are DEDUPED ACROSS TABLES (one hash
    * aggregate on the id pair) BEFORE the exact verify, so a pair
    * colliding in every table is scored once; the verify then joins the
    * two endpoints' vectors back by id. That is one more shuffle than the
    * single-table shape (which carries vectors through its one bucket
    * join) — the right trade whenever d ≫ the id width, i.e. always at
    * embedding scale. */
  def lshNearPairsTables(vectors: DataFrame, idCol: String, vecCol: String,
      minSim: Double): DataFrame = {
    val base = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val sigs = vectors.select(col(idCol).as("vid"),
      explode(array((0 until LshTables).map(l =>
        struct(lit(l).as("tbl"), lshSignature(col(vecCol), l).as("bucket"))): _*))
        .as("s"))
      .select(col("vid"), col("s.tbl").as("tbl"), col("s.bucket").as("bucket"))
    val a = sigs.as("a"); val b = sigs.as("b")
    val cand = a.join(b, col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct() // OR-construction dedup BEFORE the exact verify
    cand
      .join(base.select(col("vid").as("id_a"), col("v").as("_va"),
        col("nrm").as("_na")), Seq("id_a"))
      .join(base.select(col("vid").as("id_b"), col("v").as("_vb"),
        col("nrm").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Multi-probe LSH near pairs — the MEMORY-CHEAP recall knob, the
    * complement of [[lshNearPairsTables]]: instead of building L
    * independent tables (L× bucketing shuffle, L× signature state), ONE
    * table is probed at the home bucket plus every Hamming-1 neighbor
    * (flip one signature bit). A pair is a candidate when its signatures
    * differ in at most one bit, so per-pair candidate recall lifts from
    * r = p^bits to p^bits + bits · p^(bits−1) · (1−p), where p = 1 − θ/π.
    *
    * Scale shape: the home side carries (vid, vector, norm, bucket) once
    * — the only side that ships payload. The probe side is (bits + 1)
    * narrow (vid, bucket) rows per vector, exploded map-side. Each
    * qualifying pair is emitted EXACTLY ONCE by construction, no dedup
    * aggregate needed: for a pair x < y, the home×probe join on
    * (home.bucket = probe.bucket, home.vid < probe.vid) matches only x's
    * home row against the single y-probe entry at XOR(sig_x, sig_y) —
    * probe entries of one vector are pairwise-distinct buckets, and the
    * vid order kills the mirrored match. The probe-side vector is joined
    * back by id after candidate generation, exactly like the multi-table
    * chain. */
  def lshNearPairsMultiProbe(vectors: DataFrame, idCol: String,
      vecCol: String, minSim: Double): DataFrame = {
    val home = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      lshSignature(col(vecCol), 0).as("bucket"))
    // probe side: home bucket + one flip per bit. The signature is
    // projected ONCE as an attribute below the explode and the probe
    // array is (bits + 1) one-instruction xor flips of that attribute
    // (r17 VERDICT item 5 — an inline-expression array would repeat the
    // full signature expression bits+1 times and lean on whole-stage
    // codegen's subexpression elimination). InferFiltersFromGenerate
    // stays inert: the generator input is the `array(...)` expression,
    // not a bare attribute, and any filter it COULD infer would reference
    // the already-projected `sig` attribute, never re-derive the
    // signature (ScaleSpec-locked).
    val probe = vectors
      .select(col(idCol).as("pvid"), lshSignature(col(vecCol), 0).as("sig"))
      .select(col("pvid"),
        explode(array(col("sig") +: (0 until LshBits).map(i =>
          col("sig").bitwiseXOR(lit(1L << i))): _*)).as("pbucket"))
    val base = home.select(col("vid").as("id_b"), col("v").as("_vb"),
      col("nrm").as("_nb"))
    home.as("a")
      .join(probe.as("b"), col("a.bucket") === col("b.pbucket") &&
        col("a.vid") < col("b.pvid"))
      .select(col("a.vid").as("id_a"), col("b.pvid").as("id_b"),
        col("a.v").as("_va"), col("a.nrm").as("_na"))
      .join(base, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Embedding-cosine near-duplicate verdicts — the semantic-dedup step of
    * a training-data pipeline: a document is a duplicate when some EARLIER
    * document's embedding sits within `minSim` cosine of its own, and the
    * earliest such neighbor is recorded as its `dup_of`. Candidates come
    * from [[lshNearPairs]] (within-bucket scoring only — never all-pairs),
    * so at 100 TB the shuffles carry (id, signature) and candidate id
    * pairs, not the vectors of non-candidates. Keepers (including docs in
    * singleton buckets) report is_dup = false, dup_of = -1. */
  def embeddingNearDup(vectors: DataFrame, idCol: String, vecCol: String,
      minSim: Double): DataFrame = {
    val pairs = lshNearPairs(vectors, idCol, vecCol, minSim)
    // earliest-wins: min over the (already sparse) near-pair edges keyed
    // by the later endpoint — one hash aggregate over candidate ids
    val dupOf = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("_dup_of"))
    vectors.select(col(idCol))
      .join(dupOf, Seq(idCol), "left")
      .select(col(idCol), col("_dup_of").isNotNull.as("is_dup"),
        coalesce(col("_dup_of"), lit(-1L)).as("dup_of"))
  }

  /** Contrastive hard-negative mining: for each anchor, the k candidates
    * MOST similar to it that are NOT its near-duplicates — exactly the
    * negatives that teach an embedding model the most (easy negatives are
    * already far; near-dups would be false negatives). Positives to
    * exclude come from [[lshNearPairs]] at `minSim`, applied
    * symmetrically; the anchor itself is excluded too.
    *
    * Scale shape: anchors are a query workload (small by contract) and
    * broadcast; scoring is map-side over the candidate corpus. The
    * per-anchor top-k is TWO-PHASE — a first window over (anchor, salt)
    * keeps k per salt group, the second ranks the s·k survivors per
    * anchor — because a single window partitioned by anchor would drag
    * the WHOLE corpus × anchors into #anchors tasks. The salt is a hash
    * of the candidate id: deterministic, and salt-invariant in the
    * result (every global top-k row survives its salt group's local
    * top-k). Returns (anchor, negative, sim_r, rnk).
    *
    * Deliberately NO `maxBucket` knob here: the [[lshNearPairs]] call
    * computes EXCLUSIONS, and capping it would silently drop an
    * anchor's near-duplicates from the exclusion set — returning them
    * as "hard negatives", the exact false-negative poisoning the
    * operator exists to prevent. On a collapse-prone corpus run
    * [[bucketHotness]] first and dedup before mining. */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
      anchorIds: Seq[Long], k: Int, minSim: Double): DataFrame = {
    val pairs = lshNearPairs(vectors, idCol, vecCol, minSim)
      .select(col("id_a"), col("id_b"))
    // only exclusions INVOLVING an anchor matter — filter the symmetric
    // edge list down to the anchor set before the anti-join, so the
    // corpus-sized scored table anti-joins against a broadcastable side
    // (anchors × their near-dups) instead of shuffling by pair key
    val sym = pairs.unionByName(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .filter(col("id_a").isin(anchorIds: _*))
    val anchors = vectors
      .filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor"), col(vecCol).as("_avec"))
    val scored = vectors.crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col("anchor"))
      .join(broadcast(sym),
        col("anchor") === col("id_a") && col(idCol) === col("id_b"),
        "left_anti")
      .select(col("anchor"), col(idCol).as("negative"),
        cosine(col(vecCol), col("_avec")).as("sim"))
    val nSalt = vectors.sparkSession.sparkContext.defaultParallelism
    val local = Transforms.topKPerGroup(
        scored.withColumn("_salt", pmod(xxhash64(col("negative")), lit(nSalt))),
        Seq(col("anchor"), col("_salt")),
        Seq(col("sim").desc, col("negative")), k)
      .drop("rnk", "_salt")
    Transforms.topKPerGroup(local, Seq(col("anchor")),
        Seq(col("sim").desc, col("negative")), k)
      .select(col("anchor"), col("negative"),
        round(col("sim"), 6).as("sim_r"), col("rnk"))
  }
}
