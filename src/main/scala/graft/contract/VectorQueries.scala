package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, Similarity, Transforms}

/** Vector similarity over `embeddings`: exact and approximate
  * nearest neighbours, lattice LSH, quantization and ranking metrics. */
object VectorQueries {
  import Tables._

  /** nDCG@10 position discounts 1/log2(i+1), i = 1..10 — shared by the
    * q199 Spark plan and its oracle SQL so both sides add the identical
    * doubles in the identical fixed order. */
  private val ndcgConsts: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Lattice-hyperplane LSH CTEs over embeddings, ending in
    * sims(id_a, id_b, sim) — within-bucket exact cosine pairs. Shared by
    * q32 (pair listing) and q94 (near-dup verdicts). */
  private val latticeSimCtes: String =
    """u AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(0, len(embedding))) AS j
      |  FROM embeddings),
      |lanes AS (SELECT unnest(range(0, 4)) AS i),
      |proj AS (
      |  SELECT u.vec_id, l.i,
      |    sum(CAST(x AS DOUBLE) * CAST((l.i * 31 + j * 17) % 7 - 3 AS DOUBLE)) AS p
      |  FROM u CROSS JOIN lanes l GROUP BY u.vec_id, l.i),
      |sig AS (
      |  SELECT vec_id,
      |    sum(CASE WHEN p >= 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM proj GROUP BY vec_id),
      |nrm AS (
      |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      |  FROM u GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |dots AS (
      |  SELECT p.id_a, p.id_b,
      |    sum(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE)) AS dp
      |  FROM pairs p
      |  JOIN u ua ON ua.vec_id = p.id_a
      |  JOIN u ub ON ub.vec_id = p.id_b AND ua.j = ub.j
      |  GROUP BY p.id_a, p.id_b),
      |sims AS (
      |  SELECT d.id_a, d.id_b, d.dp / (na.nrm * nb.nrm) AS sim
      |  FROM dots d
      |  JOIN nrm na ON d.id_a = na.vec_id
      |  JOIN nrm nb ON d.id_b = nb.vec_id)""".stripMargin

  /** q254's multi-table lattice chain: 2 tables × 4 bits = 8 planes from
    * the SAME lattice stream (plane = tbl·4 + i, so table 0 reproduces
    * [[latticeSimCtes]]'s buckets exactly), per-(table, bucket) collision
    * join, DISTINCT pair dedup across tables, then the identical exact
    * cosine verify. */
  private val latticeSimMultiCtes: String =
    """u AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(0, len(embedding))) AS j
      |  FROM embeddings),
      |lanes AS (SELECT unnest(range(0, 8)) AS i),
      |proj AS (
      |  SELECT u.vec_id, l.i,
      |    sum(CAST(x AS DOUBLE) * CAST((l.i * 31 + j * 17) % 7 - 3 AS DOUBLE)) AS p
      |  FROM u CROSS JOIN lanes l GROUP BY u.vec_id, l.i),
      |sig AS (
      |  SELECT vec_id, CAST(i // 4 AS BIGINT) AS tbl,
      |    sum(CASE WHEN p >= 0 THEN CAST(pow(2, i % 4) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM proj GROUP BY vec_id, i // 4),
      |nrm AS (
      |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      |  FROM u GROUP BY vec_id),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
      |    AND a.vec_id < b.vec_id),
      |dots AS (
      |  SELECT p.id_a, p.id_b,
      |    sum(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE)) AS dp
      |  FROM pairs p
      |  JOIN u ua ON ua.vec_id = p.id_a
      |  JOIN u ub ON ub.vec_id = p.id_b AND ua.j = ub.j
      |  GROUP BY p.id_a, p.id_b),
      |sims AS (
      |  SELECT d.id_a, d.id_b, d.dp / (na.nrm * nb.nrm) AS sim
      |  FROM dots d
      |  JOIN nrm na ON d.id_a = na.vec_id
      |  JOIN nrm nb ON d.id_b = nb.vec_id)""".stripMargin

  /** q256's multi-probe lattice chain: the SAME single-table signature as
    * [[latticeSimCtes]] (q32's buckets exactly), but pairs qualify at
    * signature Hamming distance ≤ 1 — the declarative form of probing the
    * home bucket plus every one-bit flip. popcount over the 4-bit XOR is
    * spelled with explicit shifts so the mirror is self-evidently the
    * operator's predicate. */
  private val latticeSimProbeCtes: String =
    """u AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(0, len(embedding))) AS j
      |  FROM embeddings),
      |lanes AS (SELECT unnest(range(0, 4)) AS i),
      |proj AS (
      |  SELECT u.vec_id, l.i,
      |    sum(CAST(x AS DOUBLE) * CAST((l.i * 31 + j * 17) % 7 - 3 AS DOUBLE)) AS p
      |  FROM u CROSS JOIN lanes l GROUP BY u.vec_id, l.i),
      |sig AS (
      |  SELECT vec_id,
      |    sum(CASE WHEN p >= 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM proj GROUP BY vec_id),
      |nrm AS (
      |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      |  FROM u GROUP BY vec_id),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
      |    AND ((xor(a.bucket, b.bucket) // 1) % 2
      |       + (xor(a.bucket, b.bucket) // 2) % 2
      |       + (xor(a.bucket, b.bucket) // 4) % 2
      |       + (xor(a.bucket, b.bucket) // 8) % 2) <= 1),
      |dots AS (
      |  SELECT p.id_a, p.id_b,
      |    sum(CAST(ua.x AS DOUBLE) * CAST(ub.x AS DOUBLE)) AS dp
      |  FROM pairs p
      |  JOIN u ua ON ua.vec_id = p.id_a
      |  JOIN u ub ON ub.vec_id = p.id_b AND ua.j = ub.j
      |  GROUP BY p.id_a, p.id_b),
      |sims AS (
      |  SELECT d.id_a, d.id_b, d.dp / (na.nrm * nb.nrm) AS sim
      |  FROM dots d
      |  JOIN nrm na ON d.id_a = na.vec_id
      |  JOIN nrm nb ON d.id_b = nb.vec_id)""".stripMargin

  val contracts: Seq[Contract] = Seq(
    // North star: brute-force cosine top-10 against a query vector.
    // Global top-k goes through orderBy+limit — Spark plans that as
    // TakeOrderedAndProject (per-partition heap top-k, merged at the driver),
    // NOT a single-partition window; the rank window then runs over the 10
    // survivors only.
    Contract("q31_ann_cosine", ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val scored = e.crossJoin(broadcast(q))
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qe")).as("sim"))
      Transforms.globalTopK(scored, Seq(col("sim").desc, col("vec_id").asc), 10)
        .select(col("vec_id"), round(col("sim"), 6).as("sim_r"), col("rnk"))
    }),
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |u AS (SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qe) AS b
        |      FROM embeddings e CROSS JOIN q),
        |dots AS (SELECT vec_id,
        |  sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
        |  sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
        |  sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
        | FROM u GROUP BY vec_id),
        |s AS (SELECT vec_id, dp / (sqrt(na) * sqrt(nb)) AS sim FROM dots),
        |r AS (SELECT vec_id, sim,
        |  CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk FROM s)
        |SELECT vec_id, round(sim, 6) AS sim_r, rnk FROM r WHERE rnk <= 10""".stripMargin),

    // North star: LSH-bucketed near-neighbor pairs — the scale path for
    // all-pairs similarity. Lattice hyperplanes (integer coefficients) so
    // the DuckDB oracle reproduces bucketing AND scores exactly.
    Contract("q32_ann_lsh", ((s, d) =>
      Similarity.lshNearPairs(embeddings(s, d), "vec_id", "embedding",
        minSim = 0.1)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))),
      s"""WITH $latticeSimCtes
         |SELECT id_a, id_b, round(sim, 6) AS sim_r
         |FROM sims WHERE sim >= 0.1""".stripMargin),

    // ANN IVF with nProbe = nLists: probing every cell makes the result
    // EXACT regardless of how KMeans partitioned the space, so the
    // brute-force SQL oracle applies — proving the index/probe plumbing
    // (cell assignment, center ranking, per-cell scoring, global top-k).
    // Recall-vs-nProbe at nProbe < nLists stays covered by
    // DedupSimilaritySpec; partition pruning by cell is the 100 TB path.
    Contract("q83_ann_ivf", ((s, d) => {
      val e = embeddings(s, d)
      val qvec = e.filter(col("vec_id") === 0)
        .select(Similarity.toDoubleArray(col("embedding")))
        .head().getSeq[Double](0)
      val (model, indexed) = Similarity.ivfIndex(
        e, "vec_id", "embedding", nLists = 8)
      Similarity.ivfTopK(model, indexed, "vec_id", "embedding",
        qvec, k = 10, nProbe = 8)
        .select(col("vec_id"), round(col("sim"), 6).as("sim_r"))
    }),
      // nProbe = nLists ⇒ IVF is exact: same brute-force oracle as q31.
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |u AS (SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qe) AS b
        |      FROM embeddings e CROSS JOIN q),
        |dots AS (SELECT vec_id,
        |  sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dp,
        |  sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
        |  sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
        | FROM u GROUP BY vec_id),
        |s AS (SELECT vec_id, dp / (sqrt(na) * sqrt(nb)) AS sim FROM dots),
        |r AS (SELECT vec_id, sim,
        |  row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk FROM s)
        |SELECT vec_id, round(sim, 6) AS sim_r FROM r WHERE rnk <= 10""".stripMargin),

    // North star: int8-quantized ANN — the memory-lean scale path (4 bytes →
    // 1 byte per dim): per-vector symmetric scalar quantization
    // (scale = 127/max|x|), integer dot-product ranking (exact, portable —
    // no float ordering involved), exact float rescoring of the winners.
    Contract("q65_ann_quantized", ((s, d) => {
      val e = embeddings(s, d)
      val vd = Similarity.toDoubleArray(col("embedding"))
      val scale = lit(127.0) / array_max(transform(vd, x => abs(x)))
      val quant = e.select(col("vec_id"), col("embedding"),
        transform(vd, x => round(x * scale).cast("long")).as("qv"))
      val qrow = quant.filter(col("vec_id") === 0)
        .select(col("qv").as("qq"), col("embedding").as("qe"))
      val scored = quant.crossJoin(broadcast(qrow))
        .select(col("vec_id"), col("embedding"), col("qe"),
          aggregate(zip_with(col("qv"), col("qq"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qdot"))
      Transforms.globalTopK(scored, Seq(col("qdot").desc, col("vec_id").asc), 10)
        .select(col("vec_id"), col("qdot"),
          round(Similarity.cosine(col("embedding"), col("qe")), 6).as("sim_r"),
          col("rnk"))
    }),
      """WITH u AS (
        |  SELECT vec_id, embedding, unnest(embedding) AS x,
        |         unnest(range(0, len(embedding))) AS j
        |  FROM embeddings),
        |m AS (SELECT vec_id, max(abs(CAST(x AS DOUBLE))) AS mx FROM u GROUP BY vec_id),
        |qv AS (
        |  SELECT u.vec_id, j,
        |    CAST(round(CAST(x AS DOUBLE) * (127.0 / m.mx)) AS BIGINT) AS qx
        |  FROM u JOIN m USING (vec_id)),
        |qq AS (SELECT j, qx FROM qv WHERE vec_id = 0),
        |dots AS (
        |  SELECT a.vec_id, CAST(sum(a.qx * b.qx) AS BIGINT) AS qdot
        |  FROM qv a JOIN qq b USING (j) GROUP BY a.vec_id),
        |exact AS (
        |  SELECT e.vec_id,
        |    sum(CAST(ex.x AS DOUBLE) * CAST(qx0.x AS DOUBLE)) AS dp,
        |    sum(CAST(ex.x AS DOUBLE) * CAST(ex.x AS DOUBLE)) AS na,
        |    sum(CAST(qx0.x AS DOUBLE) * CAST(qx0.x AS DOUBLE)) AS nb
        |  FROM (SELECT vec_id FROM embeddings) e
        |  JOIN u ex ON ex.vec_id = e.vec_id
        |  JOIN (SELECT j, x FROM u WHERE vec_id = 0) qx0 ON qx0.j = ex.j
        |  GROUP BY e.vec_id),
        |ranked AS (
        |  SELECT d.vec_id, d.qdot,
        |    round(x.dp / (sqrt(x.na) * sqrt(x.nb)), 6) AS sim_r,
        |    CAST(row_number() OVER (ORDER BY d.qdot DESC, d.vec_id) AS BIGINT) AS rnk
        |  FROM dots d JOIN exact x USING (vec_id))
        |SELECT vec_id, qdot, sim_r, rnk FROM ranked WHERE rnk <= 10""".stripMargin),

    // North-star widening — per-vector norms (L2/L1/Linf) over the
    // embedding column, sequential-fold exact, plus the label column.
    Contract("q53_vector_stats", ((s, d) => {
      val vd = Similarity.toDoubleArray(col("embedding"))
      embeddings(s, d).select(col("vec_id"), col("label"),
        round(sqrt(Similarity.dot(col("embedding"), col("embedding"))), 6).as("l2_r"),
        round(aggregate(vd, lit(0.0), (acc, x) => acc + abs(x)), 6).as("l1_r"),
        round(array_max(transform(vd, x => abs(x))), 6).as("linf_r"))
    }),
      """WITH u AS (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)
        |SELECT vec_id, label,
        | round(sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS l2_r,
        | round(sum(abs(CAST(x AS DOUBLE))), 6) AS l1_r,
        | round(max(abs(CAST(x AS DOUBLE))), 6) AS linf_r
        |FROM u GROUP BY vec_id, label""".stripMargin),

    // North star: embedding-cosine near-dup — semantic-dedup verdicts from
    // LSH-bucketed candidates (lattice hyperplanes so the oracle reproduces
    // bucketing AND scores exactly). A doc is a dup when an EARLIER doc sits
    // within 0.35 cosine in its bucket; dup_of = earliest such neighbor.
    Contract("q94_embedding_neardup", ((s, d) =>
      Similarity.embeddingNearDup(embeddings(s, d), "vec_id", "embedding",
        minSim = 0.35)),
      // q94: same lattice-LSH pair chain as q32, folded to per-doc verdicts
      s"""WITH $latticeSimCtes,
         |m AS (SELECT id_b AS vec_id, min(id_a) AS dup_of
         |      FROM sims WHERE sim >= 0.35 GROUP BY id_b)
         |SELECT e.vec_id, (m.dup_of IS NOT NULL) AS is_dup,
         |  coalesce(m.dup_of, -1) AS dup_of
         |FROM embeddings e LEFT JOIN m ON e.vec_id = m.vec_id""".stripMargin),

    // F20 widening — higher-order array predicates/folds over embeddings,
    // scalar outputs only (exists / filter-count / clamped sum).
    Contract("q106_hof_arrays", ((s, d) => {
      val vd = Similarity.toDoubleArray(col("embedding"))
      embeddings(s, d).select(col("vec_id"),
        size(filter(vd, x => x > 0)).cast("long").as("n_pos"),
        exists(vd, x => x > lit(2.0)).as("any_gt2"),
        forall(vd, x => abs(x) < lit(10.0)).as("all_lt10"),
        round(aggregate(vd, lit(0.0),
          (acc, x) => acc + least(greatest(x, lit(-1.0)), lit(1.0))), 6)
          .as("clamped_sum_r"))
    }),
      // q106: q53-style unnest mirror of the HOF predicates/folds
      """WITH u AS (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        |SELECT vec_id,
        | CAST(count(*) FILTER (CAST(x AS DOUBLE) > 0) AS BIGINT) AS n_pos,
        | bool_or(CAST(x AS DOUBLE) > 2.0) AS any_gt2,
        | bool_and(abs(CAST(x AS DOUBLE)) < 10.0) AS all_lt10,
        | round(sum(least(greatest(CAST(x AS DOUBLE), -1.0), 1.0)), 6) AS clamped_sum_r
        |FROM u GROUP BY vec_id""".stripMargin),

    // Label prototypes: element-wise mean pooling of embeddings per label
    // in exact integer micro-units — associative-exact under any partial-
    // aggregation order, so distributed sums hash-match the oracle.
    Contract("q125_embedding_pool", ((s, d) =>
      Similarity.meanPool(embeddings(s, d), "label", "embedding")),
      // q125: identical micro-unit quantization; integer sums then one
      // bit-deterministic division — no float-order drift on either side
      """WITH ex AS (
        |  SELECT label AS grp, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS u
        |  FROM embeddings,
        |  LATERAL unnest(range(1, len(embedding) + 1)) AS t(i))
        |SELECT grp, pos, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(u) AS BIGINT) AS sum_u,
        |  CAST(sum(u) AS DOUBLE) / (count(*) * 1000000) AS mean_v
        |FROM ex GROUP BY grp, pos""".stripMargin),

    // Deterministic integer random projection (64 -> 8 dims): stateless
    // hash-free ± coefficients, exact micro-unit integer sums — map-only,
    // zero shuffle, bit-identical on any engine. The cheap front end of
    // the ANN stack (project, then bucket/index in the reduced space).
    Contract("q147_random_projection", ((s, d) =>
      Similarity.randomProjection(embeddings(s, d), "vec_id", "embedding")),
      // q147: same micro-unit quantization as q125, same bilinear
      // ((31i + 17j + 13ij) mod 67) mod 7 - 3 coefficient lattice (the ij
      // term prevents the rank-7 collapse of a purely additive form);
      // integer sums, so the grouped-SQL mirror of the map-only HOF plan is
      // value-identical
      s"""WITH ex AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS j,
        |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings,
        |  LATERAL unnest(range(1, len(embedding) + 1)) AS u(i))
        |SELECT vec_id,
        |${(0 until 8).map(i =>
          s"  CAST(sum(qv * ((${31 * i} + j*${17 + 13 * i}) % 67 % 7 - 3)) " +
            s"AS BIGINT) AS p$i").mkString(",\n")}
        |FROM ex GROUP BY vec_id""".stripMargin),

    // Calibration curve over the q158 score: equi-depth score deciles
    // with exact per-bucket positive rates — the reliability diagram
    // that tells you whether the score's ranking is trustworthy.
    Contract("q165_calibration", ((s, d) => {
      val e = embeddings(s, d)
      graft.serving.ModelScoring.calibrationCurve(e,
        Similarity.intProjection(col("embedding"), 0),
        (col("label") >= 5).cast("long"))
    }),
      // q165: q158's score CTE + q163's strictly-below bucket assignment,
      // exact per-bucket counts/sums, one half-up rate rounding
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS j,
        |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings,
        |  LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)),
        |sc AS (
        |  SELECT vec_id, max(label) AS label,
        |    sum(qv * ((j * 17) % 67 % 7 - 3)) AS s
        |  FROM ex GROUP BY vec_id),
        |bys AS (
        |  SELECT s, count(*) AS n,
        |    sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS pos
        |  FROM sc GROUP BY s),
        |cw AS (
        |  SELECT s, n, pos,
        |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
        |    sum(n) OVER () AS total
        |  FROM bys)
        |SELECT CAST((cum_lt * 10) // total AS BIGINT) AS bucket,
        |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(min(s) AS BIGINT) AS s_lo, CAST(max(s) AS BIGINT) AS s_hi,
        |  CAST(sum(s * n) AS BIGINT) AS score_sum,
        |  CAST((2000000 * sum(pos) + sum(n)) // (2 * sum(n)) AS DOUBLE)
        |    / 1e6 AS pos_rate_r
        |FROM cw GROUP BY 1""".stripMargin),

    // Exact ROC AUC — Mann-Whitney rank-sum over the DISTINCT-score
    // aggregate (ties count half, all-integer until one exact rounding).
    // Score = the deterministic integer projection p0; labels binarized
    // at >= 5. The sort touches |distinct scores| rows, never the corpus.
    Contract("q158_roc_auc", ((s, d) => {
      val e = embeddings(s, d)
      graft.serving.ModelScoring.rocAuc(e,
        Similarity.intProjection(col("embedding"), 0),
        (col("label") >= 5).cast("long"))
    }),
      // q158: same p0 quantized projection as q147, then pos/neg per
      // distinct score, cumulative strictly-below negatives, u2 = 2U in
      // exact integers; HUGEINT-safe, final ratioRound6 half-up
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS j,
        |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
        |      * 1000000 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings,
        |  LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)),
        |sc AS (
        |  SELECT vec_id, max(label) AS label,
        |    sum(qv * ((j * 17) % 67 % 7 - 3)) AS s
        |  FROM ex GROUP BY vec_id),
        |bys AS (
        |  SELECT s, sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN label >= 5 THEN 0 ELSE 1 END) AS neg
        |  FROM sc GROUP BY s),
        |cum AS (
        |  SELECT pos, neg,
        |    coalesce(sum(neg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cneg
        |  FROM bys),
        |f AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg,
        |    CAST(sum(2 * pos * cneg + pos * neg) AS BIGINT) AS u2
        |  FROM cum)
        |SELECT n_pos, n_neg, u2,
        |  CAST((2000000 * u2 + 2 * n_pos * n_neg)
        |    // (4 * n_pos * n_neg) AS DOUBLE) / 1e6 AS auc_r
        |FROM f""".stripMargin),

    // North star: contrastive hard-negative mining — per anchor, the k most
    // similar candidates that are NOT near-dups (lattice-LSH positives
    // excluded symmetrically). Anchors broadcast; salted two-phase top-k.
    Contract("q128_hard_negatives", ((s, d) =>
      Similarity.hardNegatives(embeddings(s, d), "vec_id", "embedding",
        anchorIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5, minSim = 0.35)),
      // q128: anchors 0-4 against every candidate, the same lattice bucket +
      // cosine>=0.35 exclusion as q94, dense rank per anchor. Ordered sums
      // mirror VectorOps' sequential fold.
      """WITH u AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         unnest(range(0, len(embedding))) AS j
        |  FROM embeddings),
        |lanes AS (SELECT unnest(range(0, 4)) AS i),
        |proj AS (
        |  SELECT u.vec_id, l.i,
        |    sum(CAST(x AS DOUBLE) * CAST((l.i * 31 + j * 17) % 7 - 3 AS DOUBLE)) AS p
        |  FROM u CROSS JOIN lanes l GROUP BY u.vec_id, l.i),
        |sig AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN p >= 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS bucket
        |  FROM proj GROUP BY vec_id),
        |nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        |  FROM u GROUP BY vec_id),
        |anch AS (SELECT vec_id AS anchor FROM embeddings
        |         WHERE vec_id IN (0, 1, 2, 3, 4)),
        |sc AS (
        |  SELECT a.anchor, e.vec_id AS negative,
        |    sum(CAST(ua.x AS DOUBLE) * CAST(ue.x AS DOUBLE)) AS dp
        |  FROM anch a JOIN embeddings e ON e.vec_id <> a.anchor
        |  JOIN u ua ON ua.vec_id = a.anchor
        |  JOIN u ue ON ue.vec_id = e.vec_id AND ua.j = ue.j
        |  GROUP BY a.anchor, e.vec_id),
        |sims AS (
        |  SELECT sc.anchor, sc.negative, sc.dp / (na.nrm * nn.nrm) AS sim,
        |    sa.bucket AS ab, sn.bucket AS nb
        |  FROM sc
        |  JOIN nrm na ON sc.anchor = na.vec_id
        |  JOIN nrm nn ON sc.negative = nn.vec_id
        |  JOIN sig sa ON sc.anchor = sa.vec_id
        |  JOIN sig sn ON sc.negative = sn.vec_id),
        |kept AS (SELECT anchor, negative, sim FROM sims
        |         WHERE NOT (ab = nb AND sim >= 0.35)),
        |r AS (SELECT anchor, negative, sim, row_number() OVER (
        |        PARTITION BY anchor ORDER BY sim DESC, negative) AS rnk
        |      FROM kept)
        |SELECT anchor, negative, round(sim, 6) AS sim_r,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5""".stripMargin),

    // ANN QUALITY as a query (VERDICT r8 item 8): recall@10 of the two
    // deterministic approximate rankings — int8 symmetric quantization
    // (q65 family: integer dot replaces double cosine) and lattice-LSH
    // bucket restriction (q32 family: candidates limited to the query's
    // 8-bit hyperplane bucket) — against the exact brute-force cosine
    // top-10, for 10 query vectors. Both approximations are exact integer
    // arithmetic, so DuckDB reproduces the approximate sets and the
    // recall column is computed exactly ((hits in top-10)/10). The IVF
    // path (q83) stays exactness-configured: KMeans centroids aren't
    // SQL-reproducible. Scale: queries broadcast, one n×10 scored pass,
    // per-qid windows — never all-pairs over the corpus.
    Contract("q195_ann_recall", ((s, d) => {
      val k = 10
      val e = embeddings(s, d)
      val vd = Similarity.toDoubleArray(col("embedding"))
      val scale = lit(127.0) / array_max(transform(vd, x => abs(x)))
      val base = e.select(col("vec_id"), col("embedding"),
        transform(vd, x => round(x * scale).cast("long")).as("iv"),
        Similarity.hyperplaneSignatureLatticeAt(col("embedding"), 8, 0)
          .as("bucket"))
      val qs = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("iv").as("qv"), col("bucket").as("qbucket"))
      val pairs = base.crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"), col("bucket"), col("qbucket"),
          Similarity.cosine(col("embedding"), col("qe")).as("sim"),
          aggregate(zip_with(col("iv"), col("qv"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qdot"))
      def topK(df: DataFrame, order: Seq[Column]) = df.withColumn("rnk",
          row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
        .filter(col("rnk") <= k).select(col("qid"), col("vec_id"))
      val exactTop = topK(pairs, Seq(col("sim").desc, col("vec_id").asc))
      val int8Top = topK(pairs, Seq(col("qdot").desc, col("vec_id").asc))
      val lshTop = topK(pairs.filter(col("bucket") === col("qbucket")),
        Seq(col("sim").desc, col("vec_id").asc))
      def recallOf(approx: DataFrame, m: String) = qs.select(col("qid"))
        .join(exactTop.join(approx, Seq("qid", "vec_id"))
            .groupBy(col("qid")).agg(count(lit(1)).as("h")),
          Seq("qid"), "left")
        .select(col("qid").cast("long").as("qid"), lit(m).as("method"),
          coalesce(col("h"), lit(0L)).cast("long").as("n_hit"),
          (coalesce(col("h"), lit(0L)) / lit(k.toDouble)).as("recall"))
      recallOf(int8Top, "int8").unionByName(recallOf(lshTop, "lsh"))
    }),
      // Recall@10 of the int8-quantized ranking and the 8-bit lattice-LSH
      // bucket restriction vs exact cosine top-10, 10 query vectors. Both
      // approximate sets are exact integer arithmetic (same quantization as
      // q65, same lattice coefficients as q32 with 8 lanes), so the recall
      // column is an exact count/10.
      """WITH u AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         unnest(range(0, len(embedding))) AS j
        |  FROM embeddings),
        |m AS (SELECT vec_id, max(abs(x)) AS mx FROM u GROUP BY vec_id),
        |qv AS (SELECT u.vec_id, j, x,
        |    CAST(round(x * (127.0 / m.mx)) AS BIGINT) AS qx
        |  FROM u JOIN m USING (vec_id)),
        |lanes AS (SELECT unnest(range(0, 8)) AS i),
        |proj AS (
        |  SELECT u.vec_id, l.i,
        |    sum(x * CAST((l.i * 31 + j * 17) % 7 - 3 AS DOUBLE)) AS p
        |  FROM u CROSS JOIN lanes l GROUP BY u.vec_id, l.i),
        |sig AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN p >= 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)
        |      AS bucket
        |  FROM proj GROUP BY vec_id),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM u GROUP BY vec_id),
        |pair AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |    sum(a.x * b.x) AS dp, CAST(sum(a.qx * b.qx) AS BIGINT) AS qdot
        |  FROM qv a JOIN qv b USING (j) WHERE a.vec_id < 10
        |  GROUP BY a.vec_id, b.vec_id),
        |scored AS (
        |  SELECT p.qid, p.vec_id, p.dp / (nq.nrm * nv.nrm) AS sim, p.qdot,
        |    sq.bucket AS qbucket, sv.bucket AS bucket
        |  FROM pair p
        |  JOIN nrm nq ON nq.vec_id = p.qid
        |  JOIN nrm nv ON nv.vec_id = p.vec_id
        |  JOIN sig sq ON sq.vec_id = p.qid
        |  JOIN sig sv ON sv.vec_id = p.vec_id),
        |exact_top AS (
        |  SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
        |    FROM scored) WHERE r <= 10),
        |int8_top AS (
        |  SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS r
        |    FROM scored) WHERE r <= 10),
        |lsh_top AS (
        |  SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
        |    FROM scored WHERE bucket = qbucket) WHERE r <= 10),
        |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10),
        |hit8 AS (SELECT e.qid, count(*) AS h FROM exact_top e
        |  JOIN int8_top a USING (qid, vec_id) GROUP BY e.qid),
        |hitl AS (SELECT e.qid, count(*) AS h FROM exact_top e
        |  JOIN lsh_top a USING (qid, vec_id) GROUP BY e.qid)
        |SELECT qid, 'int8' AS method, CAST(coalesce(h, 0) AS BIGINT) AS n_hit,
        |  coalesce(h, 0) / 10.0 AS recall
        |FROM qids LEFT JOIN hit8 USING (qid)
        |UNION ALL
        |SELECT qid, 'lsh' AS method, CAST(coalesce(h, 0) AS BIGINT) AS n_hit,
        |  coalesce(h, 0) / 10.0 AS recall
        |FROM qids LEFT JOIN hitl USING (qid)""".stripMargin),

    // Retrieval-quality metrics for the approximate ranking (q195's
    // companion): per query vector, MRR and nDCG@10 of the int8-quantized
    // ranking, with relevance = membership in the exact cosine top-10.
    // IDCG is the fixed all-relevant prefix sum, so nDCG is comparable
    // across queries; transcendental outputs rounded to 6dp (house rule).
    Contract("q199_ranking_quality", ((s, d) => {
      val k = 10
      val e = embeddings(s, d)
      val vd = Similarity.toDoubleArray(col("embedding"))
      val scale = lit(127.0) / array_max(transform(vd, x => abs(x)))
      val base = e.select(col("vec_id"), col("embedding"),
        transform(vd, x => round(x * scale).cast("long")).as("iv"))
      val qs = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("iv").as("qv"))
      val pairs = base.crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"),
          Similarity.cosine(col("embedding"), col("qe")).as("sim"),
          aggregate(zip_with(col("iv"), col("qv"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qdot"))
      val exactTop = pairs.withColumn("rnk",
          row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("sim").desc, col("vec_id").asc)))
        .filter(col("rnk") <= k).select(col("qid"), col("vec_id"))
      val ranked = pairs.withColumn("pos",
          row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("qdot").desc, col("vec_id").asc)))
        .filter(col("pos") <= k)
        .join(exactTop.withColumn("rel", lit(1L)), Seq("qid", "vec_id"),
          "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
      // DCG in FIXED term order (q66 bm25 precedent): per-position terms
      // rel_i · c_i with Scala-computed constants c_i = 1/log2(i+1) added
      // left-to-right — no aggregation-order nondeterminism, and the SQL
      // oracle embeds the SAME double constants (shortest round-trip repr,
      // parsed back to identical bits).
      val dcgExpr = ndcgConsts.zipWithIndex.map { case (c, i) =>
        max(when(col("pos") === (i + 1), col("rel"))).cast("double") * lit(c)
      }.reduce(_ + _)
      ranked.groupBy(col("qid"))
        .agg(
          coalesce(min(when(col("rel") === 1L, col("pos"))), lit(0))
            .cast("long").as("first_rel_pos"),
          round(coalesce(max(when(col("rel") === 1L,
              lit(1.0) / col("pos").cast("double"))), lit(0.0)), 6).as("mrr"),
          round(dcgExpr / lit(ndcgConsts.sum), 6).as("ndcg"))
        .select(col("qid").cast("long").as("qid"), col("first_rel_pos"),
          col("mrr"), col("ndcg"))
    }),
      {
      val dcgSql = ndcgConsts.zipWithIndex.map { case (c, i) =>
        s"CAST(max(CASE WHEN pos = ${i + 1} THEN rel END) AS DOUBLE) * $c"
      }.mkString(" + ")
      s"""WITH u AS (
         |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |         unnest(range(0, len(embedding))) AS j
         |  FROM embeddings),
         |m AS (SELECT vec_id, max(abs(x)) AS mx FROM u GROUP BY vec_id),
         |qv AS (SELECT u.vec_id, j, x,
         |    CAST(round(x * (127.0 / m.mx)) AS BIGINT) AS qx
         |  FROM u JOIN m USING (vec_id)),
         |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM u GROUP BY vec_id),
         |pair AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         |    sum(a.x * b.x) AS dp, CAST(sum(a.qx * b.qx) AS BIGINT) AS qdot
         |  FROM qv a JOIN qv b USING (j) WHERE a.vec_id < 10
         |  GROUP BY a.vec_id, b.vec_id),
         |scored AS (
         |  SELECT p.qid, p.vec_id, p.dp / (nq.nrm * nv.nrm) AS sim, p.qdot
         |  FROM pair p
         |  JOIN nrm nq ON nq.vec_id = p.qid
         |  JOIN nrm nv ON nv.vec_id = p.vec_id),
         |exact_top AS (
         |  SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
         |    FROM scored) WHERE r <= 10),
         |ranked AS (
         |  SELECT s.qid, s.vec_id, s.pos,
         |    CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS rel
         |  FROM (SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS pos
         |    FROM scored) s
         |  LEFT JOIN exact_top e ON e.qid = s.qid AND e.vec_id = s.vec_id
         |  WHERE s.pos <= 10)
         |SELECT qid,
         |  CAST(coalesce(min(CASE WHEN rel = 1 THEN pos END), 0) AS BIGINT)
         |    AS first_rel_pos,
         |  round(coalesce(max(CASE WHEN rel = 1
         |    THEN 1.0 / CAST(pos AS DOUBLE) END), 0.0), 6) AS mrr,
         |  round(($dcgSql) / ${ndcgConsts.sum}, 6) AS ndcg
         |FROM ranked GROUP BY qid""".stripMargin
    }),

    // Pairwise dimension covariance screen (q206's bivariate sibling):
    // for every dim pair j1 < j2, exact micro-unit sums (n, Σx1, Σx2,
    // Σx1·x2) — the redundant-feature / dead-correlation screen run
    // before PCA or feature pruning. Integer sums are order-independent
    // and engine-exact; consumers derive cov/corr. The self-join is
    // keyed on vec_id with |dims|² fanout per row — never row×row.
    Contract("q214_dim_covariance", ((s, d) => {
      val ex = embeddings(s, d).select(col("vec_id"),
        posexplode(transform(Similarity.toDoubleArray(col("embedding")),
          x => round(x * lit(1000000.0)).cast("long"))).as(Seq("j", "xm")))
      ex.as("a").join(ex.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.j") < col("b.j"))
        .groupBy(col("a.j").as("j1"), col("b.j").as("j2"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("a.xm")).cast("long").as("sum1_micro"),
          sum(col("b.xm")).cast("long").as("sum2_micro"),
          sum(col("a.xm") * col("b.xm")).cast("long").as("sum12_micro2"))
        .select(col("j1").cast("long").as("j1"),
          col("j2").cast("long").as("j2"), col("n"),
          col("sum1_micro"), col("sum2_micro"), col("sum12_micro2"))
    }),
      """WITH u AS (
        |  SELECT vec_id, unnest(range(0, len(embedding))) AS j,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS xm
        |  FROM embeddings)
        |SELECT CAST(a.j AS BIGINT) AS j1, CAST(b.j AS BIGINT) AS j2,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a.xm) AS BIGINT) AS sum1_micro,
        |  CAST(sum(b.xm) AS BIGINT) AS sum2_micro,
        |  CAST(sum(a.xm * b.xm) AS BIGINT) AS sum12_micro2
        |FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.j < b.j
        |GROUP BY a.j, b.j""".stripMargin),

    // Per-source embedding CENTROID similarity matrix — corpus
    // cartography: mean-pool each source's vectors (q125's pool), then
    // pairwise cosine over the |sources|-bounded centroid table — which
    // sources say the same thing in embedding space (merge candidates /
    // mixture redundancy), never touching row×row vectors.
    Contract("q244_source_centroid_matrix", ((s, d) => {
      // embeddings carry no source; derive a deterministic 8-way source
      // id from vec_id (the corpus-sharding convention). Per-dimension
      // sums are EXACT micro-unit longs (q65/q206 lane pattern) so
      // partial-aggregation order cannot perturb the centroids; the one
      // double division per pair uses identical operands on both engines.
      val e = embeddings(s, d).select(
        (col("vec_id") % 8).cast("long").as("src"),
        transform(Similarity.toDoubleArray(col("embedding")),
          x => round(x * lit(1000000.0)).cast("long")).as("v"))
      val dim = e.select(size(col("v")).as("n")).head().getInt(0)
      val lanes = (0 until dim).map(j =>
        sum(element_at(col("v"), j + 1)).as(s"s$j"))
      val cent = e.groupBy(col("src")).agg(lanes.head, lanes.tail: _*)
      // DECIMAL(38,0) lanes for the pairwise reduction: a long lane
      // product crosses Long.MaxValue at ~100x this vector count
      // (worst term ~6e17 at sf0.1); decimal keeps the dot/norm EXACT
      // (max ~6e20 << 1e38) and mirrors the oracle's HUGEINT sum, so
      // both engines round to double exactly once, at the end.
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val dot = (0 until dim).map(j =>
        col(s"a.s$j").cast(d38) * col(s"b.s$j")).reduce(_ + _)
      def nrm(p: String) = sqrt((0 until dim).map(j =>
        col(s"$p.s$j").cast(d38) * col(s"$p.s$j")).reduce(_ + _)
        .cast("double"))
      // RAW double output (no 6dp round): the operands are exact integer
      // lanes, so both engines compute the identical IEEE double — while
      // the two engines' round(x, 6) implementations can disagree by one
      // ulp at a decimal boundary (observed on one pair at sf0.01)
      cent.as("a").join(cent.as("b"), col("a.src") < col("b.src"))
        .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
          (dot.cast("double") / (nrm("a") * nrm("b"))).as("cos"))
    }),
      // q244: micro-unit centroid lanes + one double divide per pair.
      """WITH u AS (SELECT CAST(vec_id % 8 AS BIGINT) AS src,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xm, j
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |        unnest(range(0, len(embedding))) AS j FROM embeddings)),
        |c AS (SELECT src, j, sum(xm) AS sj FROM u GROUP BY src, j),
        |p AS (SELECT a.src AS src_a, b.src AS src_b,
        |    sum(a.sj * b.sj) AS dot
        |  FROM c a JOIN c b ON a.j = b.j AND a.src < b.src
        |  GROUP BY 1, 2),
        |n AS (SELECT src, sum(sj * sj) AS nn FROM c GROUP BY src)
        |SELECT src_a, src_b,
        |  CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
        |    AS cos
        |FROM p JOIN n na ON na.src = p.src_a
        |JOIN n nb ON nb.src = p.src_b""".stripMargin),

    // SemDeDup end to end: the embedding-space analogue of q63/q86 —
    // LSH-bucketed cosine near-dup pairs (never all-pairs) → connected
    // components (bounded dispatch) → keeper = min-id member. Semantic
    // clusters deduplicate to ONE representative each; the per-vector
    // verdict (cluster, keeper flag, cluster size) is the curation list a
    // semantic-dedup pass feeds downstream. The oracle re-derives the
    // transitive closure with a recursive CTE — an independent algorithm,
    // not a mirror of the label-propagation/union-find path.
    Contract("q220_semantic_dedup", ((s, d) => {
      val e = embeddings(s, d)
      val pairs = Similarity.lshNearPairs(e, "vec_id", "embedding",
          minSim = 0.35)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.connectedComponents(e, "vec_id", pairs)
      val sizes = clusters.groupBy(col("cluster"))
        .agg(count(lit(1)).cast("long").as("cluster_size"))
      clusters.join(sizes, "cluster")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("cluster").cast("long").as("cluster"),
          (col("vec_id") === col("cluster")).as("is_keeper"),
          col("cluster_size"))
    }),
      // q220: lattice-LSH sims (q94's shared CTEs) + recursive-CTE closure —
      // independent of the engine's union-find/label-propagation path.
      s"""WITH RECURSIVE $latticeSimCtes,
         |ne AS (SELECT id_a, id_b FROM sims WHERE sim >= 0.35),
         |edges AS (SELECT id_a AS a, id_b AS b FROM ne
         |          UNION SELECT id_b, id_a FROM ne),
         |reach(src, dst) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |clus AS (SELECT src AS vec_id, min(dst) AS cluster
         |         FROM reach GROUP BY src),
         |sz AS (SELECT cluster, count(*) AS cluster_size
         |       FROM clus GROUP BY cluster)
         |SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
         |  CAST(c.cluster AS BIGINT) AS cluster,
         |  c.vec_id = c.cluster AS is_keeper,
         |  CAST(sz.cluster_size AS BIGINT) AS cluster_size
         |FROM clus c JOIN sz USING (cluster)""".stripMargin),

    // Per-dimension embedding profile — the drift monitor an embedding
    // pipeline runs before/after a model swap: for each vector dimension,
    // exact micro-unit sums (count, Σx, Σx²) plus raw min/max. Integer
    // sums are order-independent and engine-exact (the q65 micro-unit
    // pattern); consumers derive mean/std without the engine committing
    // to a division order. One narrow posexplode + one aggregate — no
    // shuffle of vectors, only (dim, partial-sum) rows.
    Contract("q206_embedding_profile", ((s, d) =>
      embeddings(s, d)
        .select(posexplode(Similarity.toDoubleArray(col("embedding")))
          .as(Seq("j", "x")))
        .withColumn("xm", round(col("x") * lit(1000000.0)).cast("long"))
        .groupBy(col("j"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("xm")).cast("long").as("sum_micro"),
          sum(col("xm") * col("xm")).cast("long").as("sumsq_micro"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
        .select(col("j").cast("long").as("j"), col("n"), col("sum_micro"),
          col("sumsq_micro"), col("min_x"), col("max_x"))),
      """WITH u AS (
        |  SELECT unnest(range(0, len(embedding))) AS j,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |m AS (SELECT j, x, CAST(round(x * 1000000.0) AS BIGINT) AS xm FROM u)
        |SELECT CAST(j AS BIGINT) AS j, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_micro,
        |  CAST(sum(xm * xm) AS BIGINT) AS sumsq_micro,
        |  min(x) AS min_x, max(x) AS max_x
        |FROM m GROUP BY j""".stripMargin),

    // Multi-table (OR-construction) hyperplane LSH (r16 VERDICT item 2):
    // q32's lattice chain with a SECOND independent plane table — a pair
    // is a candidate when it collides in either table, deduped across
    // tables before the exact cosine verify. Table 0's planes are q32's
    // exactly (plane index = tbl·bits + i), so q32's pair set is a
    // subset of this one by construction and the output is the recall
    // lift itself; DuckDB mirrors both tables, the OR-dedup, and the
    // verify bit-for-bit.
    Contract("q254_ann_lsh_multitable", ((s, d) =>
      Similarity.lshNearPairsTables(embeddings(s, d), "vec_id", "embedding",
        minSim = 0.1)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))),
      // q254: the multi-table OR-construction chain — 2 tables × 4 lattice
      // bits, DISTINCT pair dedup across tables, exact cosine verify. Plane
      // stream offset tbl·4 + i keeps table 0 identical to q32's buckets.
      s"""WITH $latticeSimMultiCtes
         |SELECT id_a, id_b, round(sim, 6) AS sim_r
         |FROM sims WHERE sim >= 0.1""".stripMargin),

    // Multi-probe LSH (the memory-cheap recall knob, q254's complement):
    // ONE q32 lattice table probed at the home bucket plus every
    // Hamming-1 neighbor — a pair is a candidate when its 4-bit
    // signatures differ in at most one bit, then the identical exact
    // cosine verify. Each pair is emitted exactly once by construction
    // (home×probe with vid order — see the operator Scaladoc), so the
    // DuckDB mirror is simply "popcount(xor(sig_a, sig_b)) <= 1" over
    // q32's signature CTE: the board proves the bucketing trick equals
    // the declarative Hamming predicate.
    Contract("q256_ann_lsh_multiprobe", ((s, d) =>
      Similarity.lshNearPairsMultiProbe(embeddings(s, d), "vec_id",
        "embedding", minSim = 0.1)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))),
      // q256: multi-probe — q32's single lattice table, pairs at signature
      // Hamming distance <= 1 (home bucket + every one-bit flip), identical
      // exact verify. The SQL states the predicate declaratively; the Spark
      // side reaches the same set through the home x probe bucket join.
      s"""WITH $latticeSimProbeCtes
         |SELECT id_a, id_b, round(sim, 6) AS sim_r
         |FROM sims WHERE sim >= 0.1""".stripMargin),

    // bucketHotness under the oracle: the embedding-side mirror of q245 —
    // the LSH bucket-size distribution that prices q32's within-bucket
    // self-join (quadratic in m) before running it. Lattice hyperplanes
    // so DuckDB reproduces the bucketing bit-for-bit.
    Contract("q248_bucket_hotness", ((s, d) =>
      Similarity.bucketHotness(embeddings(s, d), "vec_id", "embedding")),
      // q248: q245's embedding-side mirror — lattice-LSH bucket sizes,
      // rolled up to the (m, n_buckets) hotness distribution. Reuses the
      // q32 CTE chain's sig step (unreferenced tail CTEs are never run).
      s"""WITH $latticeSimCtes,
         |bsz AS (SELECT bucket, count(*) AS m FROM sig GROUP BY bucket)
         |SELECT CAST(m AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_buckets
         |FROM bsz GROUP BY m""".stripMargin),

    // q32's pair join with the hot-bucket cap engaged (aggregate +
    // semi-join, never a count window): buckets above 40 vectors are
    // refused — the signature-collapse guard every text-side candidate
    // generator carries, here exact under the oracle (the cap binds at
    // every SF: the two hottest buckets exceed 40 at sf0.001/0.01, eight
    // do at sf0.1).
    Contract("q249_lsh_capped", ((s, d) =>
      Similarity.lshNearPairs(embeddings(s, d), "vec_id", "embedding",
        minSim = 0.1, maxBucket = 40)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))),
      // q249: q32 with the hot-bucket cap — both endpoints of a kept pair
      // share one bucket, so filtering sims by the id_a side's bucket size
      // is exactly the Spark semi-join's pair set.
      s"""WITH $latticeSimCtes,
         |bsz AS (SELECT bucket, count(*) AS m FROM sig GROUP BY bucket),
         |keep AS (SELECT bucket FROM bsz WHERE m <= 40)
         |SELECT s.id_a, s.id_b, round(s.sim, 6) AS sim_r
         |FROM sims s
         |JOIN sig g ON s.id_a = g.vec_id
         |JOIN keep k ON g.bucket = k.bucket
         |WHERE s.sim >= 0.1""".stripMargin)
  )
}
