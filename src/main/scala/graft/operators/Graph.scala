package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over similarity graphs (edge lists produced
  * by the dedup candidate generators). Companion to
  * [[Dedup.connectedComponents]]: where CC answers "which docs form one
  * duplicate cluster", PageRank answers "which docs are the most central" —
  * the canonical keeper-selection / representative-picking signal.
  */
object Graph {

  /** k-core peeling (fixed unrolled rounds) — the dense-community
    * extractor: repeatedly drop nodes with degree < 2 and re-restrict
    * the edge list, 3 times. After enough rounds this converges
    * to the true 2-core; a FIXED round count keeps the plan bounded and
    * cross-engine reproducible (the oracle unrolls the same rounds), the
    * same posture as [[integerPageRank]]'s fixed iterations. Returns the
    * surviving nodes with their degree in the peeled subgraph.
    *
    * Scale: each round is one degree aggregate + two semi-join-shaped
    * equi-joins on the (candidate-pair-sized) edge list; the list is
    * checkpointed per round so lineage stays O(rounds), not O(2^rounds).
    */
  def kCorePeel(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint()
    for (_ <- 1 to 3) {
      val keep = edges.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select(col("a"))
      edges = edges
        .join(keep, "a")
        .join(keep.withColumnRenamed("a", "b"), "b")
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    edges.groupBy(col("a").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /** Deterministic integer PageRank over an undirected pair list.
    *
    * The recurrence runs in exact "rank units" (LONG), not doubles:
    *   units_0(v)   = base = 1,000,000
    *   units_k+1(v) = 0.15·base + Σ_{u~v} (units_k(u) · 85) DIV (100 · deg(u))
    * for 3 iterations.
    * Integer floor division makes every iteration bit-reproducible across
    * engines and partitionings — float PageRank sums diverge in the last
    * ulp under reordering, which would break hash-exact verification.
    *
    * Scale shape: the edge list is checkpointed once (it is candidate-pair
    * sized, orders of magnitude smaller than the corpus) and each iteration
    * is one equi-hash join (units by src) plus one partial-aggregatable sum
    * (by dst) — the standard edge-partitioned PR step. Iterations are a
    * fixed count, so the lineage is bounded; no driver-side loop state.
    */
  def integerPageRank(pairs: DataFrame): DataFrame = {
    val base = 1000000L
    // Tiny relative to the corpus; checkpoint so the (expensive) candidate
    // generation upstream runs once, not once per iteration.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // degree-annotated edges materialized ONCE — each iteration is then a
    // single equi-hash join plus one partial-aggregated sum, nothing else
    val withDeg = edges.join(deg, "src").localCheckpoint()
    val keep = (base * 15L) / 100L
    var units = edges.select(col("src").as("id")).distinct()
      .withColumn("units", lit(base))
    for (_ <- 1 to 3) {
      units = withDeg
        .join(units, withDeg("src") === units("id"))
        .select(col("dst"),
          call_function("div", col("units") * lit(85L), col("d") * lit(100L))
            .as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"),
          (lit(keep) + col("s")).cast("long").as("units"))
    }
    // every node of the doubled edge list has in-degree ≥ 1, so the final
    // join is total: one row per graph node with its degree and rank units
    units.join(deg, units("id") === deg("src"))
      .select(col("id"), col("d").cast("long").as("d"), col("units"))
  }

  /** Per-node triangle participation in an undirected graph — the cluster
    * cohesion signal for a near-dup graph (a clique-ish duplicate cluster
    * is triangle-dense; a chain of borderline matches has none, and its
    * members deserve a second look before deduping on transitivity).
    * `pairs` are undirected (id_a, id_b) candidate edges.
    *
    * The classic two-join oriented enumeration: canonicalize every edge
    * a < b, join wedges (a,b)+(b,c) with a < b < c, close against (a,c).
    * Each triangle is found exactly once. Both joins are equi hash joins
    * on node keys; at scale the standard refinement (orient by degree) drops
    * the wedge count from Σd² to Σd^1.5 — noted, not needed for near-dup
    * graphs whose components are tiny by construction.
    * Returns (id, triangles) for every node in at least one triangle. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("triangles"))
  }
}
