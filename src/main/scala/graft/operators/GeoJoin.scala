package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions

/** Distance-bounded point joins at scale (SURVEY §4 "planned custom piece 3":
  * rewrite `crossJoin + distance filter/top-k` into a banded range join).
  *
  * The reference's nearest-point query is a full cross-distance scan in
  * generated T-SQL (`HTIPNEXSITE/__init__.py:106-122`) — O(|L|·|R|). At 100 TB
  * that cross join is the bottleneck, so these operators bucket the sphere:
  *
  *  - latitude bands of `radiusM / 110000` degrees (a degree of latitude is
  *    ≥ 110.57 km everywhere; the conservative divisor makes the candidate
  *    set correct by construction);
  *  - longitude cells within each band, sized
  *    `2·radiusM / (111320·cos(maxAbsLatOfBandExtended))` — the factor 2
  *    over-covers the asin curvature bound (`d ≥ 2/π·Δλ·R·cosφ`), and the
  *    extended-band cos accounts for the neighbor band's latitudes. Bands
  *    whose extended latitude reaches ≥ 89° collapse to a single cell
  *    (near-pole wraparound).
  *
  * Left rows explode to their 3×3 neighbor keys (deduplicated — lon cells
  * wrap modulo the band's cell count); right rows emit one key; the join is
  * a shuffle hash join on a dense (band, cell) key, then the exact haversine
  * predicate runs on candidates only. Results are identical to the cross
  * join — only the plan changes (proven in GeoJoinSpec + oracle q38).
  */
object GeoJoin {

  /** Meters per degree latitude, conservative lower bound. */
  private val MetersPerDegLat = 110000.0
  private val MetersPerDegLonEq = 111320.0

  private def bandOf(lat: Column, bandDeg: Double): Column =
    floor(lat / bandDeg).cast("long")

  /** Width (degrees) of a lon cell for latitude band `band`; null-free,
    * ≥ 360 near the poles (single cell). */
  private def cellDegOf(band: Column, bandDeg: Double, radiusM: Double): Column = {
    val maxAbsExt = greatest(abs(band * bandDeg), abs((band + 1) * bandDeg)) + lit(bandDeg)
    when(maxAbsExt >= 89.0, lit(360.0))
      .otherwise(least(lit(360.0),
        lit(2.0 * radiusM / MetersPerDegLonEq) / cos(radians(maxAbsExt))))
  }

  private def nCellsOf(cellDeg: Column): Column =
    greatest(floor(lit(360.0) / cellDeg).cast("long"), lit(1L))

  /** `left` round-robin repartitioned to the default parallelism when it
    * is a single-leaf scan narrower than that ([[Spread.narrow]]), else
    * unchanged. Round-robin, not [[Spread.fanOutScan]]'s hash placement:
    * the geo joins have no id column to hash, and q18's and q38's plans
    * keep this shape. */
  private def spreadNarrowScan(left: DataFrame): DataFrame =
    if (Spread.narrow(left))
      left.repartition(left.sparkSession.sparkContext.defaultParallelism)
    else left

  /** All (left, right) pairs with haversine distance ≤ radiusM, plus a
    * `dist_m` column. `left` needs (lat1, lon1); `right` (lat2, lon2). */
  def radiusJoin(left: DataFrame, right: DataFrame, radiusM: Double,
      lat1: String, lon1: String, lat2: String, lon2: String): DataFrame = {
    val bandDeg = radiusM / MetersPerDegLat

    def key(band: Column, lon: Column, dLon: Int): Column = {
      val cd = cellDegOf(band, bandDeg, radiusM)
      val n = nCellsOf(cd)
      val cell = pmod(floor((lon + 180.0) / cd).cast("long") + dLon, n)
      struct(band.as("band"), cell.as("cell"))
    }

    val lKeys = array_distinct(array(
      (for (dB <- -1 to 1; dL <- -1 to 1) yield {
        val band = bandOf(col(lat1), bandDeg) + dB
        key(band, col(lon1), dL)
      }): _*))
    // Candidate checking is CPU-bound (haversine per bucket pair) and runs on
    // the probe side's partitions when the build side broadcasts — fan out a
    // small-file scan so it isn't single-threaded. Large inputs keep their
    // native partitioning.
    val l = spreadNarrowScan(left).withColumn("gk", explode(lKeys))
    val r = right.withColumn("gk",
      key(bandOf(col(lat2), bandDeg), col(lon2), 0))

    l.join(r, Seq("gk"))
      .withColumn("dist_m",
        GeoFunctions.haversineMeters(col(lat1), col(lon1), col(lat2), col(lon2)))
      .filter(col("dist_m") <= radiusM)
      .drop("gk")
  }

  /** Right sides up to this many points take [[knnBroadcast]]; larger ones
    * take [[knnJoinBanded]]. */
  private val BroadcastRightMax = 500000

  /** Exact k-nearest-neighbor join: for each left row, the k nearest right
    * rows by haversine distance (ties broken by `rightKey`), as
    * `(leftKey, knn_rank, rightKey, dist_m)`.
    *
    * Plan selection mirrors Spark's own join strategy choice: one bounded
    * collect of the right side's `(key, lat, lon)` both sizes and fetches
    * it. When it returns at most [[BroadcastRightMax]] points (the
    * broadcast-hash-join regime) they become [[knnBroadcast]]'s point set,
    * a shuffle-free per-row scan. Otherwise the large×large
    * [[knnJoinBanded]] two-phase plan runs. Both produce bit-identical rows
    * (GeoJoinSpec). */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int, radiusM: Double,
      leftKey: String, rightKey: String,
      lat1: String, lon1: String, lat2: String, lon2: String): DataFrame = {
    val pts = right.select(col(rightKey).cast("long"),
        col(lat2).cast("double"), col(lon2).cast("double"))
      .limit(BroadcastRightMax + 1).collect()
    if (pts.length <= BroadcastRightMax)
      knnBroadcast(left, pts, k, leftKey, rightKey, lat1, lon1)
    else
      knnJoinBanded(left, right, k, radiusM, leftKey, rightKey,
        lat1, lon1, lat2, lon2)
  }

  /** Broadcast kNN against `pts`, the right side's `(key: Long, lat: Double,
    * lon: Double)` rows: each left row scans them with a k-slot insertion
    * buffer inside codegen ([[graft.functions.KnnAgainstPoints]]). No
    * shuffle, no candidate blow-up, no window — at 1000 executors this reads
    * the left side exactly once and writes only k rows per left row. The
    * point set is bounded by driver/executor memory exactly like a
    * broadcast hash join's build side. */
  private[graft] def knnBroadcast(left: DataFrame,
      pts: Array[org.apache.spark.sql.Row], k: Int,
      leftKey: String, rightKey: String, lat1: String, lon1: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.DoubleType
    val expr = graft.functions.KnnAgainstPoints(
      Cast(GraftBridge.expression(col(lat1)), DoubleType),
      Cast(GraftBridge.expression(col(lon1)), DoubleType),
      pts.map(_.getLong(0)), pts.map(_.getDouble(1)), pts.map(_.getDouble(2)), k)
    // The scan is CPU-bound (O(|points|) per row): if the source arrives in
    // fewer partitions than cores (small files), fan it out first. A big left
    // side already has plenty of scan partitions and skips this shuffle.
    spreadNarrowScan(left)
      .select(col(leftKey), posexplode(GraftBridge.column(expr)).as(Seq("pos", "nn")))
      .select(col(leftKey), (col("pos") + 1).cast("long").as("knn_rank"),
        col("nn.key").as(rightKey), col("nn.dist").as("dist_m"))
  }

  /** Haversine distances never exceed half the great circle (~2.0015e7 m);
    * any radius past this makes every (left, right) pair a candidate. */
  private val MaxEarthDistM = 2.1e7

  /** Grid-cell density map — the spatial GROUP BY behind heatmaps and
    * density-based pre-filters: points binned into `cellDeg`-degree
    * cells via floor((lat+90)/cellDeg), with per-cell counts, observed
    * bounding box (exact min/max, no arithmetic), and exact shares.
    * The +90/+180 shift keeps the floor argument non-negative so the
    * binning is the same truncation on every engine; mirror the exact
    * operation order in any oracle.
    *
    * Scale: map-only cell assignment + one partial-aggregatable groupBy
    * on ≤ (360/cellDeg)² cells — the canonical pre-aggregation that
    * replaces point-level spatial joins at 100 TB. */
  def gridDensity(points: DataFrame, latCol: String, lonCol: String,
      cellDeg: Double): DataFrame = {
    require(cellDeg > 0, "cell size must be positive")
    val cells = points.groupBy(
        floor((col(latCol) + lit(90.0)) / lit(cellDeg)).cast("long")
          .as("cell_lat"),
        floor((col(lonCol) + lit(180.0)) / lit(cellDeg)).cast("long")
          .as("cell_lon"))
      .agg(count(lit(1)).as("n"),
        min(col(latCol)).as("lat_lo"), max(col(latCol)).as("lat_hi"),
        min(col(lonCol)).as("lon_lo"), max(col(lonCol)).as("lon_hi"))
    cells
      .withColumn("total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("cell_lat"), col("cell_lon"),
        col("n").cast("long").as("n"), col("lat_lo"), col("lat_hi"),
        col("lon_lo"), col("lon_hi"),
        Corpus.ratioRound6(col("n"), col("total")).as("share_r"))
  }

  /** Large×large exact kNN via escalating-radius banded passes: a banded
    * radius join at `radiusM` handles every left row that finds ≥ k
    * candidates inside the radius — for those rows the true top-k provably
    * lies within the radius. The uncovered remainder (isolated points)
    * retries with the radius ×4 per pass until covered or the radius
    * exceeds [[MaxEarthDistM]], at which point one terminal banded pass
    * (whose candidate set is by construction ALL pairs for the few rows
    * left) finishes the job — never a broadcast of the large right side,
    * which is exactly the side `knnJoin` already judged too big to
    * broadcast. Each pass shrinks `remaining` sharply (isolated points are
    * rare by definition), so the driver loop runs O(log(maxR/radiusM))
    * bounded passes.
    *
    * Ranking uses `row_number` windows: Catalyst's WindowGroupLimit already
    * truncates to k rows per key map-side, and — measured at sf0.1 — beats
    * the typed [[graft.functions.BoundedTopKAgg]] here because the codegen'd
    * window avoids the per-row buffer encode/decode a typed Aggregator pays.
    * Each pass's ranked output feeds three consumers (covered keys, covered
    * top-k, uncovered anti-join), so it is localCheckpoint'd — it holds ≤ k
    * rows per covered left key, tiny next to its lineage (the candidate
    * join), which would otherwise run three times. Results are bit-identical
    * to brute force (GeoJoinSpec): candidates at radius r are a superset of
    * those at any smaller radius, and the (dist, rightKey) ordering is
    * radius-independent. */
  private[graft] def knnJoinBanded(left: DataFrame, right: DataFrame, k: Int,
      radiusM: Double, leftKey: String, rightKey: String,
      lat1: String, lon1: String, lat2: String, lon2: String): DataFrame = {
    var remaining = left
    var prevCkpt: DataFrame = null // superseded checkpoint, unpersisted below
    var r = math.max(radiusM, 1.0)
    var pieces = List.empty[DataFrame]
    var done = false
    while (!done) {
      val terminal = r >= MaxEarthDistM
      val cand =
        if (terminal)
          // At the terminal radius the banded key degenerates to ONE
          // (band, cell) bucket — all |remaining|×|right| pairs would land
          // in a single task. Spread the all-pairs scan instead: each right
          // row hashes to one of S buckets, each remaining row replicates
          // to all S — right shuffles once, only the (small) remainder
          // fans out, and the candidate scan parallelizes S ways.
          allPairsCandidates(remaining, right,
            leftKey, rightKey, lat1, lon1, lat2, lon2)
        else
          radiusJoin(remaining, right, r, lat1, lon1, lat2, lon2)
            .select(col(leftKey), col(rightKey), col("dist_m"))
      val ranked = Transforms.topKPerGroup(cand, Seq(col(leftKey)),
        Seq(col("dist_m").asc, col(rightKey).asc), k, "knn_rank")
        .localCheckpoint()
      if (terminal) {
        // every pair was a candidate: ranked is the exact top-k for all
        // remaining rows (rows with < k neighbors total emit what exists)
        pieces ::= ranked
        done = true
      } else {
        // a left row is covered iff a k-th candidate exists inside the radius
        val covered = ranked.filter(col("knn_rank") === k).select(col(leftKey))
        pieces ::= ranked.join(covered, Seq(leftKey), "left_semi")
        remaining = remaining.join(covered, Seq(leftKey), "left_anti")
          .localCheckpoint() // O(1) lineage across escalation passes
        // the new checkpoint has materialized the anti-join; the superseded
        // one's blocks are dead weight in executor storage — release them
        if (prevCkpt != null) prevCkpt.unpersist()
        prevCkpt = remaining
        if (remaining.isEmpty) done = true else r *= 4
      }
    }
    pieces.reduce(_ unionByName _)
  }

  /** All (left, right) pairs with `dist_m`, spread over S shuffle buckets:
    * right rows take `hash(rightKey) mod S` (one copy), left rows explode to
    * every bucket. Equivalent to a cross join but the haversine scan
    * parallelizes S ways instead of degenerating to one task — used by the
    * terminal [[knnJoinBanded]] pass, where `left` is the small remainder. */
  private[graft] def allPairsCandidates(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      lat1: String, lon1: String, lat2: String, lon2: String): DataFrame = {
    val s = math.max(
      left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt, 2)
    val l = left.withColumn("_bkt",
      explode(sequence(lit(0L), lit((s - 1).toLong))))
    val rr = right.withColumn("_bkt", pmod(xxhash64(col(rightKey)), lit(s.toLong)))
    l.join(rr, Seq("_bkt"))
      .withColumn("dist_m",
        GeoFunctions.haversineMeters(col(lat1), col(lon1), col(lat2), col(lon2)))
      .select(col(leftKey), col(rightKey), col("dist_m"))
  }
}
