package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.{BloomAgg, BloomMightContain}

/** Blocklist filtering with Bloom-filter pre-pruning — the decontamination
  * primitive for a 100 TB corpus against a bounded bad-content key set
  * (leaked benchmark digests, DMCA hashes, PII fingerprints).
  *
  * Exact-result contract: the join CONFIRMS candidates with an exact
  * anti join, so Bloom false positives never change the answer — the
  * filter only decides how many rows reach the shuffle. The plan shape at
  * scale: the key set aggregates into one broadcast byte-blob row
  * (partial bitset OR map-side), the big side probes it inside whole-stage
  * codegen, and only the ~fp-rate survivors shuffle into the exact join.
  * The corpus itself is never shuffled in full.
  *
  * ref: HTGPI watermark/blocklist shapes (SURVEY §2 north-star dedup
  * family); same confirm-after-sketch discipline as `Dedup.minhashLsh`.
  */
object Blocklist {

  /** Filter bits per key (about 1% false positives with [[NumHashes]]). */
  private val BitsPerKey = 10L
  private val NumHashes = 5

  private def bloomRow(keys: DataFrame, keyCol: String): DataFrame = {
    val n = keys.count()
    // ≥64 bits, ≤256 MiB, rounded up to whole longs. The cap must itself
    // survive the round-up-and-toInt: (1<<31) would round to 2^31 and
    // overflow Int exactly when the cap engages (~215M keys at 10 b/key).
    val want = math.min(math.max(BitsPerKey * math.max(n, 1L), 64L),
      (1L << 31) - 64L)
    val numBits = (((want + 63L) / 64L) * 64L).toInt
    keys.agg(BloomAgg(numBits, NumHashes).column(col(keyCol)).as("graft_bloom"))
  }

  /** The key set is consumed three times (size probe, bloom build, exact
    * confirm join) — materialize it once. It is the SMALL side by
    * contract, so the checkpoint is bounded. */
  private def materializedKeys(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(col(keyCol)).distinct().localCheckpoint()

  private def probe(big: DataFrame, blob: DataFrame, keyCol: String): DataFrame =
    big.crossJoin(broadcast(blob)).withColumn("graft_might",
      GraftBridge.column(BloomMightContain(
        GraftBridge.expression(col("graft_bloom")),
        GraftBridge.expression(col(keyCol)))))

  /** Rows of `big` whose key is NOT in `keys` (anti join — keep the clean
    * corpus). Bloom-definite-clean rows pass straight through; only
    * might-contain candidates reach the exact check. ONE anti-join with
    * the bloom verdict in its condition does both: a might=false (or
    * NULL-key) row never matches, so it survives the anti join without
    * shuffling — and `big` is scanned once, not once per branch as a
    * filter/filter/union would. NULL-key rows keep plain left_anti
    * semantics (kept: null never equals a key). */
  def bloomAntiJoin(big: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val k = materializedKeys(keys, keyCol)
    val blob = bloomRow(k, keyCol)
    probe(big, blob, keyCol)
      .join(k.withColumnRenamed(keyCol, "graft_block_key"),
        col(keyCol) === col("graft_block_key") && col("graft_might"),
        "left_anti")
      .drop("graft_bloom", "graft_might")
  }
}
