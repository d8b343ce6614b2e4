package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType


/** Helpers the contract families share: exact money sums, the
  * write-scratch directories, the small-input checkpoint gate and the
  * MinHash oracle CTE chains. */
object Shared {

  private[contract] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  private[contract] def sumd(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact scale-2 sums via integer cents: the multiply/convert happens in
    * LONG (one codegen'd round+cast per row instead of a decimal conversion),
    * only the accumulator is DECIMAL(18,0) → no overflow at any row count.
    * For 2-decimal-exact inputs this is bit-identical to [[sumd]] (AggProbe
    * verified per group at sf0.1): the final decimal division by 100 is
    * exact, and decimal→double is a single nearest-rounding both ways.
    * NOT used for columns with >2dp precision (o_totalprice). */
  private[contract] def cents(c: Column): Column = round(c * 100).cast("long")

  private[contract] def sumc(c: Column): Column =
    (sum(cents(c).cast(DecimalType(18, 0))) / lit(100)).cast("double")

  // ---- write-scratch dirs for the format round-trip queries ----
  // Keyed by an MD5 of the FULL dataset path (a 32-bit String.hashCode can
  // collide across datasets) plus a per-PROCESS nonce, so two concurrent
  // runs — even over the SAME dataset — never share a dir between the
  // overwrite-write and the timed read-back (r13 ADVICE; the r12 keying
  // only separated different datasets). Deletion cannot happen inside the
  // query (the returned DataFrame reads the dir lazily), so every dir is
  // registered for recursive removal at JVM exit — bench/verify runs no
  // longer litter the tmpdir across invocations.
  private[contract] val scratchNonce: String =
    java.lang.Long.toHexString(ProcessHandle.current().pid())

  /** Per-dataset + per-process token for the streaming queries' scratch
    * symlink dirs and sink view names — the same keying discipline as
    * [[scratchDir]] (r13 ADVICE): MD5 of the full path (a 32-bit
    * String.hashCode can collide across datasets) plus the process nonce
    * (two concurrent runs over the SAME dataset must not race on a
    * shared symlink or an in-memory sink view). Hex only, so it stays a
    * valid temp-view identifier fragment. */
  private[contract] def datasetTok(dataset: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dataset.getBytes("UTF-8")).take(6)
      .map(b => f"$b%02x").mkString + scratchNonce

  /** Scratch dir registered for JVM-exit removal: datasetTok carries the
    * process nonce, so without registration every run would leave fresh
    * `q*_src_*` dirs behind (same lifecycle rule as [[scratchDir]] —
    * deletion cannot happen inside a query whose returned DataFrame reads
    * the dir lazily). Lives under a per-process `graft-fmt-tmp-<pidhex>`
    * parent in java.io.tmpdir so the dead-pid [[scratchSweep]] reclaims it
    * after a SIGKILL/OOM run (BASELINE.md "Tight-memory spill
    * rehearsal" drove such runs) — the shutdown hook never fires on
    * those, and the previous target/tmp location had no crash-leak
    * reclamation (r14 ADVICE). */
  private[contract] def tmpScratch(name: String): java.nio.file.Path = {
    val parent = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-fmt-tmp-$scratchNonce")
    val p = java.nio.file.Files.createDirectories(parent.resolve(name))
    scratchSweep
    scratchHook
    scratchCreated.add(parent)
    p
  }

  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => })
    } catch { case _: java.io.IOException => }

  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratchCreated.forEach(deleteRecursively)))

  // Crash-leak sweep (r14 review): a shutdown hook never runs under
  // SIGKILL / OOM-kill — the BASELINE.md "Tight-memory spill rehearsal"
  // drove such crashes — so orphaned per-pid dirs would otherwise
  // accumulate until the tmp filesystem fills. Once per JVM, before the
  // first dir is created, remove any sibling graft-fmt-* dir whose
  // pid-hex suffix names a process that no longer exists (or exists but
  // is dead); live concurrent runs and unparseable names are left
  // untouched.
  private lazy val scratchSweep: Unit =
    try {
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      java.nio.file.Files.list(tmp).iterator().asScala.toSeq
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("graft-fmt-"))
        .foreach { p =>
          val pidHex = p.getFileName.toString.split('-').last
          val orphaned =
            try {
              val pid = java.lang.Long.parseLong(pidHex, 16)
              val h = ProcessHandle.of(pid)
              pid != ProcessHandle.current().pid() &&
                (h.isEmpty || !h.get().isAlive)
            } catch { case _: NumberFormatException => false }
          if (orphaned) deleteRecursively(p)
        }
    } catch { case _: java.io.IOException => }

  private[contract] def scratchDir(tag: String, dataset: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dataset.getBytes("UTF-8")).take(6)
      .map(b => f"$b%02x").mkString
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-fmt-$tag-$key-$scratchNonce")
    scratchSweep
    scratchHook
    scratchCreated.add(p)
    p.toString
  }

  /** Gated pin for a subtree consumed more than once inside one query
    * (r21, guide §1.2 "don't compute things twice"): localCheckpoint when
    * the SOURCE table is provably small (the same 512 MB bound the dedup
    * fronts use — see [[graft.operators.Dedup.shingleToksPlan]]'s
    * dispatch rationale), recompute at scale so nothing corpus-sized is
    * ever pinned in the block manager. Bench/Verify release all
    * persistent RDDs after each query. */
  private[contract] def ckptIfSmall(base: DataFrame)(df: DataFrame): DataFrame =
    if (base.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(512L << 20)) df.localCheckpoint()
    else df

  /** MinHash lane-minima CTEs (toks → shingles → 16 md5 lanes) — shared by
    * the LSH pair chain below and q96's streaming-dedup signature mirror. */
  private[contract] def minhashLaneCtesFor(extraWhere: String): String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0$extraWhere),
      |sh AS (
      |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |  FROM toks,
      |  LATERAL unnest(range(1,
      |    (CASE WHEN len(t) = 0 THEN 0 ELSE greatest(len(t) - 2, 1) END) + 1)) AS u(i)),
      |lanes AS (SELECT unnest(range(0, 16)) AS lane),
      |minh AS (
      |  SELECT doc_id, lane,
      |    min(substring(md5(s) || md5(s), CAST(2*lane+1 AS INTEGER), 8)) AS h
      |  FROM sh CROSS JOIN lanes GROUP BY doc_id, lane)""".stripMargin

  private[contract] val minhashLaneCtes: String = minhashLaneCtesFor("")

  /** Shared CTE chain producing the MinHash LSH candidate pairs (q29), also
    * the edge source for q63's recursive-CTE connected components. */
  private[contract] def minhashPairCtesFor(extraWhere: String): String =
    s"""${minhashLaneCtesFor(extraWhere)},
      |banded AS (
      |  SELECT doc_id, CAST(lane // 4 AS BIGINT) AS band,
      |         md5(string_agg(h, '|' ORDER BY lane)) AS bh
      |  FROM minh GROUP BY doc_id, lane // 4),
      |counted AS (
      |  SELECT *, count(*) OVER (PARTITION BY band, bh) AS bucket_n FROM banded),
      |pruned AS (
      |  SELECT doc_id, band, bh FROM counted
      |  WHERE bucket_n <= 1000 AND bucket_n > 1)""".stripMargin

  private[contract] val minhashPairCtes: String = minhashPairCtesFor("")

  private[contract] val minhashPairSelect: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM pruned a JOIN pruned b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin
}
