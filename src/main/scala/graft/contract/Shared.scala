package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.NioLocalFileSystem.deleteRecursively


/** Helpers the contract families share: exact money sums, the scratch
  * directories and the MinHash oracle CTE chains. */
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

  // ---- scratch directories for the write and stream queries ----
  private val scratchNonce: String =
    java.lang.Long.toHexString(ProcessHandle.current().pid())

  /** First 6 bytes of the MD5 of the FULL dataset path, in hex (a 32-bit
    * String.hashCode can collide across datasets). */
  private def datasetKey(dataset: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dataset.getBytes("UTF-8")).take(6)
      .map(b => f"$b%02x").mkString

  /** Per-dataset + per-process token for session-global names: memory-sink
    * views and q192's tables. Two concurrent runs over the SAME dataset
    * must not race on one view. Hex only, so it stays a valid identifier
    * fragment. */
  private[contract] def datasetTok(dataset: String): String =
    datasetKey(dataset) + scratchNonce

  /** The one per-process scratch parent,
    * `<java.io.tmpdir>/graft-fmt-<pidhex>`. A query cannot delete its
    * scratch itself (the returned DataFrame reads it lazily), so the
    * parent is removed at JVM exit. A SIGKILL or OOM
    * kill skips that hook, so before the parent is first made, every
    * sibling `graft-fmt-*` dir whose pid-hex suffix names a dead process is
    * removed; live concurrent runs and unparseable names are left alone. */
  private lazy val scratchParent: java.nio.file.Path = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(tmp).iterator().asScala.toSeq
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("graft-fmt-"))
        .foreach { p =>
          val orphaned =
            try {
              val pid = java.lang.Long.parseLong(
                p.getFileName.toString.split('-').last, 16)
              val h = ProcessHandle.of(pid)
              pid != ProcessHandle.current().pid() &&
                (h.isEmpty || !h.get().isAlive)
            } catch { case _: NumberFormatException => false }
          if (orphaned) deleteRecursively(p)
        }
    } catch { case _: java.io.IOException => }
    val parent = tmp.resolve(s"graft-fmt-$scratchNonce")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(parent)))
    parent
  }

  /** An empty scratch directory for query `tag` over `dataset`:
    * `<scratch parent>/<tag>-<MD5 prefix of the dataset path>`, deleted
    * first if an earlier build left it. One directory per (tag, dataset)
    * and process, so concurrent runs, and runs over two datasets, never
    * share a directory between a write and its read-back. */
  private[contract] def scratch(tag: String,
      dataset: String): java.nio.file.Path = {
    val p = scratchParent.resolve(s"$tag-${datasetKey(dataset)}")
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p)
  }

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
