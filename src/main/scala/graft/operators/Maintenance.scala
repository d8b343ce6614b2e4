package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse table maintenance. The reference never needs this (it
  * INSERTs into Azure SQL), but any 100 TB parquet deployment of these
  * pipelines does: incremental loads (S13 dynamic partition overwrite,
  * streaming sinks) accrete small files until scan task scheduling and
  * footer reads dominate query time. */
object Maintenance {

  /** Order-independent table fingerprint — equality verification for a
    * migration/replication/compaction without sorting either side: each
    * row hashes to two independent 60-bit lanes (disjoint md5 substrings
    * of the sentinel-coalesced, separator-joined column strings) and the
    * fingerprint is (row count, each lane's exact sum reduced mod 2^61).
    * Addition commutes and reducing the exact sum once at the end keeps
    * the result independent of row order, partitioning, and engine; two
    * tables agreeing on all three fields match with collision odds
    * ~n^2/2^122 (and unlike a row-count check, a swapped value or
    * duplicated-row/lost-row pair flips the lanes). The lanes are < 2^61,
    * i.e. plain non-negative int64s — portable through any downstream
    * comparator without big-decimal canonicalization hazards.
    *
    * Contract: pass columns whose string forms are canonical across
    * engines — integers, strings, dates, booleans. Doubles format
    * differently engine-to-engine; quantize them to integers first.
    *
    * Scale: a narrow map plus one partially-aggregated global sum — no
    * shuffle of data rows, no sort, nothing driver-side. */
  def tableFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    val rowMd5 = md5(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
    def lane(from: Int) =
      conv(substring(rowMd5, from, 15), 16, 10).cast("decimal(38,0)")
    val two61 = lit(2305843009213693952L) // 2^61
    df.select(lane(1).as("a"), lane(17).as("b"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("a")).cast("decimal(38,0)").as("sa"),
        sum(col("b")).cast("decimal(38,0)").as("sb"))
      .select(col("n_rows"),
        (col("sa") % two61).cast("long").as("lane_a"),
        (col("sb") % two61).cast("long").as("lane_b"))
  }

  /** Merge two [[tableFingerprint]] results into the fingerprint of the
    * UNION of their (disjoint) inputs — the incremental-maintenance
    * property that lets a 100 TB table's fingerprint be maintained
    * per-partition and folded, never recomputed: counts add, and lane
    * sums add mod 2^61 ((x+y) mod m = ((x mod m)+(y mod m)) mod m, and
    * two residues < 2^61 sum within LONG). */
  def mergeFingerprints(fa: DataFrame, fb: DataFrame): DataFrame = {
    val two61 = lit(2305843009213693952L)
    fa.select(col("n_rows").as("n1"), col("lane_a").as("a1"),
        col("lane_b").as("b1"))
      .crossJoin(fb.select(col("n_rows").as("n2"), col("lane_a").as("a2"),
        col("lane_b").as("b2")))
      .select((col("n1") + col("n2")).cast("long").as("n_rows"),
        ((col("a1") + col("a2")) % two61).cast("long").as("lane_a"),
        ((col("b1") + col("b2")) % two61).cast("long").as("lane_b"))
  }

  /** Declarative data-quality rule suite — constraints as DATA (the
    * categorizer-table pattern applied to validation): each rule is
    * (name, SQL predicate, severity), and ALL rules evaluate in ONE
    * aggregate pass over the table (per-rule conditional sums — no
    * per-rule scan, no Deequ-style job per constraint). A NULL predicate
    * counts as a violation (the three-valued-logic trap made explicit).
    * Returns one row per rule: rule, severity, n_rows, n_viol,
    * viol_rate_r (exact half-up 6dp).
    *
    * Scale: one partial-aggregatable scan regardless of rule count; the
    * explode of the N-rule result struct array touches N rows total. */
  def dqRuleReport(df: DataFrame,
      rules: Seq[(String, String, String)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = rules.zipWithIndex.map { case ((_, pred, _), i) =>
      sum(when(!coalesce(expr(pred), lit(false)), 1L).otherwise(0L))
        .as(s"_v$i")
    }
    val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val rows = rules.zipWithIndex.map { case ((name, _, sev), i) =>
      struct(lit(name).as("rule"), lit(sev).as("severity"),
        col("_n").cast("long").as("n_rows"),
        col(s"_v$i").cast("long").as("n_viol"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.severity").as("severity"),
        col("r.n_rows").as("n_rows"), col("r.n_viol").as("n_viol"))
      .withColumn("viol_rate_r",
        Corpus.ratioRound6(col("n_viol"), col("n_rows")))
  }

  /** Exact equi-width histogram of a 2-decimal numeric column — the data
    * profile behind load-time sanity gates (distribution drift, outlier
    * bands) and bin-pruned range scans. Values are quantized to integer
    * cents so the bin edges, counts, and per-bin sums are engine-exact:
    * bin = (c - min) * bins DIV (max - min + 1) in pure int64 arithmetic,
    * which lands the maximum in the last bin with no clamp and never
    * straddles a float boundary. Per-bin lo/hi are the observed extremes
    * (data-derived, exact), and the sum goes through a DECIMAL(18,0)
    * cents accumulator (order-independent) before one double division.
    *
    * Scale: two scans of a single projected column (one for global
    * min/max, one to bin), a broadcast of the 1-row stats, and a groupBy
    * on ≤ `bins` keys — partial aggregation collapses each map task to
    * ≤ `bins` rows before the (tiny) exchange. No sort, no driver loop. */
  def equiWidthHistogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, "need at least one bin")
    import org.apache.spark.sql.types.DecimalType
    val ev = df.select(round(col(valueCol) * 100).cast("long").as("c"))
      .filter(col("c").isNotNull)
    val stats = ev.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    ev.crossJoin(broadcast(stats))
      .withColumn("bin",
        expr(s"CAST(((c - mn) * $bins) DIV (mx - mn + 1) AS BIGINT)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        (min(col("c")) / lit(100.0)).as("lo"),
        (max(col("c")) / lit(100.0)).as("hi"),
        (sum(col("c").cast(DecimalType(18, 0))) / lit(100))
          .cast("double").as("sum_value"))
  }

  /** Chi-squared contingency profile of two categorical columns — the
    * independence diagnostic behind "did the lang mix shift per source"
    * style drift gates. One row per observed (a, b) cell with its count,
    * marginals, and the cell's χ² contribution (N·O − R·C)²/(N·R·C) —
    * the integer-exact rearrangement of (O−E)²/E that never materializes
    * the fractional expectation. The numerator square is computed in
    * DECIMAL(38,0) and the half-up micro-unit rounding happens per cell
    * (microBits pattern), so each contribution — and any sum of them —
    * is engine-identical. Σ contrib_u / 1e6 is the χ² statistic.
    *
    * Scale: one partial-aggregatable groupBy collapses the corpus to the
    * |A|×|B|-bounded cell table; marginals are windows OVER THAT TABLE
    * (cells, not rows), so nothing corpus-sized is sorted or re-read. */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("o"))
    val wa = Window.partitionBy(col(aCol))
    val wb = Window.partitionBy(col(bCol))
    val wn = Window.partitionBy()
    val withM = cells
      .withColumn("r", sum(col("o")).over(wa))
      .withColumn("c", sum(col("o")).over(wb))
      .withColumn("n", sum(col("o")).over(wn))
    // The products must be DECIMAL *before* any multiply: n·o and r·c
    // are Long×Long (wraps past ~3e9 rows) and diff² reaches N⁴ — the
    // oracle side is already exact (DuckDB windowed sums are HUGEINT),
    // so Long wrap here would be a silent Spark-only divergence at scale.
    val dec = DecimalType(38, 0)
    val diff = col("n").cast(dec) * col("o") - col("r").cast(dec) * col("c")
    val num = diff * diff
    val den = col("n").cast(dec) * col("r") * col("c")
    withM.select(col(aCol), col(bCol), col("o").cast("long").as("o"),
      col("r").cast("long").as("r"), col("c").cast("long").as("c"),
      col("n").cast("long").as("n"),
      call_function("div", num * lit(2000000L) + den, den * lit(2L))
        .as("contrib_u"))
      .withColumn("contrib_r", col("contrib_u").cast("double") / lit(1e6))
  }

  /** Benford first-digit profile — the fraud/fabrication smell test for
    * naturally-occurring amounts: observed share of each leading
    * significant digit vs Benford's log10(1 + 1/d) expectation. The
    * digit is the first character of the INTEGER-CENTS decimal string
    * (for |v| ≥ 0.01 that equals the first significant digit of v),
    * which sidesteps the floor(log10(v)) float hazard at powers of ten;
    * integer-string casts are canonical on every engine. Expected shares
    * are 6-dp constants, observed shares exact half-up ratios.
    *
    * Scale: map-only digit extraction + one partial-aggregatable groupBy
    * to ≤ 9 rows; the total is a window over those 9 rows. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val c = abs(round(col(valueCol) * 100)).cast("long")
    val counts = df
      .filter(col(valueCol).isNotNull && c =!= 0L)
      .groupBy(substring(c.cast("string"), 1, 1).cast("long").as("digit"))
      .agg(count(lit(1)).as("n"))
    val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val expected = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, d) =>
      when(col("digit") === d.toLong, lit(benford(d - 1))).otherwise(acc)
    }
    counts
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n").cast("long").as("n"),
        col("total").cast("long").as("total"),
        Corpus.ratioRound6(col("n"), col("total")).as("share_r"),
        expected.as("benford_r"))
  }

  /** Exact equi-depth histogram — quantile buckets instead of [[
    * equiWidthHistogram]]'s fixed-width bins: bucket(v) = ⌊cum_lt(v)·B/N⌋
    * where cum_lt counts rows STRICTLY below v, so every duplicate of a
    * value lands in one bucket (a corpus-hot value owns its whole span
    * and later buckets may be empty — depth is approximate exactly when
    * the data is, never arbitrarily split). All-integer arithmetic;
    * per-bucket row/distinct counts and observed value extremes.
    *
    * Scale: one partial-aggregatable groupBy collapses the corpus to the
    * distinct-value table; the cumulative window sorts THAT table only
    * (the q158 AUC posture — quantize the value to bound it at 100 TB). */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, "need at least one bucket")
    val byV = df
      .select(round(col(valueCol) * 100).cast("long").as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("c")).agg(count(lit(1)).as("n"))
    val below = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byV
      .withColumn("cum_lt", coalesce(sum(col("n")).over(below), lit(0L)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .groupBy(call_function("div", col("cum_lt") * lit(buckets.toLong),
        col("total")).as("bucket"))
      .agg(sum(col("n")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_distinct"),
        (min(col("c")) / lit(100.0)).as("lo"),
        (max(col("c")) / lit(100.0)).as("hi"))
  }

  /** Column completeness/cardinality profile — the ingest-time data-
    * quality report (Deequ-style): per column, row count, non-null
    * count, exact distinct count, and the completeness share. One row
    * per profiled column, any column type.
    *
    * Scale: one aggregate PER COLUMN, unioned — deliberately not a
    * single multi-countDistinct aggregate (that expands every row
    * |cols|× before the shuffle); each per-column plan prunes the scan
    * to that one column, so the work is Σ |column bytes|, not
    * |cols| × |table|. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    cols.map { c =>
      df.agg(count(lit(1)).as("n"), count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n").cast("long").as("n"),
          col("n_nonnull").cast("long").as("n_nonnull"),
          col("n_distinct").cast("long").as("n_distinct"),
          Corpus.ratioRound6(col("n_nonnull"), col("n"))
            .as("completeness_r"))
    }.reduce(_ unionByName _)
  }

  /** Winsorized summary — robust statistics after clipping to exact-rank
    * percentile thresholds: lo = smallest value whose inclusive
    * cumulative count ≥ ⌈n·1/100⌉ (hi likewise at 99/100), values
    * clamped to [lo, hi] before the cents-exact sum. Exact-rank (not
    * interpolated) thresholds keep every quantity integer, so the
    * outlier-robust mean is engine-identical. One row: n, thresholds,
    * clip counts, winsorized sum and mean.
    *
    * Scale: the corpus collapses once to the distinct-cents table; the
    * cumulative, the threshold picks, and the clamped re-aggregation all
    * run over that table (the q163 posture). */
  def winsorizedStats(df: DataFrame, valueCol: String): DataFrame = {
    val byV = df.select(round(col(valueCol) * 100).cast("long").as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val cum = byV.withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
    val th = cum.agg(
      min(when(col("cum") * lit(100L) >= col("n") * lit(1L),
        col("c"))).as("lo_c"),
      min(when(col("cum") * lit(100L) >= col("n") * lit(99L),
        col("c"))).as("hi_c"),
      max(col("n")).as("n"))
    val clamped = byV.crossJoin(broadcast(th))
      .select(col("cnt"), col("c"), col("lo_c"), col("hi_c"), col("n"),
        greatest(col("lo_c"), least(col("hi_c"), col("c"))).as("w"))
    clamped.groupBy(col("lo_c"), col("hi_c"), col("n"))
      .agg(sum(when(col("c") < col("lo_c"), col("cnt")).otherwise(0L))
          .cast("long").as("n_clip_lo"),
        sum(when(col("c") > col("hi_c"), col("cnt")).otherwise(0L))
          .cast("long").as("n_clip_hi"),
        sum(col("cnt") * col("w")).cast("long").as("wins_sum_c"))
      .select(col("n").cast("long").as("n"), col("lo_c"), col("hi_c"),
        col("n_clip_lo"), col("n_clip_hi"), col("wins_sum_c"),
        Corpus.ratioRound6(col("wins_sum_c"), col("n") * lit(100L))
          .as("wins_mean_r"))
  }

  /** Numeric distribution drift — "did the value distribution move
    * between the first and second half of the period": values quantized
    * to integer cents, binned into 10 bins by the [[equiWidthHistogram]] formula
    * over the GLOBAL min/max (both periods share the exact same bin
    * edges — separate per-period binning would manufacture drift), the
    * time split at the integer midpoint day, and the per-bin PSI
    * contributions delegated to [[Corpus.distributionDrift]] (Laplace-
    * smoothed, micro-bit log ratios).
    *
    * Scale: map-only bin/period assignment after one broadcast stats
    * row; the drift compare runs on two ≤ 10-row aggregates. */
  def numericDrift(df: DataFrame, valueCol: String,
      tsCol: String): DataFrame = {
    val ev = df.filter(col(valueCol).isNotNull)
      .select(round(col(valueCol) * 100).cast("long").as("c"),
        to_date(col(tsCol)).as("day"))
    val stats = ev.agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
      min(col("day")).as("d0"), max(col("day")).as("d1"))
    val binned = ev.crossJoin(broadcast(stats))
      .withColumn("bin",
        expr("CAST(((c - mn) * 10) DIV (mx - mn + 1) AS BIGINT)"))
      .withColumn("is_a", datediff(col("day"), col("d0")).cast("long") <=
        call_function("div", datediff(col("d1"), col("d0")).cast("long"),
          lit(2L)))
    Corpus.distributionDrift(
      binned.filter(col("is_a")).select(col("bin")),
      binned.filter(!col("is_a")).select(col("bin")), "bin")
  }

  /** Rewrite a parquet directory into ~`targetBytes`-sized files.
    *
    * Sizing is derived from the CURRENT on-disk bytes (post-compression),
    * so the rewrite hits the target without sampling row widths. The
    * rewrite lands in `dir + ".compact.tmp"` and swaps in atomically at
    * the directory level (rename), keeping readers consistent on POSIX
    * filesystems; object stores should point this at a staging prefix and
    * flip a catalog/manifest instead.
    *
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(path)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact.tmp")
    fs.delete(tmp, true)
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)

    val old = new org.apache.hadoop.fs.Path(dir + ".compact.old")
    fs.delete(old, true)
    require(fs.rename(path, old), s"could not move $dir aside")
    require(fs.rename(tmp, path), s"could not swap compacted dir into $dir")
    fs.delete(old, true)
    (before.length, parquetFiles(path).length)
  }
}
