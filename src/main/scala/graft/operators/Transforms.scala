package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operator inventory (SURVEY §2) as reusable
  * `DataFrame => DataFrame` combinators. Each maps 1:1 to a §2 row and is
  * expressed with built-in Catalyst operators so predicate pushdown, column
  * pruning, partial aggregation and join-strategy selection come for free.
  */
object Transforms {

  /** J1 — per-entity watermark application ("keep rows newer than the last
    * load per key"). The reference drives this row-by-row from a Python loop
    * over `(symbol, maxDate)` pairs (`HTGPIYAHOO/__init__.py:74-96`,
    * `HTGPIPROPHEDEX/__init__.py:542-559`); here it is one broadcast hash
    * join + predicate — the watermark side is tiny by construction, so no
    * shuffle of the big incoming side at any scale. */
  def watermarkFilter(incoming: DataFrame, watermarks: DataFrame,
      keys: Seq[String], eventCol: String, watermarkCol: String): DataFrame =
    incoming.join(broadcast(watermarks), keys, "left")
      .filter(col(watermarkCol).isNull || col(eventCol) > col(watermarkCol))
      .drop(watermarkCol)

  /** A1 — watermark derivation: `SELECT key, MAX(ts) ... GROUP BY key`
    * (`HTGPIYAHOO/__init__.py:38`). Partial+final hash agg; at scale this is
    * a map-side-combined single shuffle on the key. */
  def watermarks(df: DataFrame, key: String, ts: String,
      out: String = "max_date"): DataFrame =
    df.groupBy(col(key)).agg(max(col(ts)).as(out))

  /** W1/W2 — grouped top-k with a total tiebreak order, the Spark form of the
    * reference's generated `SELECT TOP 3 ... ROW_NUMBER() OVER (ORDER BY
    * mdist)` (`HTIPNEXSITE/__init__.py:106-122`). Callers must include a
    * unique tiebreaker in `order` for deterministic results. */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column], order: Seq[Column],
      k: Int, rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Z-order (Morton) interleave of two 16-bit keys — the multi-dimensional
    * clustering key lakehouse layouts sort/range-partition by so that file
    * min/max statistics prune BOTH dimensions at scan time. At 100 TB:
    * `df.repartitionByRange(col("z")).sortWithinPartitions("z").write...`
    * gives every file a tight (custkey × day) bounding box. Pure integer
    * bit-math (32 codegen'd terms), no UDF.
    *
    * RANGE-NORMALIZE each dimension onto the full 16-bit domain first
    * (`(x - min) * 65535 / (max - min)`): interleaving raw keys with
    * unequal bit-widths degenerates to sorting by the wider dimension
    * alone — measured in ScaleSpec, which proves per-file spans shrink in
    * BOTH dimensions only after normalization. */
  def zorder16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Global (ungrouped) top-k with rank: `orderBy + limit` plans as
    * TakeOrderedAndProject — per-partition heaps merged at the driver, never
    * a single-partition window over the full input — and the `row_number`
    * ranking window then runs over only the k survivors. `order` must be a
    * total order (include a unique tiebreaker). */
  def globalTopK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** W4 — last-non-null carry-forward ("previous row's geography" in the
    * WASDE sheet parsers, `HTGPIWASDE/__init__.py:807-808,924-925`). */
  def carryForward(df: DataFrame, valueCol: String, partitionBy: Seq[Column],
      order: Seq[Column], out: String): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** F6 — ordered regex-rule categorizer. The reference applies ~40 regex
    * masks where **later rules overwrite earlier matches** (last-writer-wins,
    * `PGSITE/__init__.py:144-281`); a naive `when` chain is first-match-wins,
    * so the chain is built from the reversed rule list (SURVEY §7.4 risk 2).
    * Regex literals are compiled once per task by codegen. */
  def categorize(rules: Seq[(String, String)], default: String)(input: Column): Column =
    // flat Coalesce, not a nested fold — deep Coalesce nesting triggers a
    // pathological subexpression-elimination traversal at planning time
    // (observed at 47 rules: minutes; flat: instant). First non-null arm
    // of the REVERSED list = last matching rule, same semantics.
    coalesce(rules.reverse.map { case (pattern, cat) =>
      when(input.rlike(pattern), cat)
    } :+ lit(default): _*)

  /** SO2 — unpivot/melt (wide year×month → long,
    * `HTGPIINFLATUS/__init__.py:91`). */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String, valName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  /** SO3 — pivot with an explicit value list (quotes long→wide,
    * `HTGPIPROPHEDEX/__init__.py:392,854`). Passing `values` avoids the extra
    * distinct-collection job Spark otherwise runs. */
  def pivotAgg(df: DataFrame, groupCols: Seq[Column], pivotCol: String,
      values: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(groupCols: _*).pivot(pivotCol, values).agg(aggs.head, aggs.tail: _*)

  /** Deterministic hash-based stratified sampling — the training-data
    * mixing primitive: each stratum keeps `rate(stratum)` of its rows,
    * decided per row by an md5 bucket of the id (portable across engines,
    * so the sample is reproducible AND oracle-checkable — same reasoning
    * as the portable minhash/simhash signatures). Pure map-side filter:
    * no shuffle, no RNG state, stable under repartitioning — at 100 TB
    * the sample of a partition depends only on that partition's rows.
    * `rates` maps stratum value → bucket threshold out of 4096. */
  def hashStratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Long], defaultThreshold: Long): DataFrame = {
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 3), 16, 10)
      .cast("long")
    val threshold = coalesce(
      element_at(typedLit(rates), col(stratumCol)), lit(defaultThreshold))
    df.withColumn("bucket", bucket).filter(col("bucket") < threshold)
  }

  /** F13 — guarded ratio (`Stocks_to_Use = Ending/TotalUse*100`, 0 when the
    * denominator is 0 — `HTGPIWASDE/__init__.py:714-718`). */
  def guardedRatio(num: Column, den: Column, scale: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num / den * scale)

  /** F11 — load-timestamp stamping (`df['actualizacion'] = now()`, every
    * pipeline, e.g. `HTGPIENSO/__init__.py:87`). */
  def stampActualizacion(df: DataFrame): DataFrame =
    df.withColumn("actualizacion", current_timestamp())

  /** F14 — null repair: `''`/`'NA'` → 0 (`HTGPIWASDE/__init__.py:1204-1207`),
    * `fillna(0)` (`HTGPICFT/__init__.py:103`). */
  def repairNumeric(raw: Column): Column =
    coalesce(when(trim(raw) === "" || upper(trim(raw)) === "NA", lit("0"))
      .otherwise(trim(raw)).try_cast("double"), lit(0.0))

  /** As-of join (beyond the reference — SURVEY §2.3 notes none exist there;
    * this is the canonical extension for time-series enrichment): for every
    * left row, the latest right row with `right.ts <= left.ts` per key.
    *
    * Delegates to [[asofJoinDirectional]] with `direction = "backward"`
    * (same plan shape: tag + union + ONE per-key ordered carry, no range
    * product). The delegation matters for correctness, not just reuse:
    * the old standalone body filled each payload column INDEPENDENTLY
    * with its own last-non-null carry, so a matched right row holding a
    * null in one payload column got that column stitched in from an
    * OLDER right row — a row that never existed (r14 review). The struct
    * carry matches the whole row, the way DuckDB's native ASOF JOIN (the
    * q44 oracle) does. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      payloadCols: Seq[String]): DataFrame =
    asofJoinDirectional(left, right, key, ts, payloadCols,
      direction = "backward").drop("asof_ts")

  /** Directional as-of join — [[asofJoin]] widened to the full
    * pandas-merge_asof surface: `direction` ∈ backward (latest right with
    * rts ≤ ts — [[asofJoin]]'s semantics), forward (earliest right with
    * rts ≥ ts), nearest (smaller |rts − ts|, backward wins ties), all
    * inclusive at equal timestamps; `toleranceSeconds ≥ 0` nulls the
    * payload when the matched |Δts| exceeds it (the match is dropped, the
    * left row survives — merge_asof semantics).
    *
    * Same scale shape as [[asofJoin]]: tag + union + per-key ordered
    * carry — ONE exchange on the key (the two fill directions sort the
    * same exchange twice; Catalyst reuses it), O(1) state per key, no
    * range product. The right payload travels as ONE struct so k payload
    * columns cost one fill, not k. Right rows tie-break by the payload
    * struct itself, so equal-(key, ts) right rows resolve
    * deterministically on both engines. Output: every left row +
    * `asof_ts` (matched right timestamp, null when no match/out of
    * tolerance) + the payload columns. */
  def asofJoinDirectional(left: DataFrame, right: DataFrame, key: String,
      ts: String, payloadCols: Seq[String], direction: String,
      toleranceSeconds: Long = -1L): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown direction: $direction")
    val leftCols = left.columns.filterNot(c => c == key || c == ts)
    val rStruct = struct(
      (col(ts).as("_rts") +: payloadCols.map(col)): _*)
    val lTagged = left.withColumn("_is_left", lit(1))
      .select(Seq(col(key), col(ts), col("_is_left")) ++ leftCols.map(col) :+
        lit(null).cast(org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("_rts",
            right.schema(ts).dataType) +:
            payloadCols.map(c => org.apache.spark.sql.types.StructField(c,
              right.schema(c).dataType)))).as("_r"): _*)
    val rTagged = right.withColumn("_is_left", lit(0))
      .select(Seq(col(key), col(ts), col("_is_left")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        rStruct.as("_r"): _*)
    val u = lTagged.unionByName(rTagged)
    // backward: right(0) sorts BEFORE left(1) at equal ts → inclusive ≤
    val wB = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("_is_left").asc, col("_r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward: left(1) sorts BEFORE right(0) at equal ts → inclusive ≥
    val wF = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("_is_left").desc, col("_r").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = direction match {
      case "backward" =>
        u.withColumn("_m", last(col("_r"), ignoreNulls = true).over(wB))
      case "forward" =>
        u.withColumn("_m", first(col("_r"), ignoreNulls = true).over(wF))
      case "nearest" =>
        val b = last(col("_r"), ignoreNulls = true).over(wB)
        val f = first(col("_r"), ignoreNulls = true).over(wF)
        val dB = unix_micros(col(ts)) - unix_micros(b.getField("_rts"))
        val dF = unix_micros(f.getField("_rts")) - unix_micros(col(ts))
        u.withColumn("_m",
          when(b.isNull, f).when(f.isNull, b)
            .when(dB <= dF, b).otherwise(f))
    }
    val withTol =
      if (toleranceSeconds < 0) filled
      else filled.withColumn("_m",
        when(abs(unix_micros(col(ts)) -
            unix_micros(col("_m").getField("_rts"))) <=
          toleranceSeconds * 1000000L, col("_m")))
    withTol.filter(col("_is_left") === 1)
      .select((Seq(col(key), col(ts)) ++ leftCols.map(col)) ++
        (col("_m").getField("_rts").as("asof_ts") +:
          payloadCols.map(c => col("_m").getField(c).as(c))): _*)
  }

  /** Interval join WITHOUT an equi-key: pairs (l, r) with
    * `l(ts) ∈ [r(lo), r(hi))`. The naive plan is a cross join with a range
    * predicate — O(|L|·|R|) at any scale. This banded form buckets time into
    * `bandSeconds` cells, explodes each right interval onto the cells it
    * covers (≤ ⌈len/band⌉+1 rows), equi-joins on the cell, then applies the
    * exact half-open predicate — the shuffle is an ordinary hash join on a
    * dense integer key, so AQE/skew handling applies. Pick `bandSeconds`
    * near the typical interval length: shorter bands fan out the right side,
    * longer bands widen candidate lists. */
  def intervalJoin(left: DataFrame, ts: String, right: DataFrame,
      lo: String, hi: String, bandSeconds: Long): DataFrame = {
    val micros = bandSeconds * 1000000L
    // `div` = exact long division (double division loses microseconds for
    // far-future epochs past 2^53 µs).
    val l = left.withColumn("_us", unix_micros(col(ts)))
      .withColumn("_b", expr(s"_us div ${micros}L")).drop("_us")
    val r = right.withColumn("_lo_b", expr(s"unix_micros($lo) div ${micros}L"))
      .withColumn("_hi_b", expr(s"unix_micros($hi) div ${micros}L"))
      .withColumn("_b", explode(sequence(col("_lo_b"), col("_hi_b"))))
      .drop("_lo_b", "_hi_b")
    l.join(r, Seq("_b"))
      .filter(col(ts) >= col(lo) && col(ts) < col(hi))
      .drop("_b")
  }

  /** Skew-safe two-phase aggregation ("salting", SURVEY §7.4 risk 6 /
    * builder-prompt scale checklist): when one group key carries a
    * disproportionate share of rows, a single hash aggregate hot-spots one
    * reducer. Phase 1 aggregates on (key, salt) — spreading the hot key over
    * `saltBuckets` reducers — phase 2 merges the partials. Works for any
    * algebraic aggregate supplied as (partial, merge) column builders.
    *
    * NOTE: plain `groupBy` already does map-side partial aggregation, which
    * covers most skew; explicit salting matters when per-key STATE is large
    * (collect_list/distinct-style) or when AQE skew handling is off. */
  def saltedAggregate(df: DataFrame, key: String, saltBuckets: Int,
      partials: Seq[(String, Column => Column, Column)],
      merges: Seq[(String, Column => Column)]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val phase1 = salted.groupBy(col(key), col("_salt"))
      .agg(partials.head._2(partials.head._3).as(partials.head._1),
        partials.tail.map(p => p._2(p._3).as(p._1)): _*)
    phase1.groupBy(col(key))
      .agg(merges.head._2(col(merges.head._1)).as(merges.head._1),
        merges.tail.map(m => m._2(col(m._1)).as(m._1)): _*)
  }

  /** S2 — fixed-width line parser (NOAA ENSO `.for` layout,
    * `HTGPIENSO/__init__.py:77`): projects each `(name, width)` slice of a
    * text line column. Trims each cell like `pd.read_fwf`. */
  def parseFixedWidth(line: Column, layout: Seq[(String, Int)]): Seq[Column] = {
    val offsets = layout.scanLeft(1) { case (pos, (_, w)) => pos + w }
    layout.zip(offsets).map { case ((name, w), pos) =>
      trim(substring(line, pos, w)).as(name)
    }
  }

  /** Per-stratum percentile filter — "keep the top `keepFrac` of each
    * language by quality" and every other quantile-cutoff selection.
    * Exact (window `percent_rank`, not approx sketches) and deterministic
    * when `order` ends with a unique tiebreaker; the window is partitioned
    * by the stratum, never global, so each stratum ranks in its own
    * tasks at any corpus size. */
  def percentileFilter(df: DataFrame, partitionBy: Seq[Column],
      order: Seq[Column], keepFrac: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= keepFrac)
  }

  /** Deterministic pseudo-random corpus shuffle — the final "shuffle the
    * training data" step. Each row gets a reproducible shuffle key
    * (md5 of "shuf" + id), one of 32 shards from the key's top byte, and its ordinal
    * within the shard; reading shards in (shard, pos) order yields the
    * same global permutation on every run, on any cluster size. The
    * ranking window is partitioned by shard — never global — and a real
    * write would `repartitionByRange(skey)` + sort-within-partitions so
    * each output file is one contiguous slice of the permutation. */
  def deterministicShuffle(df: DataFrame, idCol: String): DataFrame = {
    val skey = md5(concat_ws("|", lit("shuf"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("skey"), col(idCol))
    df.select(col(idCol), skey.as("skey"))
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 2), 16, 10).cast("long"),
          lit(32L)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Cohort retention — users grouped by first-activity day, then per
    * (cohort_day, day_offset) the count of cohort members active that
    * day and the exact-integer retention share. All-integer (dates and
    * counts), so it hash-matches any engine.
    *
    * Scale: first-activity and distinct active-days are both
    * partial-aggregatable user-keyed aggregates; the final aggregate runs
    * over (user, day) rows. No windows. */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val firstDay = events.groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    val cohortSize = firstDay.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_n"))
    val activeDays = events
      .select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
    activeDays.join(firstDay, userCol)
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(cohortSize, "cohort_day")
      .select(col("cohort_day"), col("day_offset"),
        col("n_active").cast("long").as("n_active"),
        col("cohort_n").cast("long").as("cohort_n"),
        Corpus.ratioRound6(col("n_active"), col("cohort_n")).as("retention_r"))
  }

  /** The (from_type, next_type, n) successor-pair count table — the
    * shared core of [[eventTransitions]] and [[transitionEntropy]], so
    * the successor ordering/tie semantics cannot drift between the
    * transition matrix and its entropy (r14 review). */
  private def transitionCounts(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("next_type", lead(col(typeCol), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-user event-type transition matrix (first-order Markov over the
    * clickstream): consecutive-event pairs by time order, transition
    * counts, and the exact-integer conditional share P(next | from).
    * `tieCol` must make the per-user order total (an event id).
    *
    * Scale: ONE window partitioned by user (each partition is one user's
    * events — bounded), then a type²-bounded aggregate; the conditional
    * denominator is a window over that aggregate, not the corpus. */
  def eventTransitions(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val pairs = transitionCounts(events, userCol, typeCol, tsCol, tieCol)
    val wFrom = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("n_from", sum(col("n")).over(wFrom))
      .select(col("from_type"), col("next_type"),
        col("n").cast("long").as("n"),
        col("n_from").cast("long").as("n_from"),
        Corpus.ratioRound6(col("n"), col("n_from")).as("p_r"))
  }

  /** Time-decayed aggregates — recency weighting for feature engineering
    * and trending-content ranking: each event contributes
    * 2^(−age/halfLife), so yesterday's click outweighs last month's.
    * The anchor is max(ts) over the input (deterministic, broadcast).
    *
    * Determinism across engines: each event's weight is rounded to
    * 1e-6 (micro-units, LONG) BEFORE summing — the microBits pattern —
    * so neither libm's last-ulp pow() variance nor Spark's partial-
    * aggregation order can move the total. Ages are exact integer
    * seconds (floor-epoch differences agree with date_diff('second')).
    * Value mass is exact integer cents times micro-weights.
    *
    * Scale: one 1-row anchor broadcast + one partial-aggregatable hash
    * aggregate; no windows, no sorting. */
  def timeDecayedAgg(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, halfLifeSeconds: Long): DataFrame = {
    val anchor = events.agg(max(col(tsCol)).as("_anchor"))
    val aged = events.crossJoin(broadcast(anchor))
      .withColumn("_age_s",
        (unix_timestamp(col("_anchor")) - unix_timestamp(col(tsCol)))
          .cast("long"))
      .withColumn("_w_u",
        round(lit(1e6) * pow(lit(2.0),
          -col("_age_s").cast("double") / lit(halfLifeSeconds.toDouble)))
          .cast("long"))
    aged.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("_w_u")).as("decayed_n_u"),
        sum(col("_w_u") * round(col(valueCol) * lit(100)).cast("long"))
          .as("decayed_val_cu"))
      .select(col(groupCol), col("n").cast("long").as("n"),
        col("decayed_n_u").cast("long").as("decayed_n_u"),
        (col("decayed_n_u").cast("double") / lit(1e6)).as("decayed_n_r"),
        col("decayed_val_cu").cast("long").as("decayed_val_cu"))
  }

  /** Windowed exponential moving average — the truncated, engine-exact
    * form of EWMA smoothing: per key, in (tsCol, tieCol) order, each row's
    * smoothed value is the weight-normalized sum of the trailing K = 8
    * values with geometric weights (1−α)^k for lag k at α = 1/2, held as
    * the exact integers 2^(K−1−k) (the common factor cancels in the
    * ratio). Truncating at K bounds the recursion the textbook EWMA
    * can't bound — the dropped tail carries at most (1/2)^8 ≈ 0.4 % of
    * the mass — and is what
    * makes the operator a fixed-width window instead of an unbounded
    * scan-order dependency.
    *
    * Determinism across engines: values are quantized to integer cents
    * BEFORE weighting, numerator/denominator are exact LONG sums over an
    * explicit lag chain (no float window accumulation — DuckDB's
    * segment-tree windowed sums re-order float adds), and the final
    * ratio rounds by exact integer half-up ([[Corpus.ratioRound6]]).
    *
    * Scale: one hash exchange on the key + one per-key sort serves the
    * whole lag chain (a single Window node; the K lags share its frame),
    * rows carry K longs — no self-joins, no unbounded frames. */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val weights = (0 until 8).map(k => 1L << (7 - k))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val cts = round(col(valueCol) * 100).cast("long")
    val terms = (0 until 8).map { k =>
      val lv = if (k == 0) cts else lag(cts, k).over(w)
      (coalesce(lv * lit(weights(k)), lit(0L)),
        when(lv.isNotNull, lit(weights(k))).otherwise(lit(0L)))
    }
    val numSum = terms.map(_._1).reduce(_ + _)
    val denSum = terms.map(_._2).reduce(_ + _)
    df.select(col(keyCol), col(tsCol), col(tieCol), cts.as("value_c"),
      numSum.as("ewma_num"), denSum.as("ewma_den"),
      Corpus.ratioRound6(numSum, denSum * lit(100L)).as("ewma_r"))
  }

  /** Ordered-funnel analysis (the product-analytics staple): per user,
    * the earliest stage-1 event, then the earliest stage-2 event STRICTLY
    * AFTER it, and so on — an out-of-order click does not convert a view
    * that hasn't happened yet. Returns one row per user who reached stage
    * 1: (userCol, t1..tk nullable, stages_reached).
    *
    * Scale: stage i is one aggregate over stage-i events joined to the
    * previous frontier — every shuffle is keyed on the user and carries
    * only that stage's events plus one timestamp per user. No windows, no
    * per-user event sorting, no sessionization state; k stages = k
    * bounded joins, the shape that survives a 100 TB event log. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame =
    funnelChain(events, userCol, typeCol, tsCol, stages, gapUs = None)

  /** Shared stage-chaining body for [[funnel]] / [[funnelWithin]] — the
    * two differ ONLY by the optional per-step gap bound on the join
    * predicate, so the frontier logic lives once (r14 review: the
    * duplicated bodies could drift on a tie/null fix). */
  private def funnelChain(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, stages: Seq[String],
      gapUs: Option[Long]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var frontier = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      val after = col(s"e.$tsCol") > col(s"f.t$i")
      val cond = gapUs.fold(after)(g => after &&
        unix_micros(col(s"e.$tsCol")) - unix_micros(col(s"f.t$i")) <= g)
      val nxt = events.filter(col(typeCol) === st).as("e")
        .join(frontier.as("f"),
          col(s"e.$userCol") === col(s"f.$userCol") && cond)
        .groupBy(col(s"f.$userCol").as(userCol))
        .agg(min(col(s"e.$tsCol")).as(s"t${i + 1}"))
      frontier = frontier.join(nxt, Seq(userCol), "left")
    }
    frontier.withColumn("stages_reached",
      stages.indices.map(i =>
        when(col(s"t${i + 1}").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
  }

  /** [[funnel]] with a per-step TIME BOUND — the real-world conversion
    * funnel: each stage must occur within `maxGapSeconds` of the
    * previous stage's (earliest-qualifying) timestamp, not merely after
    * it. An unbounded funnel credits a purchase three months after the
    * view; this one doesn't. Same sequential min-ts chaining and scale
    * shape (stage joins are user-keyed equi-joins; the per-stage frontier
    * is one row per user). */
  def funnelWithin(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String], maxGapSeconds: Long): DataFrame = {
    require(maxGapSeconds > 0, s"maxGapSeconds must be positive")
    funnelChain(events, userCol, typeCol, tsCol, stages,
      gapUs = Some(maxGapSeconds * 1000000L))
  }

  /** Event-type co-occurrence (market-basket support + lift) — which
    * behaviors happen TOGETHER: baskets are distinct (user, day, type)
    * activity, pairs are the within-basket type pairs (a < b), and each
    * pair reports support (basket share) and lift
    * P(ab)·T / (P(a)·P(b)·T²) — both exact half-up rationals. Lift > 1
    * means the pair co-occurs more than independence predicts.
    *
    * Scale: the self-join is keyed on (user, day) with fanout bounded by
    * |types|² per basket — never a corpus×corpus join; all three count
    * tables are partial-aggregatable. */
  def typeCooccurrence(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String): DataFrame = {
    val baskets = events.select(col(userCol).as("u"),
        to_date(col(tsCol)).as("day"), col(typeCol).as("t"))
      .distinct()
    val totals = baskets.select(col("u"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val perType = baskets.groupBy(col("t")).agg(count(lit(1)).as("nt"))
    val pairs = baskets.as("x")
      .join(baskets.as("y"),
        col("x.u") === col("y.u") && col("x.day") === col("y.day") &&
          col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("type_a"), col("y.t").as("type_b"))
      .agg(count(lit(1)).as("nab"))
    pairs
      .join(broadcast(perType.select(col("t").as("type_a"),
        col("nt").as("na"))), "type_a")
      .join(broadcast(perType.select(col("t").as("type_b"),
        col("nt").as("nb"))), "type_b")
      .crossJoin(broadcast(totals))
      .select(col("type_a"), col("type_b"), col("nab").cast("long").as("nab"),
        col("n_baskets").cast("long").as("n_baskets"),
        Corpus.ratioRound6(col("nab"), col("n_baskets")).as("support_r"),
        // products of two corpus-scale counts — DECIMAL before the
        // multiply (r14 review class; helper-side cast is too late)
        Corpus.ratioRound6(col("nab").cast(Corpus.decWide) * col("n_baskets"),
          col("na").cast(Corpus.decWide) * col("nb")).as("lift_r"))
  }

  /** Churn snapshot — the inactivity decay curve at the data's own
    * anchor (max activity day): per days-since-last-activity, how many
    * users sit there, whether that bucket counts as churned at
    * 14 days inactive, and the exact share. The anchor comes from the data
    * (deterministic), not the wall clock.
    *
    * Scale: one user rollup (map-side combining), a broadcast 1-row
    * anchor, and a ≤ |distinct gaps| aggregate + total window. */
  def churnSnapshot(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val lastDay = events.groupBy(col(userCol))
      .agg(max(to_date(col(tsCol))).as("last_day"))
    val anchor = lastDay.agg(max(col("last_day")).as("anchor"))
    lastDay.crossJoin(broadcast(anchor))
      .select(datediff(col("anchor"), col("last_day")).cast("long")
        .as("days_inactive"))
      .groupBy(col("days_inactive"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("total", sum(col("n_users")).over(Window.partitionBy()))
      .select(col("days_inactive"),
        col("n_users").cast("long").as("n_users"),
        (col("days_inactive") > 14L).as("is_churned"),
        Corpus.ratioRound6(col("n_users"), col("total")).as("share_r"))
  }

  /** Recency sequence features — the model-input featurizer: per user,
    * the type ids of the last 5 events in strict (tsCol, tieCol)
    * DESCENDING order as fixed columns f1..f5 (f1 = most recent; 0 =
    * shorter history). Type ids come from a broadcast alphabetical
    * dictionary, so the encoding is deterministic and engine-portable;
    * fixed COLUMNS (not arrays) keep the output comparator-simple and
    * the aggregate a plain conditional-max fold.
    *
    * Scale: one user-keyed window shares its exchange with the per-user
    * aggregate; the type dictionary is |types|-sized and broadcast. */
  def sequenceFeatures(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val k = 5
    val dict = events.select(col(typeCol).as("_t")).distinct()
      .withColumn("_tid",
        row_number().over(Window.orderBy(col("_t"))).cast("long"))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    val ranked = events
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .join(broadcast(dict), col(typeCol) === col("_t"))
    val slots = (1 to k).map(i =>
      coalesce(max(when(col("_rn") === i, col("_tid"))), lit(0L))
        .as(s"f$i"))
    ranked.groupBy(col(userCol))
      .agg(slots.head, slots.tail :+
        count(lit(1)).cast("long").as("n_recent"): _*)
  }

  /** Per-user lifetime rollup — the "customer 360" base table: first and
    * last activity, distinct active days, event count, conversion count
    * and exact revenue cents, and the activity span in whole days. One
    * partial-aggregatable groupBy; every downstream LTV / churn model
    * starts here.
    *
    * Scale: one hash aggregate keyed on the user — the canonical
    * map-side-combining rollup. */
  def userLifetime(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String,
      conversionType: String): DataFrame =
    events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("first_ts"), max(col(tsCol)).as("last_ts"),
        countDistinct(to_date(col(tsCol))).cast("long").as("active_days"),
        count(lit(1)).cast("long").as("n_events"),
        sum(when(col(typeCol) === conversionType, 1L).otherwise(0L))
          .cast("long").as("n_conversions"),
        coalesce(sum(when(col(typeCol) === conversionType,
          round(col(valueCol) * 100).cast("long"))), lit(0L))
          .cast("long").as("revenue_c"))
      .withColumn("span_days",
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .cast("long"))

  /** Conditional next-event entropy — how predictable each state's
    * successor is (H(next | from) in bits; 0 = deterministic flow, high
    * = anything can follow): the q138 transition counts folded through
    * the exact micro-bit identity H = (µb(N)·N − Σ n·µb(n)) / N with one
    * half-up division — the [[Corpus.wordEntropy]] arithmetic applied to
    * the transition matrix.
    *
    * Scale: one user-keyed window for successor pairs (bounded
    * partitions), one type²-bounded aggregate, then per-from rollup. */
  def transitionEntropy(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val microBits = (x: Column) =>
      round(lit(1e6) * log2(x.cast("double"))).cast("long")
    val pairs = transitionCounts(events, userCol, typeCol, tsCol, tieCol)
    pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"),
        count(lit(1)).as("n_successors"),
        sum(col("n") * microBits(col("n"))).as("sum_ub"))
      .select(col("from_type"), col("n_from").cast("long").as("n_from"),
        col("n_successors").cast("long").as("n_successors"),
        (call_function("div",
          (microBits(col("n_from")) * col("n_from") - col("sum_ub"))
            * lit(2L) + col("n_from"),
          col("n_from") * lit(2L)).cast("double") / lit(1e6)).as("h_r"))
  }

  /** Lagged cross-correlation (signed r²) — "do views predict purchases
    * a week out": daily counts of two event types paired by a calendar
    * lag (the q169 equi-join, never a row-offset window), then the
    * Pearson numerator/denominators as exact integer moments. r itself
    * needs square roots, so the ENGINE-EXACT statistic reported is the
    * signed coefficient of determination sign(cov)·cov²/(varx·vary) —
    * monotone in |r|, exact rationals end to end (DECIMAL combine, one
    * half-up rounding). Pairs where either series is constant get NULL.
    *
    * Scale: two daily rollups + a day-keyed equi-join on the day-bounded
    * tables + one moment aggregate. */
  def laggedCrossCorrelation(events: DataFrame, typeCol: String,
      tsCol: String, typeX: String, typeY: String,
      lagDays: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val x = daily.filter(col(typeCol) === typeX)
      .select(col("day").as("day_x"), col("n").as("x"))
    val y = daily.filter(col(typeCol) === typeY)
      .select(col("day").as("day_y"), col("n").as("y"))
    val paired = x.join(y,
      col("day_y") === date_add(col("day_x"), lagDays))
      .select(col("x"), col("y"))
    val m = paired.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // DECIMAL before the multiplies: the moments are Longs and cov² ~
    // (n·Σxy)² blows through 2⁶³ at ~1e6/day counts — the oracle's
    // HUGEINT arithmetic is exact, so Long wrap would be a silent
    // Spark-only divergence (r14 review).
    val dec = DecimalType(38, 0)
    val cov = m("n").cast(dec) * m("sxy") - m("sx").cast(dec) * m("sy")
    val vx = m("n").cast(dec) * m("sxx") - m("sx").cast(dec) * m("sx")
    val vy = m("n").cast(dec) * m("syy") - m("sy").cast(dec) * m("sy")
    val num = cov * cov
    val den = vx * vy
    m.select(m("n").cast("long").as("n_pairs"),
      cov.cast("long").as("cov_num"), vx.cast("long").as("varx_num"),
      vy.cast("long").as("vary_num"),
      when(vx === 0L || vy === 0L, lit(null).cast("double"))
        .otherwise((when(cov < 0L, lit(-1.0)).otherwise(lit(1.0))) *
          (call_function("div", num * lit(2000000L) + den, den * lit(2L))
            .cast("double") / lit(1e6))).as("signed_r2"))
  }

  /** Fano-factor burstiness — variance-to-mean of DAILY counts per
    * group (1 ≈ Poisson arrivals, ≫ 1 = bursty, < 1 = regular): from
    * the exact integer identity F = (d·Σx² − (Σx)²) / (d·Σx) over the
    * per-day count table. Both the factor and the daily mean are one
    * half-up rounding away from exact integer moments.
    *
    * Scale: daily rollup (partial-aggregatable), then a |groups|-bounded
    * moment aggregate — no windows at all. */
  def fanoBurstiness(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val m = daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("d"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    // d·Σx² and (Σx)² are products of corpus-scale moments — DECIMAL
    // combine, the same shape laggedCrossCorrelation fixed (r14 review)
    val num = m("d").cast(Corpus.decWide) * m("sxx") -
      m("sx").cast(Corpus.decWide) * m("sx")
    m.select(col(groupCol), m("d").cast("long").as("n_days"),
      m("sx").cast("long").as("n_events"),
      Corpus.ratioRound6(m("sx"), m("d")).as("daily_mean_r"),
      Corpus.ratioRound6(num,
        m("d").cast(Corpus.decWide) * m("sx")).as("fano_r"))
  }

  /** Day-of-week seasonality index — the "is Tuesday really our big
    * day" profile: per (group, ISO weekday), the event count and the
    * seasonal index n·7/total (1.0 = flat week). Weekday is Monday=1
    * ..Sunday=7 (Spark's weekday()+1 == DuckDB's isodow — the one
    * cross-engine-stable numbering). Exact integer counts, one half-up
    * rounding.
    *
    * Scale: one partial-aggregatable groupBy to ≤ |groups|·7 rows; the
    * per-group total is a window over that table. */
  def dowSeasonality(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val cells = events
      .groupBy(col(groupCol), (weekday(col(tsCol)) + lit(1)).cast("long")
        .as("dow"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("total", sum(col("n")).over(
        Window.partitionBy(col(groupCol))))
      .select(col(groupCol), col("dow"), col("n").cast("long").as("n"),
        col("total").cast("long").as("total"),
        Corpus.ratioRound6(col("n") * lit(7L), col("total"))
          .as("index_r"))
  }

  /** Inter-event gap profile — the arrival-process fingerprint behind
    * sessionization-timeout and bot-detection choices: per-user
    * consecutive-event gaps in integer seconds, bucketed exponentially
    * (bucket 0 = zero gap, bucket b = [2^(b−1), 2^b) s, capped). The
    * when-chain bucket assignment is pure integer comparison — no
    * floor(log2) float hazard at power-of-two boundaries.
    *
    * Scale: ONE user-keyed window (bounded partitions) and a ≤ 22-key
    * aggregate; map-side partials collapse everything before the
    * exchange. */
  def interEventGaps(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val maxBucket = 20
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val gaps = events
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select((unix_timestamp(col(tsCol)) -
        unix_timestamp(col("prev_ts"))).cast("long").as("gap_s"))
    val bucket = (1 to maxBucket).foldLeft(
      when(col("gap_s") === 0L, lit(0L))) { (acc, b) =>
      acc.when(col("gap_s") < lit(1L << b), lit(b.toLong))
    }.otherwise(lit(maxBucket + 1L))
    gaps.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("gap_s")).cast("long").as("lo_s"),
        max(col("gap_s")).cast("long").as("hi_s"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("bucket"), col("n").cast("long").as("n"), col("lo_s"),
        col("hi_s"), Corpus.ratioRound6(col("n"), col("total")).as("share_r"))
  }

  /** Rolling 7-day active users — DAU/WAU/stickiness without a sliding-
    * window distinct: each (day, user) activity row is exploded to the
    * 7 report days it covers (a user active on day d counts
    * toward every day in [d, d+6]), then one exact distinct per report
    * day. Stickiness = DAU/WAU is the classic engagement ratio.
    *
    * Scale: the explode fans out the DISTINCT (day, user) table 7× —
    * bounded by 7 · |active user-days|, never 7× the event log — and the
    * per-day countDistinct is an ordinary shuffle on the day key. Report
    * days past the data's max day are dropped (they'd be partial). */
  def rollingActiveUsers(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val du = events
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("u"))
      .distinct()
    val maxDay = du.agg(max(col("day")).as("mxd"))
    val dau = du.groupBy(col("day")).agg(countDistinct(col("u")).as("dau"))
    du.select(explode(sequence(col("day"),
        date_add(col("day"), 6))).as("day"), col("u"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("mxd"))
      .groupBy(col("day")).agg(countDistinct(col("u")).as("wau"))
      .join(dau, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).cast("long").as("dau"),
        col("wau").cast("long").as("wau"),
        Corpus.ratioRound6(coalesce(col("dau"), lit(0L)), col("wau"))
          .as("stickiness_r"))
  }

  /** Week-over-week deltas — the seasonality-aware change detector: per
    * (group, day), the daily count and cents sum joined against the SAME
    * WEEKDAY one week earlier. A lag-7 window would silently compare
    * against "7 rows earlier" when days are missing; the calendar equi-
    * join compares against the true date or yields NULL (no prior week),
    * which is the honest answer.
    *
    * Scale: one partial-aggregatable daily rollup, then a self equi-join
    * on (group, day−7) — both sides are the (group × day)-bounded daily
    * table, not the corpus. */
  def weekOverWeek(events: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(round(col(valueCol) * 100).cast("long")), lit(0L))
          .as("val_c"))
    daily.as("cur")
      .join(daily.as("prev"),
        col(s"cur.$groupCol") === col(s"prev.$groupCol") &&
          col("prev.day") === date_sub(col("cur.day"), 7), "left")
      .select(col(s"cur.$groupCol").as(groupCol), col("cur.day").as("day"),
        col("cur.n").cast("long").as("n"),
        col("cur.val_c").cast("long").as("val_c"),
        col("prev.n").cast("long").as("n_prev"),
        (col("cur.n") - col("prev.n")).cast("long").as("delta_n"),
        (col("cur.val_c") - col("prev.val_c")).cast("long").as("delta_val_c"))
  }

  /** Clickstream path mining — the "what journeys do users actually
    * take" product query: each user's first `k` event types in strict
    * (tsCol, tieCol) order joined into one '>' path string, then path
    * frequencies with exact shares. The truncation at `k` is what keeps
    * the path alphabet finite (≤ |types|^k) and the aggregate partial-
    * aggregatable.
    *
    * Determinism: the per-user order is total via `tieCol`; the path is
    * built by sorting the collected (rank, type) structs — collect_list
    * order is NOT relied upon.
    *
    * Scale: ONE user-keyed window + the per-user aggregate reuse the
    * same exchange; the path table is alphabet-bounded and its total is
    * a window over that table. */
  def pathMining(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, k: Int): DataFrame = {
    require(k >= 1, "need at least one step")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val paths = events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col(userCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("rn"), col(typeCol)))),
          x => x.getField(typeCol)), ">").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("path"), col("n").cast("long").as("n"),
        col("total").cast("long").as("total"),
        Corpus.ratioRound6(col("n"), col("total")).as("share_r"))
  }

  /** OHLC resampling bars — the time-series downsampler (market candles,
    * metric rollups): per key per day, the first/last value in strict
    * (tsCol, tieCol) order plus the min/max/count/sum. Values are integer
    * cents; first/last are windows over the (key, day) partition — the
    * per-bucket ordering OHLC inherently needs — and the bar itself is
    * one partial-aggregatable groupBy on top.
    *
    * Scale: the window partitions by (key, day), so each sort is one
    * key-day's rows (bounded by bucket size, never corpus-sized), and the
    * exchange it shares feeds the groupBy on the same keys — one shuffle
    * total. */
  def ohlcBars(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("day", to_date(col(tsCol)))
      .withColumn("c", cents)
    val w = Window.partitionBy(col(keyCol), col("day"))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base
      .withColumn("open_c", first(col("c")).over(w))
      .withColumn("close_c", last(col("c")).over(w))
      .groupBy(col(keyCol), col("day"))
      .agg(max(col("open_c")).cast("long").as("open_c"),
        max(col("close_c")).cast("long").as("close_c"),
        max(col("c")).cast("long").as("high_c"),
        min(col("c")).cast("long").as("low_c"),
        count(lit(1)).cast("long").as("n"),
        sum(col("c")).cast("long").as("vol_c"))
  }

  /** Per-group OLS trend — closed-form least-squares slope of value vs
    * time per group, the drift detector behind "is this metric trending"
    * checks: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) in cents per
    * hour. x is integer HOURS since the global min timestamp (anchoring
    * and the coarse unit keep every moment sum — Σx², n·Σxy — inside
    * LONG even at 10⁵ rows per group; raw epoch seconds would overflow
    * at Σx²), y is integer cents. Both slope terms stay exact integers;
    * the only float is one sign-aware half-up rounding, so the slope is
    * engine-identical. Groups with a single distinct x get a NULL slope.
    *
    * Scale: one broadcast 1-row anchor + ONE partial-aggregatable hash
    * aggregate carrying four moment sums — no windows, no sort, the
    * textbook map-side-combine shape. */
  def olsTrend(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val anchor = df.agg(
      min(unix_timestamp(col(tsCol)).cast("long")).as("_t0"))
    val xy = df.crossJoin(broadcast(anchor))
      .select(col(groupCol),
        call_function("div",
          unix_timestamp(col(tsCol)).cast("long") - col("_t0"),
          lit(3600L)).as("x"),
        round(col(valueCol) * 100).cast("long").as("y"))
      .filter(col("y").isNotNull)
    val m = xy.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    // n·Σxy etc. are products of corpus-scale moments — DECIMAL combine
    // like laggedCrossCorrelation (r14 review); the declared LONG output
    // columns get an explicit cast back (exact whenever it fits, where
    // the old Long math would have wrapped silently)
    val num = m("n").cast(Corpus.decWide) * m("sxy") -
      m("sx").cast(Corpus.decWide) * m("sy")
    val den = m("n").cast(Corpus.decWide) * m("sxx") -
      m("sx").cast(Corpus.decWide) * m("sx")
    m.select(col(groupCol), col("n").cast("long").as("n"),
      num.cast("long").as("slope_num"), den.cast("long").as("slope_den"),
      when(den === 0L, lit(null).cast("double"))
        .otherwise(when(num < 0L, lit(-1.0)).otherwise(lit(1.0)) *
          Corpus.ratioRound6(abs(num), den)).as("slope_r"))
  }

  /** Last-touch attribution — the marketing-analytics staple: each
    * conversion event is credited to the most recent touch event by the
    * same user STRICTLY before it ((tsCol, tieCol) order), provided the
    * touch is within `lookbackSeconds`; conversions with no in-horizon
    * touch are credited to 'direct'. Returns the per-conversion
    * attribution log (userCol, tieCol, conv_ts, touch_type, touch_ts,
    * revenue_cents) — the grain downstream ROAS/budget reports roll up.
    *
    * Determinism: the per-user order is made total by `tieCol`, the
    * horizon test is exact integer epoch-seconds, and revenue is integer
    * cents — nothing float-ordering-dependent.
    *
    * Scale: ONE window partitioned by user (each partition is one user's
    * events — bounded), carrying a single struct of the running last
    * touch; no self-join of conversions against touches, which is the
    * O(touches × conversions) shape this operator exists to avoid. */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, tieCol: String, valueCol: String,
      touchTypes: Seq[String], conversionType: String,
      lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touch types must be non-empty and disjoint from the conversion type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsCol).as("t_ts"), col(typeCol).as("t_type")))
    events
      .withColumn("_lt", last(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .withColumn("_in_horizon", col("_lt").isNotNull &&
        (unix_timestamp(col(tsCol)) - unix_timestamp(col("_lt.t_ts")))
          .cast("long") <= lit(lookbackSeconds))
      .select(col(userCol), col(tieCol), col(tsCol).as("conv_ts"),
        when(col("_in_horizon"), col("_lt.t_type")).otherwise(lit("direct"))
          .as("touch_type"),
        when(col("_in_horizon"), col("_lt.t_ts")).as("touch_ts"),
        round(col(valueCol) * 100).cast("long").as("revenue_cents"))
  }

  /** Linear multi-touch attribution — [[lastTouchAttribution]]'s
    * fairness-minded sibling: each conversion's credit (and revenue) is
    * split equally across its last 5 in-horizon touches.
    * Credit quanta are micro-units and revenue milli-cents, each touch's
    * share rounded half-up independently (mirrored exactly by the
    * oracle), so the per-touch-type totals are engine-identical.
    * Conversions with no in-horizon touch earn nothing here — they are
    * the 'direct' bucket q157 reports.
    *
    * Scale: the touch list rides the SAME user-keyed window as q157
    * (bounded by 5 touches per row, not by history length, thanks to
    * the slice); the per-conversion size recount is a window over the
    * ≤ 5 exploded rows. No touch×conversion join. */
  def linearAttribution(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, valueCol: String,
      touchTypes: Seq[String], conversionType: String,
      lookbackSeconds: Long): DataFrame = {
    val maxTouches = 5
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touch types must be non-empty and disjoint from the conversion type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsCol).as("t_ts"), col(typeCol).as("t_type")))
    val allT = collect_list(touch).over(w)
    val exploded = events
      // slice(-K) errors/empties when the list is shorter than K — short
      // histories keep the whole list
      .withColumn("_tl", when(size(allT) <= maxTouches, allT)
        .otherwise(slice(allT, -maxTouches, maxTouches)))
      .filter(col(typeCol) === conversionType)
      .select(col(userCol).as("conv_user"), col(tieCol).as("conv_id"),
        round(col(valueCol) * 100).cast("long").as("cents"),
        col(tsCol).as("conv_ts"), explode(col("_tl")).as("t"))
      .filter((unix_timestamp(col("conv_ts")) -
        unix_timestamp(col("t.t_ts"))).cast("long") <= lit(lookbackSeconds))
    // recount keyed by (user, conv_id): tieCol's documented contract is
    // only per-USER totality (q157's param), so two users sharing a tie
    // value must not merge their conversions' touch counts (r14 review —
    // a merged count under-credits every touch of both conversions)
    val n = count(lit(1)).over(
      Window.partitionBy(col("conv_user"), col("conv_id")))
    exploded
      .withColumn("n", n)
      .select(col("t.t_type").as("touch_type"),
        call_function("div", lit(2000000L) + col("n"), col("n") * lit(2L))
          .as("credit_u"),
        call_function("div", lit(2L) * col("cents") * lit(1000L) + col("n"),
          col("n") * lit(2L)).as("rev_mu"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).cast("long").as("n_credits"),
        sum(col("credit_u")).cast("long").as("credit_u"),
        sum(col("rev_mu")).cast("long").as("revenue_mu"))
  }

  /** Shuffle-key skew profile — the diagnostic to run BEFORE a big join
    * or aggregation: the hottest key's row share bounds the operation's
    * parallelism (that task does `top1_share` of the work no matter how
    * many partitions you provision — the reason for salting and AQE skew
    * joins). One row: total rows, distinct keys, the hottest key's count
    * and exact-integer share (ratioRound6), exact interpolated p50/p99
    * of per-key counts, and max/p50 (a "how bad is the head" ratio;
    * ≲ 10 is comfortable, ≳ 1000 means salt or broadcast).
    *
    * Scale: one partial-aggregatable count per key, then one aggregate
    * over the (distinct-key-sized) count table. The exact percentile
    * over that table is the only sort; swap `percentile` for
    * `percentile_approx` when distinct keys themselves are corpus-sized. */
  def skewProfile(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_keys"),
        max(col("c")).cast("long").as("max_cnt"),
        round(expr("percentile(c, 0.5D)"), 6).as("p50_cnt"),
        round(expr("percentile(c, 0.99D)"), 6).as("p99_cnt"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        Corpus.ratioRound6(col("max_cnt"), col("n_rows")).as("top1_share_r"),
        col("p50_cnt"), col("p99_cnt"),
        round(col("max_cnt").cast("double") / col("p50_cnt"), 6).as("skew_r"))

  /** Calendar gap-fill with LOCF: expand each key's sparse daily series to
    * a dense date spine over its own [min, max] day range, carrying the
    * last observed value across the gaps and flagging filled rows — the
    * resample-to-regular-grid step in front of any time-series feature
    * (moving averages over a sparse series silently skip the gaps).
    *
    * Scale shape: bounds is a key-sized aggregate; the spine is a narrow
    * per-key `sequence` explode (rows bounded by keys × calendar days,
    * never by the event count); the join is an equi join on (key, day);
    * the LOCF window is partitioned by key and ordered by day — one
    * shuffle, never a global sort. The leading row of every key is its
    * own min day, so LOCF never leaves a leading null. */
  def calendarFill(daily: DataFrame, keyCol: String, dayCol: String,
      valCol: String): DataFrame = {
    val bounds = daily.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("_d0"), max(col(dayCol)).as("_d1"))
    val spine = bounds.select(col(keyCol),
      explode(sequence(col("_d0"), col("_d1"))).as(dayCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(keyCol, dayCol), "left")
      .withColumn("is_gap", col(valCol).isNull)
      .withColumn(valCol, last(col(valCol), ignoreNulls = true).over(w))
      .select(col(keyCol), col(dayCol), col(valCol), col("is_gap"))
  }
}
