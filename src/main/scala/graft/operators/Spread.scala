package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The size rules of the text operators, read from the plan alone: how
  * wide a plan runs ([[scanPartitions]]), when a narrower-than-cores scan
  * fans out before a CPU-dense per-row pass ([[narrow]], [[fanOutScan]]),
  * and when an intermediate with several consumers is pinned
  * ([[pinIfSmall]]). Dedup, Corpus, GeoJoin and the contract queries take
  * these decisions here and nowhere else. */
object Spread {

  /** The pin bound: under 512 MiB of estimated source bytes an
    * intermediate consumed more than once is localCheckpointed once
    * (measured at sf0.1 shape: the shingle front ran 8.0 s recomputing
    * both branches vs 3.4 s reading one checkpoint); above it every
    * consumer recomputes, because pinning a corpus-sized intermediate in
    * executor storage is worse at scale than one extra column-pruned scan.
    * Bench/Verify release all persistent RDDs after each query; other
    * callers rely on ContextCleaner GC, bounded by this same rule. */
  private[graft] def small(source: DataFrame): Boolean =
    source.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(512L << 20)

  /** `plan` localCheckpointed when `source` is [[small]], else `plan`. */
  private[graft] def pinIfSmall(source: DataFrame)(plan: DataFrame): DataFrame =
    if (small(source)) plan.localCheckpoint() else plan

  /** Whether `df` is a batch single-leaf scan narrower than the default
    * parallelism, the case where a per-row pass built on it would run on
    * fewer tasks than there are cores. */
  private[graft] def narrow(df: DataFrame): Boolean =
    !df.isStreaming && scanPartitions(df).exists(
      _ < df.sparkSession.sparkContext.defaultParallelism)

  /** Fan a narrower-than-cores scan out to the default parallelism before
    * a CPU-dense per-row pass (r22, generalizing the shingle front's r11
    * spread): a single-row-group corpus file scans as ONE partition, and every
    * native text pass built directly on it — minhash lanes, shingle
    * explodes, winnow fingerprints, hash-array builds (including the ones
    * that execute inside a BroadcastExchange build or a localCheckpoint
    * job) — runs as ONE task while the other cores idle (measured: q121's
    * per-job timeline showed a 3.3 s single-task broadcast build as the
    * query's long pole). A real corpus has plenty of scan partitions and
    * skips this shuffle entirely, so the at-scale plan is unchanged.
    *
    * The width is read from `df`'s physical plan ([[scanPartitions]])
    * rather than from `df.rdd`, so an adaptive plan is never executed
    * just to count its partitions, and a streaming frame passes through
    * unchanged. */
  private[graft] def fanOutScan(df: DataFrame,
      key: Column): DataFrame =
    // HASH repartition on a caller-supplied high-cardinality key, not
    // round-robin: every keyless repartition(n) first pays a LOCAL SORT
    // of its input (spark.sql.execution.sortBeforeRepartition, on by
    // default so retried tasks reproduce the same row placement — guide
    // §2.5), and on a 1-partition scan that sort of the full text
    // payloads is itself a serial pass. Hash placement is deterministic
    // by value, so it needs no sort and is retry-safe by construction.
    if (narrow(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df

  /** The partition count `df` runs at when its physical plan is one leaf
    * (file scan, cached frame, checkpoint, local rows, range) under narrow
    * operators only: that leaf's RDD width. Building the leaf's RDD runs
    * no job, except for a not-yet-built cache over a shuffling plan, which
    * `df.rdd` built too. None when the plan has an exchange, is adaptive,
    * or has several leaves. */
  private[graft] def scanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = df.queryExecution.executedPlan
    val shuffles = plan.exists(_.isInstanceOf[Exchange])
    plan.collectLeaves() match {
      // an adaptive plan is itself a leaf, and executing it runs its stages
      case Seq(_: AdaptiveSparkPlanExec) => None
      case Seq(leaf) if !shuffles => Some(leaf.execute().getNumPartitions)
      case _ => None
    }
  }
}
