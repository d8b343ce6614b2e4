package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The spread helpers: how wide a plan runs, read from its physical plan,
  * and the hash fan-out of a narrower-than-cores scan that Dedup, Corpus
  * and GeoJoin place before their CPU-dense per-row passes. */
object Spread {

  /** Fan a narrower-than-cores scan out to the default parallelism before
    * a CPU-dense per-row pass (r22, generalizing prefixToks' r11 spread):
    * a single-row-group corpus file scans as ONE partition, and every
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
      key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // HASH repartition on a caller-supplied high-cardinality key, not
    // round-robin: every keyless repartition(n) first pays a LOCAL SORT
    // of its input (spark.sql.execution.sortBeforeRepartition, on by
    // default so retried tasks reproduce the same row placement — guide
    // §2.5), and on a 1-partition scan that sort of the full text
    // payloads is itself a serial pass. Hash placement is deterministic
    // by value, so it needs no sort and is retry-safe by construction.
    if (df.isStreaming) df
    else scanPartitions(df) match {
      case Some(n) if n < par => df.repartition(par, key)
      case _ => df
    }
  }

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
