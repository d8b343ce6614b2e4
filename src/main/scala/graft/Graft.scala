package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every engine main, tool and test session starts
  * from. Callers add `.withExtensions(new GraftExtensions)`, an app name or
  * extra `.config(...)` lines themselves; a later `.config` of the same key
  * overrides the policy's value. On a real cluster pass the same configs to
  * spark-submit instead.
  *
  * {{{
  * val spark = Graft.builder(8).getOrCreate()
  * val docs  = Tables.table(spark, sfDir, "documents")
  * val dups  = operators.Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
  * }}}
  */
object Graft {
  /** `local[cores]`, one shuffle partition per core, AQE on, UTC session
    * time zone, nanosecond parquet timestamps read as longs (the
    * `events.ts` encoding `Tables.normalizeEventTime` expects), UI off. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
