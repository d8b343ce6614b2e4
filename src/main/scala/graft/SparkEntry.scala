package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.contract._

/** Driver contract (SURVEY §7 + builder prompt): one `queries` entry per
  * implemented operator from SURVEY §2 (+ the north-star dedup / similarity /
  * text-analysis / multimodal operators), and a DuckDB-equivalent `oracleSql`
  * for every SQL-expressible one. Each query is one [[Contract]] record —
  * plan and oracle side by side — in its family's file under
  * `graft/contract/`; both maps are derived from the records.
  *
  * Determinism rules used throughout so the Spark result hash-matches DuckDB:
  *  - double SUMs go through `CAST(x AS DECIMAL(18,2))` so summation is
  *    exact and order-independent, then back to double (identical bits on
  *    both engines); per-row double arithmetic is identical anyway;
  *  - every ranking includes a unique tiebreaker column;
  *  - derived integers are cast to BIGINT on both sides (DuckDB's
  *    `year()`/`count()` are BIGINT, Spark's are INT/LONG);
  *  - no `current_timestamp` in compared output.
  */
object SparkEntry {

  /** Every contract record, family by family. */
  val contracts: Seq[Contract] =
    RelationalQueries.contracts ++ TransformQueries.contracts ++
      IngestQueries.contracts ++ StreamingQueries.contracts ++
      DedupQueries.contracts ++ VectorQueries.contracts ++
      CorpusQueries.contracts ++ BinaryQueries.contracts ++
      MaintenanceQueries.contracts

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    contracts.map(c => c.name -> c.plan).toMap

  def oracleSql: Map[String, String] =
    contracts.map(c => c.name -> c.oracle).toMap

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
}
