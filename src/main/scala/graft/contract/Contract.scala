package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: its name, the Spark plan over a dataset dir,
  * and the DuckDB SQL whose result the plan must hash-match. */
final case class Contract(name: String,
    plan: (SparkSession, String) => DataFrame, oracle: String)
