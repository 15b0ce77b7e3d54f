package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: its Spark body (`run` on a session and a
  * test-data dir) and the DuckDB SQL the correctness gate
  * hash-compares its output against. `oracle` is `None` only for a
  * query the gate checks on rows alone (see `ContractSpec`).
  */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
