package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the contract. `run` builds the Spark result over a
  * scale directory; `oracle` is ANSI SQL that DuckDB runs over the same
  * parquet tables and must reproduce exactly. `None` marks a rows-only
  * query whose values are engine-defined (sketches, seeded planes,
  * Lloyd's codebooks, deflate, BPE merges), so only its row count is
  * compared.
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame, oracle: Option[String])
