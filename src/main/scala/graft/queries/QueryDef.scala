package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build` runs it over the tables of an sf directory,
  * `oracle` is the DuckDB SQL over the same parquet that must return the
  * same rows, bit for bit.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracle: String)
