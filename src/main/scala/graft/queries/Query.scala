package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, how the engine builds it over a dataset
  * dir, and the DuckDB SQL over the same parquet tables that checks it
  * (`None` for the few sketch and ANN queries with no exact oracle).
  * Column names are aliased identically on both sides (the compare sorts
  * columns by name before hashing); aggregations over double columns are
  * cast to DECIMAL(38,12) per element before summing on BOTH sides, so
  * results are exact and engine-order-independent.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
