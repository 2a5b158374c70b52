package graft

import graft.queries.{Fixtures, Queries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. Both maps are views of the one
  * registry, [[graft.queries.Queries]]: `queries` builds each query
  * through the engine pipeline (compile → plan → execute) over a dataset
  * dir, and `oracleSql` is the DuckDB equivalent over the same parquet
  * tables for every query that has one.
  */
object SparkEntry {
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val _ = spark // session is implicit for DataFrame building
    Fixtures.runner("/root/testdata/sf0.001").output("feature_customer")
  }
}
