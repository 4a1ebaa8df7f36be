package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are registered in [[QueryCatalog]] (one module per operator
  * family); this object flattens them into the driver's maps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.pricingSummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    QueryCatalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
