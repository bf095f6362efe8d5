package graft

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` / `oracleSql` are derived from the QueryDef registry so an
  * operator counts as implemented exactly when it has a registered
  * QueryDef with (when SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 3-way dim join + aggregate (vw_current_jobs analogue, SURVEY J1/A2).
    */
  def entry(spark: SparkSession): DataFrame =
    Registry.all.find(_.name == "q_j1_three_way_join").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
