package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Key

/** Driver contract — see SURVEY.md §7.
  *
  * Every graded key is one [[operators.Key]] in its operator module's
  * `keys` list: its name, its Spark plan and its DuckDB oracle SQL.
  * `queries` and `oracleSql` are derived from those lists. Column names
  * are aliased identically on both sides — the driver sorts columns by
  * name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every graded key, declared once in its operator module's `keys`; a
    * name declared in two modules fails here. */
  private lazy val keys: Seq[Key] = Key.distinct(Seq(
    operators.Scans.keys,
    operators.Filters.keys,
    operators.Joins.keys,
    operators.Graph.keys,
    operators.Aggregations.keys,
    operators.SetOps.keys,
    operators.Windows.keys,
    operators.Scalars.keys,
    operators.TimeSeries.keys,
    operators.LlmDedup.keys,
    operators.LlmVector.keys,
    operators.LlmText.keys,
    operators.Multimodal.keys,
    operators.Sources.keys).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k.name -> k.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = keys.map(k => k.name -> k.oracle).toMap
}
