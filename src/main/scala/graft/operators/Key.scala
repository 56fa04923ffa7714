package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** One graded key: its name, its Spark plan over an sf directory, and
  * the DuckDB SQL that hash-checks its result. Each operator module
  * lists its keys once, in `keys`; its `queries` map and
  * `SparkEntry.queries`/`oracleSql` are derived from those lists. */
final case class Key(name: String, run: Key.Run, oracle: String)

object Key {
  type Run = (SparkSession, String) => DataFrame

  /** A key whose plan and oracle are one SQL text. `text` names each
    * table through its argument ([[Tables.sqlTable]]): Spark reads the
    * parquet file by path, the oracle reads the table DuckDB registers
    * under the bare name, and no session catalog entry is written. */
  def sql(name: String)(text: (String => String) => String): Key =
    Key(name, (spark, sfDir) => spark.sql(text(Tables.sqlTable(Some(sfDir)))),
      text(Tables.sqlTable(None)))

  /** `keys`, failing on a name declared twice: a map built with `++`
    * would let the later declaration silently replace the earlier one. */
  def distinct(keys: Seq[Key]): Seq[Key] = {
    val twice = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(twice.isEmpty, s"graded keys declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    keys
  }

  /** name → plan of distinct keys. */
  def queries(keys: Seq[Key]): Map[String, Run] = distinct(keys).map(k => k.name -> k.run).toMap
}
