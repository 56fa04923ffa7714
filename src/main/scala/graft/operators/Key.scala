package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import graft.sources.Tables

/** One graded key: its name, its Spark plan over an sf directory, and
  * the DuckDB SQL that hash-checks its result. Each operator module
  * lists its keys once, in `keys`; its `queries` map and
  * `SparkEntry.queries`/`oracleSql` are derived from those lists. */
final case class Key(name: String, run: Key.Run, oracle: String)

object Key {
  type Run = (SparkSession, String) => DataFrame

  /** The SQL a key's text is rendered in. `t("orders")` names a table
    * (the bare name in both engines); the other members spell the
    * tokens where DuckDB and Spark differ, DuckDB's spelling first. */
  final class Dialect private[Key] (table: String => String, spark: Boolean) {
    def apply(name: String): String = table(name)
    private def of(duckdb: String, sparkSql: String): String = if (spark) sparkSql else duckdb
    def idiv: String = of("//", "div")
    def int128: String = of("HUGEINT", "DECIMAL(38,0)")
    def string: String = of("VARCHAR", "STRING")
    def unnest: String = of("unnest", "explode")
    def split: String = of("string_split", "split")
    /** A `date_diff` unit: a string in DuckDB, a keyword in Spark. */
    def unit(u: String): String = of(s"'$u'", u.toUpperCase)
  }

  /** The oracle's dialect. */
  val duckdb: Dialect = new Dialect(identity, spark = false)

  /** A key whose plan and oracle are one SQL text: the oracle is `text`
    * in [[duckdb]], and Spark runs it in its own spelling over the
    * tables DuckDB registers ([[bound]]). */
  def sql(name: String)(text: Dialect => String): Key =
    Key(name, bound(text), text(duckdb))

  /** The plan of SQL `text`: on a fresh child session
    * ([[GraftSession.child]]) each table the text names is bound as a
    * temp view over [[Tables.table]], so its schema comes from the
    * process memo, and a key writes no catalog entry any other key on
    * the caller's session could resolve. */
  private def bound(text: Dialect => String): Run = (spark, sfDir) => {
    val names = mutable.LinkedHashSet.empty[String]
    val query = text(new Dialect({ n => names += n; n }, spark = true))
    val child = GraftSession.child(spark)
    names.foreach(n => Tables.table(child, sfDir, n).createTempView(n))
    child.sql(query)
  }

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
