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

  /** A key whose plan and oracle are one SQL text. `text` names each
    * table through its argument, which returns the bare name, so Spark
    * runs the very text the oracle runs over the tables DuckDB
    * registers ([[bound]]). */
  def sql(name: String)(text: (String => String) => String): Key =
    Key(name, bound(text), text(table))

  /** The plan of SQL `text`: on a fresh child session
    * ([[GraftSession.child]]) each table the text names is bound as a
    * temp view over [[Tables.table]], so its schema comes from the
    * process memo, and a key writes no catalog entry any other key on
    * the caller's session could resolve. */
  private[operators] def bound(text: (String => String) => String): Run = (spark, sfDir) => {
    val names = mutable.LinkedHashSet.empty[String]
    val query = text { n => names += table(n); n }
    val child = GraftSession.child(spark)
    names.foreach(n => Tables.table(child, sfDir, n).createTempView(n))
    child.sql(query)
  }

  /** A table as SQL text names it. `events` is refused: its `ts` column
    * must be read through [[Tables.events]]. */
  private[operators] def table(name: String): String = {
    require(name != "events", "events must be read through Tables.events (its ts is normalized)")
    name
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
