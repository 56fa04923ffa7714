package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Sort / limit / set operators (SURVEY.md §2.B).
  *
  * Scale posture: ORDER BY + LIMIT plans as TakeOrderedAndProject (per-
  * partition top-K then a single K-row merge on the driver — no global
  * sort at any scale). INTERSECT/EXCEPT shuffle on the full row as key,
  * identical to a distinct aggregation.
  */
object SetOps {

  /** Multi-key global sort + LIMIT → TakeOrderedAndProject. */
  def sortMultikeyLimit(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .orderBy(col("l_extendedprice").desc, col("l_shipdate").asc,
        col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  val sortMultikeyLimitOracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM lineitem
      |ORDER BY l_extendedprice DESC, l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 100""".stripMargin

  private def sliceA(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir).filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey")
  private def sliceB(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir).filter(col("o_totalprice") > 300000)
      .select("o_orderkey", "o_custkey")

  private val sliceASql = "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'O'"
  private val sliceBSql = "SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 300000"

  /** UNION ALL keeps duplicate rows from the overlapping slices. */
  def setUnionAll(spark: SparkSession, sfDir: String): DataFrame =
    sliceA(spark, sfDir).unionAll(sliceB(spark, sfDir))
      .orderBy("o_orderkey", "o_custkey")

  val setUnionAllOracle: String =
    s"SELECT * FROM ($sliceASql UNION ALL $sliceBSql) ORDER BY o_orderkey, o_custkey"

  /** UNION DISTINCT dedups the overlap. */
  def setUnionDistinct(spark: SparkSession, sfDir: String): DataFrame =
    sliceA(spark, sfDir).union(sliceB(spark, sfDir)).distinct()
      .orderBy("o_orderkey", "o_custkey")

  val setUnionDistinctOracle: String =
    s"SELECT * FROM ($sliceASql UNION $sliceBSql) ORDER BY o_orderkey, o_custkey"

  /** Customers having both open ('O') and finalized ('F') orders. */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val o = orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val setIntersectOracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** Customers with open but no finalized orders. */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val o = orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select("o_custkey")
      .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val setExceptOracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** BAG-SEMANTICS set ops (`ALL` variants) — multiplicity arithmetic,
    * not membership: INTERSECT ALL keeps min(m,n) copies of each row,
    * EXCEPT ALL keeps m−n. The multi-status customer key makes
    * multiplicities real (a customer with 3 'O' orders and 1 'F' order
    * contributes 1 to INTERSECT ALL and 2 to EXCEPT ALL — the DISTINCT
    * variants above see only membership). Spark plans both as one
    * count-aggregate per side + a join on the row value — same single
    * shuffle as the DISTINCT forms, so bag semantics cost nothing extra
    * at scale. */
  def setIntersectAll(spark: SparkSession, sfDir: String): DataFrame = {
    val o = orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select("o_custkey")
      .intersectAll(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val setIntersectAllOracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  def setExceptAll(spark: SparkSession, sfDir: String): DataFrame = {
    val o = orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select("o_custkey")
      .exceptAll(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy("o_custkey")
  }

  val setExceptAllOracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("set_intersect_all", setIntersectAll, setIntersectAllOracle),
    Key("set_except_all", setExceptAll, setExceptAllOracle),
    Key("sort_multikey_limit", sortMultikeyLimit, sortMultikeyLimitOracle),
    Key("set_union_all", setUnionAll, setUnionAllOracle),
    Key("set_union_distinct", setUnionDistinct, setUnionDistinctOracle),
    Key("set_intersect", setIntersect, setIntersectOracle),
    Key("set_except", setExcept, setExceptOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
