package graft.operators

/** Sort / limit / set operators (SURVEY.md §2.B).
  *
  * Scale posture: ORDER BY + LIMIT plans as TakeOrderedAndProject (per-
  * partition top-K then a single K-row merge on the driver — no global
  * sort at any scale). INTERSECT/EXCEPT shuffle on the full row as key,
  * identical to a distinct aggregation.
  */
object SetOps {

  /** Multi-key global sort + LIMIT → TakeOrderedAndProject. */
  val sortMultikeyLimit: Key = Key.sql("sort_multikey_limit") { t =>
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM ${t("lineitem")}
       |ORDER BY l_extendedprice DESC, l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
       |LIMIT 100""".stripMargin
  }

  /** The two overlapping order slices the UNION keys combine. */
  private def sliceASql(t: Key.Dialect) =
    s"SELECT o_orderkey, o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'O'"
  private def sliceBSql(t: Key.Dialect) =
    s"SELECT o_orderkey, o_custkey FROM ${t("orders")} WHERE o_totalprice > 300000"

  /** UNION ALL keeps duplicate rows from the overlapping slices. */
  val setUnionAll: Key = Key.sql("set_union_all") { t =>
    s"SELECT * FROM (${sliceASql(t)} UNION ALL ${sliceBSql(t)}) ORDER BY o_orderkey, o_custkey"
  }

  /** UNION DISTINCT dedups the overlap. */
  val setUnionDistinct: Key = Key.sql("set_union_distinct") { t =>
    s"SELECT * FROM (${sliceASql(t)} UNION ${sliceBSql(t)}) ORDER BY o_orderkey, o_custkey"
  }

  /** Customers having both open ('O') and finalized ('F') orders. */
  val setIntersect: Key = Key.sql("set_intersect") { t =>
    s"""SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'O'
       |INTERSECT SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'F'
       |ORDER BY o_custkey""".stripMargin
  }

  /** Customers with open but no finalized orders. */
  val setExcept: Key = Key.sql("set_except") { t =>
    s"""SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'O'
       |EXCEPT SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'F'
       |ORDER BY o_custkey""".stripMargin
  }

  /** BAG-SEMANTICS set ops (`ALL` variants) — multiplicity arithmetic,
    * not membership: INTERSECT ALL keeps min(m,n) copies of each row,
    * EXCEPT ALL keeps m−n. The multi-status customer key makes
    * multiplicities real (a customer with 3 'O' orders and 1 'F' order
    * contributes 1 to INTERSECT ALL and 2 to EXCEPT ALL — the DISTINCT
    * variants above see only membership). Spark plans both as one
    * count-aggregate per side + a join on the row value — same single
    * shuffle as the DISTINCT forms, so bag semantics cost nothing extra
    * at scale. */
  val setIntersectAll: Key = Key.sql("set_intersect_all") { t =>
    s"""SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'O'
       |INTERSECT ALL SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'F'
       |ORDER BY o_custkey""".stripMargin
  }

  val setExceptAll: Key = Key.sql("set_except_all") { t =>
    s"""SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'O'
       |EXCEPT ALL SELECT o_custkey FROM ${t("orders")} WHERE o_orderstatus = 'F'
       |ORDER BY o_custkey""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    setIntersectAll,
    setExceptAll,
    sortMultikeyLimit,
    setUnionAll,
    setUnionDistinct,
    setIntersect,
    setExcept)

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
