package graft.operators

/** Filter / predicate / projection operators (SURVEY.md §2.B). All are
  * whole-stage-codegen'd single scans; predicates fold into the parquet
  * reader at any scale.
  */
object Filters {

  /** IN / LIKE / BETWEEN predicate combo over part. */
  val filterInLikeBetween: Key = Key.sql("filter_in_like_between") { t =>
    s"""SELECT p_partkey, p_name, p_brand, p_type, p_size FROM ${t("part")}
       |WHERE p_brand IN ('Brand#11','Brand#13','Brand#22')
       |  AND p_type LIKE 'PROMO%' AND p_size BETWEEN 1 AND 25
       |ORDER BY p_partkey""".stripMargin
  }

  /** Three-valued logic: nulls injected via NULLIF, then COALESCE,
    * null-skipping COUNT, and IS [NOT] DISTINCT FROM (eqNullSafe). */
  val filterNullSemantics: Key = Key.sql("filter_null_semantics") { t =>
    s"""SELECT o_orderpriority, COUNT(*) AS n_all,
       |  COUNT(NULLIF(o_orderstatus,'P')) AS n_nonnull,
       |  CAST(SUM(CASE WHEN NULLIF(o_orderstatus,'P') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  CAST(SUM(CAST(COALESCE(NULLIF(o_orderstatus,'O'),'?') IS NOT DISTINCT FROM 'F' AS INT)) AS BIGINT) AS n_f,
       |  CAST(SUM(CAST(NULLIF(o_orderstatus,'P') IS NOT DISTINCT FROM NULL AS INT)) AS BIGINT) AS n_nullsafe_eq_null
       |FROM ${t("orders")} GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** CORRELATED SCALAR SUBQUERY — "orders 1.5× above their own
    * customer's average": the query shape users write, and the shape a
    * naive engine executes as one subquery PER ROW. Catalyst
    * DECORRELATES it — both correlated aggregates rewrite to one
    * grouped aggregate per customer joined back to orders — so the
    * executed plan is two shuffles total (agg + join) at any scale,
    * never O(rows) subquery executions; PlanSpec pins the decorrelated
    * shape (an Aggregate-join, no per-row subquery node survives).
    * The 1.5×-average predicate is EXACT INTEGER algebra
    * (2·cents·count > 3·Σcents — no decimal division, whose rounding
    * scale differs between engines, and no float average anywhere near
    * the comparison boundary). */
  val filterCorrelated: Key = Key.sql("filter_correlated") { t =>
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM ${t("orders")} o
       |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 2 *
       |    (SELECT COUNT(*) FROM ${t("orders")} o2 WHERE o2.o_custkey = o.o_custkey)
       |  > 3 * (SELECT SUM(CAST(CAST(o2.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |         FROM ${t("orders")} o2 WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o_orderkey""".stripMargin
  }

  /** Nested CASE WHEN pricing tiers over orders. */
  val projectCaseWhen: Key = Key.sql("project_case_when") { t =>
    s"""SELECT o_orderkey,
       |  CASE WHEN o_totalprice > 400000 THEN
       |         CASE WHEN o_orderstatus = 'F' THEN 'high-final' ELSE 'high-open' END
       |       WHEN o_totalprice > 200000 THEN 'mid' ELSE 'low' END AS tier
       |FROM ${t("orders")} ORDER BY o_orderkey""".stripMargin
  }

  /** EXISTS / NOT EXISTS — the predicate-subquery pair
    * `filter_correlated` doesn't cover (that key decorrelates SCALAR
    * subqueries into an aggregate-join): here Catalyst's
    * RewritePredicateSubquery turns the EXISTS into a LEFT SEMI join
    * and the NOT EXISTS into a LEFT ANTI join on the correlation key —
    * two keyed joins instead of a per-row subquery loop, the shape
    * that survives any scale. Routed through `spark.sql` because
    * EXISTS is front-end surface (the `join_not_in` rationale; NOT
    * EXISTS also side-steps NOT IN's null trap — there is no
    * three-valued-logic hazard here, which is WHY warehouses prefer
    * it). Semantics graded: orders with at least one >$2000 line and
    * no returned line. */
  val filterExists: Key = Key.sql("filter_exists") { t =>
    s"""SELECT o_orderkey, o_orderstatus,
       |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |FROM ${t("orders")} o
       |WHERE EXISTS (SELECT 1 FROM ${t("lineitem")} l
       |              WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 2000)
       |  AND NOT EXISTS (SELECT 1 FROM ${t("lineitem")} l
       |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
       |ORDER BY o_orderkey""".stripMargin
  }

  /** TPC-H Q2 SHAPE (r10) — the classic DECORRELATION STRESS the
    * scalar (`filter_correlated`) and predicate (`filter_exists`)
    * keys don't cover: a correlated MIN subquery whose body is itself
    * a FOUR-TABLE JOIN TREE (lineitem⋈supplier⋈nation⋈region —
    * lineitem is this schema's partsupp bridge), correlated on the
    * outer part key, equated against an expression of the outer join
    * tree. Catalyst must decorrelate the subquery into a per-part
    * min aggregate JOINED back on p_partkey — one keyed aggregate +
    * one keyed join instead of re-running a 4-way join per outer row
    * (PlanSpec pins that no subquery survives optimization and no
    * Cartesian product appears). Everything compared is exact integer
    * cents; ties at the minimum return every tying supplier in both
    * engines (Q2's own semantics), deduped because several lineitems
    * can tie at the same price. At 100 TB: the region⋈nation⋈supplier
    * chain broadcasts into the lineitem scan on BOTH sides, the min
    * aggregate is map-side combinable on l_partkey, and the final
    * equi-join shuffles by part key only. */
  val filterQ2MinCost: Key = Key.sql("filter_q2_min_cost") { t =>
    s"""SELECT DISTINCT p.p_partkey, p.p_name, s.s_name, n.n_name,
       |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS min_cost_cents
       |FROM ${t("part")} p
       |JOIN ${t("lineitem")} l ON p.p_partkey = l.l_partkey
       |JOIN ${t("supplier")} s ON l.l_suppkey = s.s_suppkey
       |JOIN ${t("nation")} n ON s.s_nationkey = n.n_nationkey
       |JOIN ${t("region")} r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'EUROPE' AND p.p_size <= 5 AND p.p_type = 'ECONOMY'
       |  AND CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) =
       |    (SELECT MIN(CAST(CAST(l2.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |     FROM ${t("lineitem")} l2
       |     JOIN ${t("supplier")} s2 ON l2.l_suppkey = s2.s_suppkey
       |     JOIN ${t("nation")} n2 ON s2.s_nationkey = n2.n_nationkey
       |     JOIN ${t("region")} r2 ON n2.n_regionkey = r2.r_regionkey
       |     WHERE r2.r_name = 'EUROPE' AND l2.l_partkey = p.p_partkey)
       |ORDER BY min_cost_cents DESC, p_partkey, s_name""".stripMargin
  }

  /** TPC-H Q17 SHAPE (r11) — the remaining decorrelation stress class:
    * a correlated AGGREGATE THRESHOLD AGAINST THE OUTER ROW'S OWN GROUP
    * ("lineitems below 20% of their part's average quantity"). Unlike
    * `filter_correlated` (threshold vs the row's own scalar) and
    * `filter_q2_min_cost` (equality vs a correlated MIN over a join
    * tree), the subquery here aggregates the SAME TABLE the outer row
    * comes from, correlated on the outer row's grouping key — the shape
    * a naive engine executes as one full lineitem scan PER LINEITEM ROW
    * (O(n²/parts)). Catalyst decorrelates both correlated aggregates
    * into ONE per-partkey (count, sum) aggregate joined back on
    * l_partkey (PlanSpec pins zero surviving subqueries and no
    * Cartesian product). The 0.2×-average predicate is EXACT INTEGER
    * algebra — quantities are whole, so `qty < 0.2·(sum/cnt)` is
    * `5·qty·cnt < sum` with no division anywhere near the boundary.
    * At 100 TB: one map-side-combinable aggregate keyed on l_partkey,
    * one keyed join back to lineitem, one broadcast of part — the
    * per-row rescan never exists in the executed plan. */
  val filterQ17AvgQty: Key = Key.sql("filter_q17_avg_qty") { t =>
    s"""SELECT p.p_brand, COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
       |    AS below_cents
       |FROM ${t("lineitem")} l
       |JOIN ${t("part")} p ON p.p_partkey = l.l_partkey
       |WHERE p.p_type IN ('ECONOMY', 'PROMO')
       |  AND 5 * CAST(l.l_quantity AS BIGINT) *
       |      (SELECT COUNT(*) FROM ${t("lineitem")} l2 WHERE l2.l_partkey = l.l_partkey)
       |    < (SELECT SUM(CAST(l2.l_quantity AS BIGINT))
       |       FROM ${t("lineitem")} l2 WHERE l2.l_partkey = l.l_partkey)
       |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    filterQ17AvgQty,
    filterQ2MinCost,
    filterExists,
    filterCorrelated,
    filterInLikeBetween,
    filterNullSemantics,
    projectCaseWhen)

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
