package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Scan / source / sink operators (SURVEY.md §2.B "Scans / sources / sinks").
  *
  * Scale posture: every query is a declarative parquet scan, so Catalyst
  * pushes predicates into row-group skipping and prunes columns down to
  * the ReadSchema. At 100 TB these same plans split by file/row-group with
  * no code change; `export_manifest` models the reference's snapshot
  * export (ExportSnapshot-style bulk copy → partitioned parquet write +
  * read-back verification, SURVEY.md §2.A R2/R6).
  */
object Scans {

  /** Projection + rename + computed column; exercises column pruning. */
  val scanProject: Key = Key.sql("scan_project") { t =>
    s"""SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty,
       |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6))) AS DECIMAL(18,4)) AS DOUBLE) AS disc_price
       |FROM ${t("lineitem")} ORDER BY okey, line""".stripMargin
  }

  /** TPC-H Q6-shaped filter; predicates reach the parquet reader
    * (`PushedFilters` in explain) → row-group skip at scale. */
  val scanFilterPushdown: Key = Key.sql("scan_filter_pushdown") { t =>
    s"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
       |FROM ${t("lineitem")}
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
       |ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** events read through the ns-loader (SURVEY.md §1.3): Spark 4 rejects
    * TIMESTAMP(NANOS) parquet, so we read nanos as long and truncate to
    * µs exactly as DuckDB's reader does. */
  val scanEventsNs: Key = Key.sql("scan_events_ns") { t =>
    s"SELECT event_id, ts, event_type FROM ${t("events")} ORDER BY event_id"
  }

  /** HBase-cell emulation (SURVEY.md §2.A R2): unpivot supplier to
    * (rowkey, qualifier, value) long format via the stack() generator. */
  def scanKvModel(spark: SparkSession, sfDir: String): DataFrame =
    supplier(spark, sfDir)
      .selectExpr(
        "s_suppkey AS rowkey",
        """stack(3,
          |  'acctbal', cast(cast(s_acctbal as decimal(18,2)) as string),
          |  'name', s_name,
          |  'nationkey', cast(s_nationkey as string)) AS (qualifier, value)""".stripMargin)
      .orderBy("rowkey", "qualifier")

  val scanKvModelOracle: String =
    """SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value FROM supplier
      |UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier
      |UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
      |ORDER BY rowkey, qualifier""".stripMargin

  /** Snapshot-export emulation (SURVEY.md §2.A R2+R6): partitioned write
    * to a scratch dir, read back, return the per-partition manifest. The
    * read-back count doubles as copy verification. */
  def exportManifest(spark: SparkSession, sfDir: String): DataFrame = {
    // under the process scratch root: concurrent JVMs on the same sfDir
    // must not overwrite this dir mid-read-back
    val dest = graft.util.Scratch.forSf(sfDir, "lineitem")
    lineitem(spark, sfDir)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dest)
    spark.read.parquet(dest)
      .groupBy(col("l_returnflag").cast("string").as("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("decimal(18,2)").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val exportManifestOracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** HIVE-STYLE PARTITION PRUNING — the coarsest and cheapest 100 TB
    * lever: events land partitioned by `event_type` (one directory per
    * value), and a reader filtering on the partition column never
    * opens the other directories at PLANNING time (PartitionFilters in
    * the scan node — PlanSpec asserts it, and that no data filter
    * remains). Row-group skipping (scan_filter_pushdown) still reads
    * footers; directory pruning reads nothing at all — at 100 TB with
    * date partitions this is the difference between listing one day
    * and scanning a year. The partition column itself comes back from
    * the directory NAME, not file bytes, which is also why it must be
    * re-cast: written-as-string is the hive convention. */
  def scanPartitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "events_part")
    events(spark, sfDir)
      .select("event_id", "user_id", "value", "event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(dest)
    spark.read.parquet(dest)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value", "event_type")
      .orderBy("event_id")
  }

  val scanPartitionPruningOracle: String =
    """SELECT event_id, user_id, value, event_type FROM events
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  /** DYNAMIC PARTITION OVERWRITE — the incremental-refresh write mode
    * every partitioned 100 TB table lives by: a daily job recomputes
    * ONE partition and overwrites ONLY the partitions present in its
    * output, leaving every other partition's files physically
    * untouched (static overwrite mode would drop the whole table
    * first — the classic midnight data-loss foot-gun). Here the full
    * orders table lands partitioned by priority, then a second write
    * with `partitionOverwriteMode=dynamic` replaces just the
    * '1-URGENT' partition with doubled totals. The graded read is the
    * final table: urgent rows transformed, all others bit-identical
    * originals — which only holds if the second write really did scope
    * its overwrite to the one partition. Doubling a double is exact
    * (×2 is a power of two), so no rounding enters the comparison;
    * OperatorSpec additionally pins the MECHANISM by asserting the
    * untouched partitions' files are the same paths after the second
    * write. */
  def exportPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "orders_dynpart")
    val base = orders(spark, sfDir)
      .select(col("o_orderkey"),
        dec(col("o_totalprice")).cast("double").as("total"),
        col("o_orderpriority"))
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dest)
    base.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("total", col("total") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderpriority").parquet(dest)
    spark.read.parquet(dest)
      .select("o_orderkey", "total", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val exportPartitionOverwriteOracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderpriority = '1-URGENT' THEN 2 * t ELSE t END AS total,
      |  o_orderpriority
      |FROM (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS t,
      |        o_orderpriority FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** SIZED-FILE EXPORT — `maxRecordsPerFile`, the knob that makes an
    * export consumable at 100 TB: one writer task otherwise emits one
    * arbitrarily-large file (unsplittable consumers, skewed downstream
    * reads, object-store part limits), so the writer ROLLS files at a
    * record cap. The graded read is content fidelity of the re-read
    * (sizing must never drop or duplicate rows); OperatorSpec pins the
    * MECHANISM — more than one file, every file within the cap — which
    * the row-shaped oracle can't see. The deliberate `repartition(1)`
    * models the worst case (all rows land on one writer task); the cap
    * re-splits what the partitioning concentrated. */
  def exportSizedFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "orders_sized")
    orders(spark, sfDir)
      .select(col("o_orderkey"), dec(col("o_totalprice")).cast("double").as("total"),
        col("o_orderpriority"))
      .repartition(1)
      .write.mode("overwrite").option("maxRecordsPerFile", 1000).parquet(dest)
    spark.read.parquet(dest)
      .select("o_orderkey", "total", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val exportSizedFilesOracle: String =
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
      |  o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Morton (Z-order) value interleaving the low 8 bits of two integer
    * columns — the space-filling curve under Delta/Iceberg's
    * OPTIMIZE ZORDER. Static 8-step unroll, pure codegen arithmetic. */
  private[graft] def morton8(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).foldLeft(lit(0L)) { (acc, i) =>
      acc + (shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i + 1) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i)).cast("long")
    }

  /** Z-ORDER CLUSTERED EXPORT — multi-dimensional data skipping, the
    * layout move for the "WHERE user X AND value-band Y" query no
    * single-column sort can serve: rows land range-partitioned by the
    * Morton interleave of (user_id, value), so each output file covers
    * a small RECTANGLE of the 2-D space and a 2-D box predicate prunes
    * by file min/max on BOTH columns at once (a linear layout makes
    * every file span the full range of the second column). OperatorSpec
    * measures it: the box query intersects strictly fewer z-ordered
    * files than time-ordered ones. At 100 TB this is the difference
    * between reading the box's covering tiles and scanning every file;
    * the curve order is computed once at write time, entirely in
    * codegen arithmetic. The returned rows are the box query's result,
    * proving the clustered copy is lossless where it matters. */
  def exportZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "events_zorder")
    val x = pmod(col("user_id"), lit(256)).cast("int")
    val y = pmod(floor(col("value")).cast("long"), lit(256)).cast("int")
    events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("zval", morton8(x, y))
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(dest)
    spark.read.parquet(dest)
      .filter(col("user_id").between(10, 19) &&
        col("value") >= 100 && col("value") < 150)
      .select("event_id", "user_id", "value")
      .orderBy("event_id")
  }

  val exportZorderOracle: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE user_id BETWEEN 10 AND 19 AND value >= 100 AND value < 150
      |ORDER BY event_id""".stripMargin

  /** DYNAMIC PARTITION PRUNING — static pruning's runtime sibling and
    * one of the biggest scan-cost levers on a partitioned 100 TB fact
    * table: the fact is partitioned by `event_type`, and the partitions
    * to read are only known AFTER the dimension side's filter runs
    * (here: the event types whose exact-decimal value mass exceeds the
    * corpus mean — a data-determined, SF-portable cut that always keeps
    * some types and drops some). Catalyst injects a
    * `dynamicpruningexpression` into the fact scan's partition filters,
    * reusing the dim side's broadcast, so the pruned partitions' files
    * are never opened — at 1000 partitions and a 1-in-5 dim filter
    * that is 80% of scan IO gone at runtime, with no static predicate
    * anywhere in the query. PlanSpec asserts the pruning subquery is
    * really in the plan (the result alone can't prove files were
    * skipped). */
  def scanDynamicPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "events_dpp")
    val ev = events(spark, sfDir)
    ev.select("event_id", "user_id", "value", "event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(dest)
    val fact = spark.read.parquet(dest)
    // exact-decimal mean cut: 5 * type_mass > total_mass (all decimal
    // algebra, so both engines agree at the boundary); at least one
    // type is always above the mean and at least one below
    val total = ev.agg(sum(dec(col("value")))).collect()(0).getDecimal(0)
    val dim = ev.groupBy("event_type")
      .agg(sum(dec(col("value"))).as("s"))
      .filter(col("s") * 5 > lit(total))
      .select("event_type")
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val scanDynamicPruningOracle: String =
    """WITH dim AS (SELECT event_type FROM events GROUP BY 1
      |  HAVING SUM(CAST(value AS DECIMAL(18,2))) * 5 >
      |    (SELECT SUM(CAST(value AS DECIMAL(18,2))) FROM events))
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** COLUMN PROFILER — the ANALYZE TABLE / data-profiling pass every
    * warehouse runs before trusting a new drop: per column, row count,
    * null count, exact distinct count, and min/max rendered as strings
    * (BIGINT and VARCHAR render identically in both engines; the
    * timestamp column is profiled at DATE grain, whose ISO rendering
    * is also engine-identical — profiling floats as strings is the one
    * formatting trap, deliberately avoided). Shape at 100 TB: one
    * pass per profiled column over a COLUMN-PRUNED scan (the reader
    * fetches only that column's pages — this is the operator where
    * columnar pruning IS the optimization), partial+final aggregates
    * throughout; exact distinct is the one shuffle, and
    * `agg_approx_hll` is the documented sketch fallback when even
    * that is too hot. */
  val scanProfile: Key = Key.sql("scan_profile") { t =>
    s"""SELECT * FROM (
       |  SELECT 'l_orderkey' AS col, COUNT(*) AS n_rows,
       |    CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_null,
       |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       |    CAST(MIN(l_orderkey) AS ${t.string}) AS min_v,
       |    CAST(MAX(l_orderkey) AS ${t.string}) AS max_v
       |  FROM ${t("lineitem")}
       |  UNION ALL
       |  SELECT 'l_returnflag', COUNT(*), CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
       |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
       |    CAST(MIN(l_returnflag) AS ${t.string}), CAST(MAX(l_returnflag) AS ${t.string})
       |  FROM ${t("lineitem")}
       |  UNION ALL
       |  SELECT 'l_shipdate', COUNT(*), CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
       |    CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
       |    CAST(CAST(MIN(l_shipdate) AS DATE) AS ${t.string}),
       |    CAST(CAST(MAX(l_shipdate) AS DATE) AS ${t.string})
       |  FROM ${t("lineitem")}
       |) ORDER BY col""".stripMargin
  }

  /** SQL FRONT-END — the same engine through `spark.sql` instead of the
    * DataFrame API: the star-revenue rollup written as the multi-CTE
    * ANSI SQL an analyst would type, reading each table by path.
    * The point is API parity, graded: a reference user who talks SQL
    * gets the SAME Catalyst plan machinery — the dims broadcast, the
    * money math is the proven exact-cents DECIMAL cast, and the result
    * hash-matches DuckDB running the identical query text. */
  val sqlStarRevenue: Key = Key.sql("sql_star_revenue") { t =>
    s"""WITH li AS (SELECT l_orderkey,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM ${t("lineitem")})
       |SELECT r_name, n_name,
       |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
       |FROM li JOIN ${t("orders")} ON l_orderkey = o_orderkey
       |JOIN ${t("customer")} ON o_custkey = c_custkey
       |JOIN ${t("nation")} ON c_nationkey = n_nationkey
       |JOIN ${t("region")} ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
  }

  /** TPC-H Q3 SHAPE (shipping priority, r10) — the canonical
    * "unshipped high-value orders" report through `spark.sql`: a
    * segment-filtered customer⋈orders⋈lineitem join with OPPOSING date
    * predicates (orders placed before the cutoff, lines shipped after
    * it), grouped per order, top-10 by revenue. What it grades beyond
    * the existing SQL keys: a selective dim filter that must push into
    * the fact join, the house exact-decimal revenue expression running
    * IDENTICALLY as SQL text on both engines, and a deterministic
    * top-k (revenue DESC, orderkey tiebreak — a total order, so LIMIT
    * 10 picks the same rows everywhere) that Spark plans as
    * TakeOrderedAndProject, never a global sort. Shape at 100 TB:
    * customer broadcasts, orders⋈lineitem shuffles once on the order
    * key, the top-k is per-partition heads merged on the driver. */
  val sqlQ3ShippingPriority: Key = Key.sql("sql_q3_shipping_priority") { t =>
    s"""SELECT l_orderkey,
       |  CAST(ROUND(SUM($revenueSqlFrag), 2) AS DOUBLE) AS revenue,
       |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
       |FROM ${t("customer")}
       |JOIN ${t("orders")} ON c_custkey = o_custkey
       |JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin
  }

  /** TPC-H Q5 SHAPE (local supplier volume, r10) — the six-table join
    * whose signature is the CYCLE in the join graph: lineitem joins
    * supplier on the part's supplier key AND `s_nationkey =
    * c_nationkey`, closing customer→orders→lineitem→supplier back onto
    * the customer's nation — revenue counted only when customer and
    * supplier are compatriots. That cycle is the classic join-order
    * stress (the planner must not materialize the acyclic relaxation),
    * and the region filter must prune nation before the fact tables
    * join. Same SQL text on both engines, exact-decimal revenue,
    * nation-sized output. Shape at 100 TB: region/nation/customer/
    * supplier all broadcast, the single fact⋈fact shuffle is
    * orders⋈lineitem on the order key. */
  val sqlQ5LocalVolume: Key = Key.sql("sql_q5_local_volume") { t =>
    s"""SELECT n_name,
       |  CAST(ROUND(SUM($revenueSqlFrag), 2) AS DOUBLE) AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM ${t("customer")}
       |JOIN ${t("orders")} ON c_custkey = o_custkey
       |JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
       |JOIN ${t("supplier")} ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN ${t("nation")} ON c_nationkey = n_nationkey
       |JOIN ${t("region")} ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
  }

  /** LATERAL TOP-N PER GROUP (r10) — the last big SQL-front-end shape
    * the sql_ keys didn't cover: a correlated LATERAL derived table
    * with ORDER BY + LIMIT inside ("for each customer, their two
    * most expensive orders"), the form ORMs and BI tools emit for
    * top-n-per-key. Naively that is a per-outer-row re-execution of
    * the subquery; Catalyst decorrelates it into a row_number Window
    * over the inner side joined back on the correlation key
    * (PlanSpec pins the Window + hash join, no loop, no Cartesian) —
    * the same plan the hand-written `win_topk` key builds, now
    * reached FROM SQL. Exact integer cents; total-ordered inner sort
    * (cents DESC, orderkey) so both engines cut the identical two
    * rows per customer. */
  val sqlLateralTopn: Key = Key.sql("sql_lateral_topn") { t =>
    s"""SELECT c_custkey, o_orderkey, cents
       |FROM (SELECT c_custkey FROM ${t("customer")} WHERE c_custkey <= 20) c,
       |LATERAL (SELECT o_orderkey,
       |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |         FROM ${t("orders")} o
       |         WHERE o.o_custkey = c.c_custkey
       |         ORDER BY cents DESC, o_orderkey LIMIT 2) t
       |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin
  }

  /** TPC-H Q22 SHAPE (global-average anti-join report, r11) — the one
    * subquery combination the sql_/filter_ keys still lacked:
    * UNCORRELATED scalar aggregate subqueries (the global
    * positive-balance count/sum — planned ONCE as a broadcast scalar,
    * not per row; correlated decorrelation is the OTHER keys' job)
    * gating a NOT EXISTS anti join ("well-funded customers who never
    * placed an URGENT order" — Q22's lapsed-accounts report with
    * c_mktsegment standing in for the phone country code this schema
    * doesn't carry, and the priority filter inside the subquery
    * because this generator gives nearly every customer SOME order —
    * the unfiltered form would grade an empty result). The
    * above-average threshold is exact integer cross-multiplication
    * (cents·n_pos > sum_pos — no division at the boundary); Catalyst
    * plans the NOT EXISTS as a LEFT ANTI join on c_custkey and
    * evaluates each global aggregate exactly once (PlanSpec). At
    * 100 TB: two metadata-sized scalar broadcasts + one keyed anti
    * join against orders — never a rescan per customer. */
  val sqlQ22GlobalCust: Key = Key.sql("sql_q22_global_cust") { t =>
    s"""SELECT c_mktsegment AS segment,
       |  CAST(COUNT(*) AS BIGINT) AS n_cust,
       |  CAST(SUM(cents) AS BIGINT) AS total_cents
       |FROM (SELECT c_custkey, c_mktsegment,
       |        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |      FROM ${t("customer")}) c
       |WHERE cents > 0
       |  AND cents * (SELECT CAST(COUNT(*) AS BIGINT) FROM ${t("customer")} WHERE c_acctbal > 0)
       |      > (SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
       |         FROM ${t("customer")} WHERE c_acctbal > 0)
       |  AND NOT EXISTS (SELECT 1 FROM ${t("orders")} o
       |                  WHERE o.o_custkey = c.c_custkey
       |                    AND o.o_orderpriority = '1-URGENT')
       |GROUP BY c_mktsegment ORDER BY segment""".stripMargin
  }

  /** TPC-H Q21 SHAPE (suppliers who kept orders waiting, r11) — the
    * hardest stock decorrelation: TWO predicate subqueries on the SAME
    * fact table with the same correlation key but opposite quantifiers
    * — EXISTS (another supplier contributed to this order) AND
    * NOT EXISTS (another supplier was ALSO late on it), i.e. "this
    * supplier was the sole bottleneck of a multi-supplier order".
    * Catalyst must plan ONE left-semi and ONE left-anti join against
    * lineitem on the order key (RewritePredicateSubquery) — three
    * scans of the same fact, never a per-row loop; PlanSpec pins zero
    * surviving subqueries and no Cartesian. Lateness adapts Q21's
    * receipt-vs-commit (columns this schema doesn't carry) to
    * ship-vs-order + 60 days — the NOT EXISTS body is itself a
    * lineitem⋈orders join, so the anti side is a JOIN TREE like Q2's
    * subquery body. Identical SQL text on both engines; counts are
    * deterministic (numwait DESC, name tiebreak). At 100 TB: three
    * order-key shuffles of lineitem + a broadcast supplier dim — the
    * semi/anti sides carry only (orderkey, suppkey). */
  val sqlQ21WaitingSupplier: Key = Key.sql("sql_q21_waiting_supplier") { t =>
    s"""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM ${t("supplier")} JOIN ${t("lineitem")} l1 ON s_suppkey = l1.l_suppkey
       |JOIN ${t("orders")} o ON o.o_orderkey = l1.l_orderkey
       |WHERE o.o_orderstatus = 'F'
       |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
       |  AND EXISTS (SELECT 1 FROM ${t("lineitem")} l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM ${t("lineitem")} l3
       |                  JOIN ${t("orders")} o3 ON o3.o_orderkey = l3.l_orderkey
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
       |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin
  }

  /** TPC-H Q18 SHAPE (large-volume orders, r11) — the IN-over-
    * aggregated-HAVING subquery the other sql_ keys don't grade:
    * membership is defined by an AGGREGATE of the inner table
    * (orders whose lines total > 180 units), so Catalyst must plan
    * aggregate-then-LEFT-SEMI-join (the subquery collapses lineitem to
    * order grain BEFORE the probe — at 100 TB the semi side is
    * |orders| keys, not |lineitem| rows), then the outer re-joins
    * lineitem to re-aggregate the winners' quantities. Whole-number
    * quantities make SUM exact in double and the BIGINT cast lossless;
    * ORDER BY (total_qty DESC, orderkey) is a total order. Identical
    * SQL text on both engines. */
  val sqlQ18LargeOrders: Key = Key.sql("sql_q18_large_orders") { t =>
    s"""SELECT c_name, c_custkey, o_orderkey,
       |  CAST(o_orderdate AS DATE) AS odate,
       |  CAST(SUM(l_quantity) AS BIGINT) AS total_qty
       |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
       |JOIN ${t("lineitem")} ON o_orderkey = l_orderkey
       |WHERE o_orderkey IN (SELECT l_orderkey FROM ${t("lineitem")}
       |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
       |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
       |ORDER BY total_qty DESC, o_orderkey""".stripMargin
  }

  /** TPC-H Q15 SHAPE — TOP SUPPLIER (r12): HAVING-equals-global-MAX
    * over an aggregated view, the one classic subquery shape the
    * q2/q17/q18/q21/q22 family doesn't cover. The revenue CTE is
    * referenced TWICE — once as the join input, once under the
    * uncorrelated scalar `(SELECT MAX(total_rev) FROM revenue)` — and
    * the scale question is whether that scalar executes ONCE as a
    * broadcast one-row subquery (PlanSpec pins `outerAttrs.isEmpty`:
    * nothing correlates to the outer row, so cost is one extra
    * aggregate over the k-row view, not a per-row re-scan). Revenue
    * rides exact integer cents (price_cents × (100 − disc_pct), ~1e13
    * per supplier — far inside BIGINT) so the equality gate against
    * MAX is exact on both engines; DuckDB's HUGEINT sum is cast back
    * per the §5.4 conventions. At 100 TB: one lineitem scan with the
    * quarter filter pushed to parquet, one supplier-keyed partial
    * aggregate, a broadcast dim join, and a 1-row broadcast gate. */
  val sqlQ15TopSupplier: Key = Key.sql("sql_q15_top_supplier") { t =>
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |             * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))
       |      AS BIGINT) AS total_rev
       |  FROM ${t("lineitem")}
       |  WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
       |    AND l_shipdate < CAST('1996-04-01' AS TIMESTAMP)
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_rev
       |FROM ${t("supplier")} JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin
  }

  /** TPC-H Q7 SHAPE — NATION-PAIR VOLUME SHIPPING (r12, unasked-for
    * breadth): the symmetric-OR join predicate
    * `(n1 = A AND n2 = B) OR (n1 = B AND n2 = A)` over a 4-fact-deep
    * join chain. The OR spans BOTH dim sides, so it cannot split into
    * per-scan pushdowns — the scale question is whether the two nation
    * joins stay BROADCAST hash joins with the pair filter as a cheap
    * residual (PlanSpec pins ≥2 broadcasts, no nested loop), instead
    * of degenerating into a cartesian on the 625-row nation×nation
    * space or shuffling the fact chain twice. Revenue rides the same
    * exact integer cents as Q15. */
  val sqlQ7VolumeShipping: Key = Key.sql("sql_q7_volume_shipping") { t =>
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))
       |    AS BIGINT) AS revenue
       |FROM ${t("supplier")}
       |JOIN ${t("lineitem")} ON s_suppkey = l_suppkey
       |JOIN ${t("orders")} ON o_orderkey = l_orderkey
       |JOIN ${t("customer")} ON c_custkey = o_custkey
       |JOIN ${t("nation")} n1 ON s_nationkey = n1.n_nationkey
       |JOIN ${t("nation")} n2 ON c_nationkey = n2.n_nationkey
       |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
       |  AND l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
       |  AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)
       |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin
  }

  /** TPC-H Q13 SHAPE — CUSTOMER ORDER-COUNT DISTRIBUTION (r12): the
    * double-aggregate over a LEFT OUTER join — count per customer
    * INCLUDING zero-order customers (the outer join's whole point:
    * an inner join would silently drop the c_count = 0 bucket, the
    * most business-critical row of the histogram), then a second
    * aggregate over the counts. The join-level extra predicate
    * (priority ≠ '4-NOT SPECIFIED', standing in for the reference's
    * comment filter — this fixture has no o_comment) must stay IN the
    * outer join's ON clause: as a WHERE it would turn the outer join
    * inner. At 100 TB: one customer-keyed shuffle for the outer
    * count, then a k-row histogram aggregate. */
  val sqlQ13CustDist: Key = Key.sql("sql_q13_custdist") { t =>
    s"""WITH c_orders AS (
       |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |  FROM ${t("customer")} LEFT OUTER JOIN ${t("orders")}
       |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
       |  GROUP BY c_custkey)
       |SELECT c_count, COUNT(*) AS custdist
       |FROM c_orders GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin
  }

  /** TPC-H Q14 SHAPE — PROMO REVENUE SHARE (r12): the conditional-
    * aggregate ratio (CASE inside SUM over the same scan — never two
    * scans) by month. The ratio rides exact integers end-to-end:
    * cents-scaled revenue, ppm-scaled division with DECIMAL(38,0) /
    * HUGEINT intermediates (1e6 × a month's revenue sum overflows
    * BIGINT at scale — the `agg_ks_test` headroom rule), so both
    * engines produce identical integers with zero float drift. */
  val sqlQ14PromoShare: Key = Key.sql("sql_q14_promo_share") { t =>
    s"""SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ym,
       |  CAST((1000000::${t.int128} *
       |        SUM(CASE WHEN p_type = 'PROMO'
       |            THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |                 * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))
       |            ELSE 0 END))
       |    ${t.idiv} SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))
       |    AS BIGINT) AS promo_ppm
       |FROM ${t("lineitem")} JOIN ${t("part")} ON l_partkey = p_partkey
       |WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
       |  AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
       |GROUP BY year(l_shipdate) * 100 + month(l_shipdate)
       |ORDER BY ym""".stripMargin
  }

  /** TPC-H Q19 SHAPE — DISJUNCTIVE PREDICATE REVENUE (r12): three
    * OR'd conjunct groups, each mixing build-side (brand, size) and
    * probe-side (quantity) attributes — the OR cannot push into
    * either scan alone, and the scale question is whether the join
    * still plans as an EQUI hash join on l_partkey = p_partkey with
    * the disjunction as a residual filter (PlanSpec pins no nested
    * loop; part broadcasts as the dim). Grouped by brand so the
    * oracle checks three revenue cells, not one scalar. */
  val sqlQ19DisjunctiveRev: Key = Key.sql("sql_q19_disjunctive_rev") { t =>
    s"""SELECT p_brand,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))
       |    AS BIGINT) AS revenue_cents_x100
       |FROM ${t("lineitem")} JOIN ${t("part")} ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 1 AND 15)
       |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
       |       AND l_quantity BETWEEN 10 AND 25)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       |       AND l_quantity BETWEEN 20 AND 35)
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin
  }

  /** SQL FRONT-END, ANALYTIC SHAPE — `sql_star_revenue` proves the
    * star join through `spark.sql`; this key proves the ANALYTIC half
    * of the SQL surface: a CTE feeding two different window frames in
    * one SELECT (cross-segment RANK per month + per-segment running
    * total), the shape every BI tool emits. One text runs on both
    * engines; the month key is `year·100+month` integers — a
    * `date_format` string would hit engine-specific rendering, the
    * trap the §5.4 conventions exist for. Catalyst plans both windows
    * off ONE collapsed (seg, month) aggregate: the second window's
    * re-sort is segment-keyed, never a global shuffle. */
  val sqlWindowCte: Key = Key.sql("sql_window_cte") { t =>
    s"""WITH m AS (SELECT c_mktsegment AS seg,
       |    year(o_orderdate) * 100 + month(o_orderdate) AS ym,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
       |  FROM ${t("orders")} JOIN ${t("customer")} ON o_custkey = c_custkey
       |  GROUP BY 1, 2)
       |SELECT seg, ym, rev_cents,
       |  RANK() OVER (PARTITION BY ym ORDER BY rev_cents DESC, seg) AS rk,
       |  CAST(SUM(rev_cents) OVER (PARTITION BY seg ORDER BY ym
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
       |FROM m ORDER BY seg, ym""".stripMargin
  }

  /** TPC-H Q6 SHAPE — FORECASTING REVENUE CHANGE (r13): the pure
    * scan → filter → single-row aggregate, deliberately join-free —
    * the one classic shape the q3..q22 family still lacked and the
    * canonical predicate-pushdown showcase: all three filters (date
    * range, discount band, quantity cap) must reach the parquet scan
    * as PushedFilters, so at 100 TB the query reads only the row
    * groups whose min/max stats survive them. The discount band
    * compares as DECIMAL(4,2), never raw doubles — an exact 0.05 ≤ d ≤
    * 0.07 on binary floats would be engine-dependent at the
    * boundaries. Revenue is the exact integer cent·percent product. */
  val sqlQ6ForecastRevenue: Key = Key.sql("sql_q6_forecast_revenue") { t =>
    s"""SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |         * CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS BIGINT)
       |    AS revenue_cent_pct,
       |  COUNT(*) AS n_lines
       |FROM ${t("lineitem")}
       |WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
       |  AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
       |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin
  }

  /** TPC-H Q8 SHAPE — NATIONAL MARKET SHARE (r13): the conditional-
    * aggregate-over-a-star shape — NATION_1's share of ECONOMY-part
    * revenue among AMERICA-region customers, per order year. The
    * nation table joins TWICE under different roles (customer-side
    * region gate, supplier-side share target), the five dims all
    * broadcast, and the share is a per-group conditional sum over one
    * fact⋈fact pass — no second scan for the denominator. Exact
    * integer volumes; the ppm division rides DECIMAL(38,0)/HUGEINT
    * (the q14 rule). */
  val sqlQ8MarketShare: Key = Key.sql("sql_q8_market_share") { t =>
    s"""SELECT o_year,
       |  CAST((1000000::${t.int128} *
       |        SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END))
       |    ${t.idiv} SUM(vol) AS BIGINT) AS mkt_share_ppm,
       |  CAST(SUM(vol) AS BIGINT) AS total_vol
       |FROM (
       |  SELECT year(o_orderdate) AS o_year,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS vol,
       |    n2.n_name AS supp_nation
       |  FROM ${t("lineitem")}
       |  JOIN ${t("orders")} ON l_orderkey = o_orderkey
       |  JOIN ${t("customer")} ON o_custkey = c_custkey
       |  JOIN ${t("supplier")} ON l_suppkey = s_suppkey
       |  JOIN ${t("nation")} n1 ON c_nationkey = n1.n_nationkey
       |  JOIN ${t("region")} ON n1.n_regionkey = r_regionkey
       |  JOIN ${t("nation")} n2 ON s_nationkey = n2.n_nationkey
       |  JOIN ${t("part")} ON l_partkey = p_partkey
       |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY') all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin
  }

  /** TPC-H Q10 SHAPE — RETURNED ITEM REPORTING (r13): the top-k
    * revenue-loss ranking — customers whose Q1-1996 orders shipped
    * lines that came back flagged 'R', ranked by exact lost revenue.
    * A 4-table star (two broadcast dims, one fact⋈fact), a customer-
    * keyed aggregate, and a deterministic top-20 (revenue DESC, then
    * custkey — LIMIT without a total order is nondeterministic under
    * shuffle, the driver-hash trap every `*_topk` key dodges the same
    * way). At 100 TB the date gate prunes orders BEFORE the fact⋈fact
    * join and the returnflag filter pushes to the lineitem scan. */
  val sqlQ10ReturnedItems: Key = Key.sql("sql_q10_returned_items") { t =>
    s"""SELECT c_custkey, c_name,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)))
       |    AS BIGINT) AS revenue,
       |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents,
       |  n_name
       |FROM ${t("customer")}
       |JOIN ${t("orders")} ON c_custkey = o_custkey
       |JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
       |JOIN ${t("nation")} ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
       |  AND o_orderdate < CAST('1996-04-01' AS TIMESTAMP)
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin
  }

  /** TPC-H Q4 SHAPE — ORDER PRIORITY CHECKING (r14): the correlated
    * EXISTS shape — count a quarter's orders per priority where at
    * least one line shipped after the order date (this schema's stand-
    * in for Q4's commit<receipt lateness test; lineitem has no
    * commit/receipt columns). Catalyst decorrelates the EXISTS into a
    * LEFT SEMI hash join on l_orderkey — each order is counted once no
    * matter how many qualifying lines — and the quarter filter on
    * orders prunes the probe side BEFORE the join, so at 100 TB the
    * semi join shuffles one quarter of orders against lineitem keys,
    * never the full fact⋈fact product. Completes the TPC-H survey:
    * with q4/q9/q12 every Q expressible on this schema is graded
    * (q11/q16/q20 need the absent partsupp table). */
  val sqlQ4OrderPriority: Key = Key.sql("sql_q4_order_priority") { t =>
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM ${t("orders")}
       |WHERE o_orderdate >= CAST('1996-07-01' AS TIMESTAMP)
       |  AND o_orderdate < CAST('1996-10-01' AS TIMESTAMP)
       |  AND EXISTS (SELECT 1 FROM ${t("lineitem")}
       |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** TPC-H Q9 SHAPE — PRODUCT-TYPE PROFIT (r14): the widest remaining
    * join tree — lineitem ⋈ part (name-LIKE gate) ⋈ supplier ⋈ nation
    * ⋈ orders, profit per supplier nation per order year. Q9's
    * ps_supplycost has no partsupp table here, so cost is modeled as
    * 10% of p_retailprice per unit — same join shape, same exact-
    * decimal arithmetic (cents × percent for revenue, deci-dollar ×
    * integer quantity for cost; ROUND(…,2)→DOUBLE only at the end).
    * Scale shape: the LIKE filter reaches the part scan, the filtered
    * part/supplier/nation dims broadcast, and the only big shuffle is
    * lineitem⋈orders on orderkey — the unavoidable fact⋈fact edge,
    * grouped map-side by (nation, year) afterwards. */
  val sqlQ9ProductProfit: Key = Key.sql("sql_q9_product_profit") { t =>
    s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |  CAST(ROUND(SUM(CAST($revenueSqlFrag AS DECIMAL(24,8)) -
       |    CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
       |      * CAST(0.1 AS DECIMAL(8,6))), 2) AS DOUBLE) AS profit,
       |  COUNT(*) AS n_lines
       |FROM ${t("lineitem")}
       |JOIN ${t("part")} ON l_partkey = p_partkey
       |JOIN ${t("supplier")} ON l_suppkey = s_suppkey
       |JOIN ${t("nation")} ON s_nationkey = n_nationkey
       |JOIN ${t("orders")} ON o_orderkey = l_orderkey
       |WHERE p_name LIKE '%bolt%'
       |GROUP BY n_name, year(o_orderdate)
       |ORDER BY nation, o_year""".stripMargin
  }

  /** TPC-H Q12 SHAPE — PRIORITY CLASS BY SHIP CLASS (r14): the two-
    * bucket conditional count after a date-windowed fact⋈fact join —
    * per returnflag (standing in for Q12's absent l_shipmode), how
    * many lines of a ship-year belong to urgent/high- vs lower-
    * priority orders. The CASE buckets evaluate map-side inside the
    * partial aggregate, so the post-join shuffle carries 3 groups ×
    * 2 counters, not rows; the ship-date window prunes lineitem at
    * the scan. Exact integer counts, CAST BIGINT on both engines
    * (DuckDB SUM(int) is otherwise HUGEINT — the §5.4 hash trap). */
  val sqlQ12PriorityClass: Key = Key.sql("sql_q12_priority_class") { t =>
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM ${t("orders")} JOIN ${t("lineitem")} ON o_orderkey = l_orderkey
       |WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
       |  AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    sqlQ4OrderPriority,
    sqlQ9ProductProfit,
    sqlQ12PriorityClass,
    sqlQ6ForecastRevenue,
    sqlQ8MarketShare,
    sqlQ10ReturnedItems,
    sqlWindowCte,
    sqlStarRevenue,
    sqlQ3ShippingPriority,
    sqlQ5LocalVolume,
    sqlQ22GlobalCust,
    sqlQ21WaitingSupplier,
    sqlQ18LargeOrders,
    sqlQ15TopSupplier,
    sqlQ7VolumeShipping,
    sqlQ13CustDist,
    sqlQ14PromoShare,
    sqlQ19DisjunctiveRev,
    sqlLateralTopn,
    scanProfile,
    Key("scan_dynamic_pruning", scanDynamicPruning, scanDynamicPruningOracle),
    Key("scan_partition_pruning", scanPartitionPruning, scanPartitionPruningOracle),
    Key("export_partition_overwrite", exportPartitionOverwrite, exportPartitionOverwriteOracle),
    Key("export_sized_files", exportSizedFiles, exportSizedFilesOracle),
    Key("export_zorder", exportZorder, exportZorderOracle),
    scanProject,
    scanFilterPushdown,
    scanEventsNs,
    Key("scan_kv_model", scanKvModel, scanKvModelOracle),
    Key("export_manifest", exportManifest, exportManifestOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
