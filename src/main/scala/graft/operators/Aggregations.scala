package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Aggregation operators (SURVEY.md §2.B "Aggregations").
  *
  * Determinism: money/quantity sums run over DECIMAL(18,2) casts so the
  * aggregation is associative (partial/final agg order can't change the
  * result vs DuckDB); averages are computed as exact decimal sums divided
  * as doubles, then ROUND(6) on both sides (SURVEY.md §5.4).
  *
  * Output-type policy (round 2): final SELECTs never emit DECIMAL-family
  * columns — the external comparator canonicalizes int widths and
  * date/timestamp but NOT decimals/hugeint, so money outputs are rendered
  * as DOUBLE after the exact decimal math (exact: unscaled values are far
  * below 2^53, both engines correctly-round the same decimal), and oracle
  * SUM(int) is CAST to BIGINT (DuckDB would return HUGEINT).
  *
  * Scale posture: every query here is a partial+final HashAggregate over
  * a parquet scan with column pruning — the same plan shuffles only the
  * (few) group keys at 100 TB. No collect, no driver-side loops.
  */
object Aggregations {

  /** FLAGSHIP — TPC-H Q1 shape: pricing summary report over lineitem. */
  val aggPricingSummary: Key = Key.sql("agg_pricing_summary") { t =>
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(ROUND(SUM($revenueSqlFrag), 2) AS DOUBLE) AS sum_disc_price,
       |  CAST(ROUND(SUM(CAST($revenueSqlFrag AS DECIMAL(24,8)) * (CAST(1 AS DECIMAL(8,6)) + CAST(l_tax AS DECIMAL(8,6)))), 2) AS DOUBLE) AS sum_charge,
       |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       |  COUNT(*) AS count_order
       |FROM ${t("lineitem")}
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** Ungrouped global aggregate. */
  val aggGlobal: Key = Key.sql("agg_global") { t =>
    s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
       |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
       |FROM ${t("lineitem")}""".stripMargin
  }

  /** GROUP BY + HAVING on the aggregate. */
  val aggHaving: Key = Key.sql("agg_having") { t =>
    s"""SELECT o_custkey,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       |  COUNT(*) AS n_orders
       |FROM ${t("orders")} GROUP BY o_custkey
       |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) > 2500000
       |ORDER BY o_custkey""".stripMargin
  }

  /** Exact COUNT(DISTINCT) per group (Expand + two-phase agg). */
  val aggCountDistinct: Key = Key.sql("agg_count_distinct") { t =>
    s"""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
       |FROM ${t("orders")} GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** Approximate distinct users per event type via a PORTABLE bottom-k
    * (KMV) sketch — round-3 change: `approx_count_distinct`'s HLL is
    * engine-specific and left this the single oracle-exempt key, while
    * the KMV estimate (graft.functions.KmvDistinctAgg) is deterministic
    * integer math over md5, reproduced bit-for-bit by the DuckDB oracle.
    * Exact distinct is included so the sketch's error is itself a graded
    * output (err_pct_e6 = |approx−exact|·1e6 div exact). Spark's native
    * HLL remains available to users; the graded surface is the sketch
    * whose answer can be CHECKED. */
  def aggApproxHll(spark: SparkSession, sfDir: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvDistinctAgg)
    events(spark, sfDir)
      .groupBy("event_type")
      .agg(kmv(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .withColumn("err_pct_e6",
        expr("(1000000 * abs(approx_users - exact_users)) div exact_users"))
      .orderBy("event_type")
  }

  val aggApproxHllOracle: String =
    """WITH hv AS (
      |  SELECT DISTINCT event_type,
      |    list_reduce(list_transform(range(1, 13),
      |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS h
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_h
      |  FROM hv),
      |kmv AS (
      |  SELECT event_type,
      |    CASE WHEN n_h < 64 THEN n_h ELSE (63 * 281474976710656) // h END AS approx_users
      |  FROM ranked WHERE rn = LEAST(n_h, 64)),
      |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY 1)
      |SELECT kmv.event_type, approx_users, exact_users,
      |  (1000000 * abs(approx_users - exact_users)) // exact_users AS err_pct_e6
      |FROM kmv JOIN ex USING (event_type) ORDER BY event_type""".stripMargin

  /** MERGEABLE-SKETCH DISTINCT — the property that makes approximate
    * distinct count usable at 100 TB: KMV sketches (same k=64, 48-bit
    * md5-prefix hash space as `agg_approx_hll`) are computed per
    * (event_type, DAY) partition, then MERGED per type WITHOUT touching
    * the base rows again. Merge = distinct-union of the partial min-k
    * hash sets, re-take the k smallest. The identity that makes this
    * sound: each of the global k smallest hashes is necessarily inside
    * its own day's k smallest, so merged min-k == direct min-k EXACTLY
    * (and when the global distinct count is under k, every day keeps
    * its whole set, so the union IS the global set) — which is what the
    * oracle checks by computing the sketch directly from the full
    * table. This is the partial-aggregation contract any sketch must
    * satisfy for map-side combine: a partition ships k longs upward,
    * never its rows, and re-merging is associative and idempotent. */
  def aggSketchMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val base = events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), h.as("h"))
      .distinct()
    val wd = Window.partitionBy("event_type", "day").orderBy("h")
    // the per-day partial sketches: at most k hashes per (type, day)
    val partials = base
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= 64)
    // the merge: distinct-union of the partial sets, re-rank, kth value
    val merged = partials.select("event_type", "h").distinct()
    val est = merged
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .withColumn("n_h", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === least(col("n_h"), lit(64L)))
      .select(col("event_type"),
        expr("case when n_h < 64 then n_h else (63 * 281474976710656) div h end")
          .as("approx_users"))
    val np = partials.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_partials"))
    val ex = events(spark, sfDir).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(np, "event_type").join(ex, "event_type")
      .select("event_type", "n_partials", "approx_users", "exact_users")
      .orderBy("event_type")
  }

  /** Direct (unmerged) KMV from the full table — the merge identity
    * means the partial-then-merge path must reproduce it bit-for-bit. */
  val aggSketchMergeOracle: String =
    """WITH hv AS (
      |  SELECT DISTINCT event_type,
      |    list_reduce(list_transform(range(1, 13),
      |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS h
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_h
      |  FROM hv),
      |kmv AS (
      |  SELECT event_type,
      |    CASE WHEN n_h < 64 THEN n_h ELSE (63 * 281474976710656) // h END AS approx_users
      |  FROM ranked WHERE rn = LEAST(n_h, 64)),
      |np AS (SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_partials
      |       FROM events GROUP BY 1),
      |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      |       FROM events GROUP BY 1)
      |SELECT kmv.event_type, n_partials, approx_users, exact_users
      |FROM kmv JOIN np USING (event_type) JOIN ex USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** ROLLUP(region, nation) revenue, as SQL over the tables' paths: the
    * DataFrame form (rollup().orderBy() on join lineage) trips Spark's
    * ambiguous-self-join check, while SQL resolves the grouping columns
    * by name. Spark sorts nulls first by default; the text says NULLS
    * FIRST explicitly for DuckDB. */
  val aggRollup: Key = Key.sql("agg_rollup") { t =>
    s"""SELECT r_name, n_name, CAST(ROUND(SUM($revenueSqlFrag), 2) AS DOUBLE) AS revenue
       |FROM ${t("lineitem")}
       |JOIN ${t("orders")} ON l_orderkey = o_orderkey
       |JOIN ${t("customer")} ON o_custkey = c_custkey
       |JOIN ${t("nation")} ON c_nationkey = n_nationkey
       |JOIN ${t("region")} ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP(r_name, n_name)
       |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin
  }

  /** CUBE(returnflag, linestatus) counts + exact sums. */
  val aggCube: Key = Key.sql("agg_cube") { t =>
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM ${t("lineitem")} GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  }

  /** Explicit GROUPING SETS with per-column GROUPING() flags (avoids
    * engine-specific grouping_id bit orders). */
  val aggGroupingSets: Key = Key.sql("agg_grouping_sets") { t =>
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM ${t("lineitem")}
       |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  }

  /** Deterministic list aggregation: per-nation sorted supplier names,
    * joined to a single string (collect_list is order-unstable on its
    * own; sort_array + concat_ws pins it). */
  def aggCollectSorted(spark: SparkSession, sfDir: String): DataFrame =
    supplier(spark, sfDir)
      .join(broadcast(nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(concat_ws(",", sort_array(collect_list(col("s_name")))).as("suppliers"),
        count(lit(1)).as("n_suppliers"))
      .orderBy("n_name")

  val aggCollectSortedOracle: String =
    """SELECT n_name, COALESCE(STRING_AGG(s_name, ',' ORDER BY s_name), '') AS suppliers,
      |  COUNT(*) AS n_suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Custom UDAF surface: quantity-weighted average price per returnflag
    * via a typed Aggregator with an exact-decimal buffer (associative ⇒
    * deterministic under partial aggregation). */
  def udafWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(WeightedAvgAgg)
    lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("raw"))
      .select(col("l_returnflag"), r6(col("raw")).as("wavg_price"))
      .orderBy("l_returnflag")
  }

  val udafWeightedAvgOracle: String =
    """SELECT l_returnflag,
      |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |        / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6) AS wavg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact percentiles (linear interpolation) per group; the sketch
    * variant at scale is approx_percentile (like agg_approx_hll,
    * engine-specific → this exact form is the oracle-checked one). */
  def aggPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, array(0.5D, 0.9D))").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        r6(element_at(col("pcts"), 1)).as("p50"),
        r6(element_at(col("pcts"), 2)).as("p90"),
        col("n"))
      .orderBy("o_orderstatus")

  val aggPercentilesOracle: String =
    """SELECT o_orderstatus,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** PEARSON CORRELATION + sample covariance per returnflag — float
    * STATISTICS made deterministic: the built-in corr/covar_samp
    * accumulate doubles in partition order (non-associative, so Spark
    * and DuckDB drift), but the five moment sums Σx Σy Σxy Σx² Σy² over
    * DECIMAL inputs are EXACT in any order; both engines then evaluate
    * one identical closed-form double expression from those sums, and
    * ROUND 6 seals it. Same two-phase partial-agg shape at 100 TB —
    * decimal partials shuffle exactly like the doubles would. */
  val aggCorrExact: Key = Key.sql("agg_corr_exact") { t =>
    s"""WITH m AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS DECIMAL(28,2)) AS n,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sx,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sy,
       |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS sxy,
       |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS sxx,
       |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS syy
       |  FROM ${t("lineitem")} GROUP BY l_returnflag)
       |SELECT l_returnflag,
       |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |    (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |     SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_qty_price,
       |  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
       |    (CAST(n AS DOUBLE) - 1.0), 6) AS covar_samp
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** EXACT LEAST-SQUARES REGRESSION per returnflag — the REGR_* family
    * (slope / intercept / R²) of extendedprice on quantity, built the
    * `agg_corr_exact` way: the five DECIMAL moment sums are exact in
    * any partition order, then both engines evaluate IDENTICAL
    * closed-form double expressions (intercept in the symmetric
    * determinant form (Σy·Σxx − Σx·Σxy)/(n·Σxx − Σx²) — no nested
    * unrounded slope to drift) and ROUND 6 seals the comparison. The
    * built-in regr_slope would accumulate doubles partition-ordered and
    * drift vs DuckDB. Same two-phase partial-agg shape at 100 TB. */
  val aggRegrSlope: Key = Key.sql("agg_regr_slope") { t =>
    s"""WITH m AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(COUNT(*) AS DECIMAL(28,2)) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS DOUBLE) AS syy
       |  FROM ${t("lineitem")} GROUP BY l_returnflag)
       |SELECT l_returnflag,
       |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |  ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
       |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
       |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** EXACT MODE with a deterministic tie-break — the aggregate SQL
    * left out (most-frequent value per group). Ties go to the SMALLEST
    * value, so the answer is a pure function of the data, never of
    * partition order — the property that makes it oracle-comparable at
    * all. Shape: one groupBy on (group, value) collapses the input to
    * ≤ |distinct values| rows per group, then a row_number window over
    * that TINY grouped table picks (count desc, value asc) — the
    * expensive pass is the first groupBy, which partial-aggregates
    * map-side; the window never sees raw rows. Quantities are exact
    * integers (DECIMAL→INT, no float equality anywhere). */
  val aggMode: Key = Key.sql("agg_mode") { t =>
    s"""WITH c AS (SELECT l_returnflag,
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS INT) AS qty,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM ${t("lineitem")} GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |        ORDER BY n DESC, qty ASC) AS rn FROM c)
       |SELECT l_returnflag, qty AS mode_qty, n AS n_mode
       |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-rollup move
    * every 100 TB warehouse runs on: per-DAY partial aggregates are
    * PERSISTED (here to parquet — the "daily partition of the metrics
    * table" a nightly job appends), and the monthly rollup is computed
    * by MERGING the partials — count=Σcount, sum=Σsum (associative
    * because the money sum is DECIMAL-exact), min=min(min), max=max(max),
    * avg derived at finish from the merged sum/count — WITHOUT
    * rescanning the fact table. The graded comparison against a direct
    * months-from-facts oracle proves the algebraic-merge identity that
    * makes incremental view maintenance sound. At scale the partial
    * table is days × groups (metadata-sized next to the facts), and a
    * new day's merge touches one partial row per group. */
  def aggPartialMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = graft.util.Scratch.forSf(sfDir, "orders_daily_partials")
    orders(spark, sfDir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("s"),
        min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
      .write.mode("overwrite").parquet(dest)
    spark.read.parquet(dest)
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(sum(col("cnt")).as("n_orders"),
        sum(col("s")).cast("decimal(18,2)").cast("double").as("sum_total"),
        min(col("mn")).as("min_total"), max(col("mx")).as("max_total"))
      .withColumn("avg_total", round(col("sum_total") / col("n_orders"), 6))
      .orderBy("month")
  }

  /** Direct month-from-facts aggregation — equality with the merged
    * partials IS the key's claim. */
  val aggPartialMergeOracle: String =
    """SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_total,
      |  MIN(o_totalprice) AS min_total, MAX(o_totalprice) AS max_total,
      |  ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / COUNT(*), 6) AS avg_total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** FIXED-WIDTH HISTOGRAM — the profiling primitive every engine ships
    * (DuckDB `histogram`, Spark `width_bucket`): lineitem extendedprice
    * binned into $10,000-wide buckets per returnflag, with count and
    * exact decimal mass per bin. The bucket id is EXACT INTEGER math —
    * price → DECIMAL(18,2) → cents (×100 is lossless: TPC-H money has
    * exactly 2 decimals, so the decimal product's fraction is zero and
    * truncate-vs-round cast cannot diverge between engines) → BIGINT
    * `div` — because a float `floor(price/width)` would let a boundary
    * value land in different bins per engine. One partial+final
    * HashAggregate over a pruned 3-column scan: bin cardinality is
    * data-range/width (~60 bins), so at 100 TB the shuffle carries a
    * few hundred rows per mapper regardless of input size. */
  val aggHistFixed: Key = Key.sql("agg_hist_fixed") { t =>
    s"""SELECT l_returnflag,
       |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) ${t.idiv} 1000000 AS bucket,
       |  (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) ${t.idiv} 1000000) * 10000 AS bucket_lo,
       |  COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
       |FROM ${t("lineitem")} GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin
  }

  /** EXACT SKEWNESS / EXCESS KURTOSIS per returnflag — the 3rd/4th
    * standardized moments every profiler ships (`skewness()`,
    * `kurtosis()`), built the `agg_corr_exact` way but one step
    * further: quantity → exact integer CENTS (≤5000), whose 2nd/3rd/4th
    * powers stay in BIGINT (≤6.25e14/row) and sum exactly in
    * DECIMAL(38,0) — so the four power sums are bit-identical in any
    * partition order. Both moments are scale-invariant, so cents need
    * no rescaling. The closed forms then use ONLY IEEE
    * correctly-rounded double ops (+,−,×,÷,sqrt; `m2^1.5` is written
    * `m2*sqrt(m2)` specifically because POWER is not correctly rounded
    * and could flip ROUND-6 at a boundary) in identical expression
    * order on both engines. One partial+final HashAggregate over a
    * 2-column scan — the 100 TB plan for any moment statistic. */
  val aggSkewKurtosis: Key = Key.sql("agg_skew_kurtosis") { t =>
    s"""WITH s AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
       |    CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s1,
       |    CAST(SUM(CAST(c * c AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s2,
       |    CAST(SUM(CAST(c * c * c AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s3,
       |    CAST(SUM(CAST(c * c * c * c AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s4
       |  FROM (SELECT l_returnflag,
       |      CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |    FROM ${t("lineitem")}) GROUP BY l_returnflag),
       |a AS (SELECT l_returnflag, n,
       |    CAST(n AS DOUBLE) AS nd,
       |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
       |    CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
       |    CAST(s4 AS DOUBLE) AS s4d
       |  FROM s),
       |b AS (SELECT l_returnflag, n, nd, m1, s2d, s3d, s4d,
       |    s2d / nd - m1 * m1 AS m2,
       |    s3d / nd - 3.0 * m1 * s2d / nd + 2.0 * m1 * m1 * m1 AS m3,
       |    s4d / nd - 4.0 * m1 * s3d / nd + 6.0 * m1 * m1 * s2d / nd
       |      - 3.0 * m1 * m1 * m1 * m1 AS m4
       |  FROM a)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |  ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
       |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
       |FROM b ORDER BY l_returnflag""".stripMargin
  }

  /** WEIGHTED MEDIAN — the robust-statistics sibling of
    * `agg_percentiles`: the extendedprice at which half the total
    * QUANTITY mass (not half the rows) has been seen, per returnflag.
    * Definition: the smallest price p with 2·cumweight(p) ≥ totalweight
    * — all weight arithmetic in exact integer quantity-cents, so the
    * threshold test cannot drift between engines, and the selected
    * price is tie-run-stable (if the threshold lands inside a run of
    * equal prices, every order of the run selects the same price; the
    * unique trailing sort keys make each row's cumsum deterministic
    * anyway). Shape: one returnflag-keyed shuffle carrying BOTH the
    * running cumsum and the per-flag total as framed windows, then a
    * min-aggregate over the qualifying rows — no self-join, no second
    * pass over the data. */
  val aggWeightedMedian: Key = Key.sql("agg_weighted_median") { t =>
    s"""WITH t AS (SELECT l_returnflag, l_orderkey, l_linenumber,
       |    l_extendedprice AS price,
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
       |  FROM ${t("lineitem")}),
       |c AS (SELECT l_returnflag, price,
       |    SUM(w) OVER (PARTITION BY l_returnflag
       |      ORDER BY price, l_orderkey, l_linenumber
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
       |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
       |  FROM t)
       |SELECT l_returnflag, MIN(price) AS weighted_median,
       |  CAST(MAX(tw) AS BIGINT) AS total_weight_cents
       |FROM c WHERE cw * 2 >= tw
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** BOOLEAN AGGREGATES — every/any/count_if, the predicates-as-
    * aggregates surface (SQL:2023 standardizes EVERY/ANY; both engines
    * ship bool_and/bool_or/count_if). Booleans render as INT (the
    * external comparator's bool canonicalization across engines is
    * unverified; int is). Exact thresholds on integer cents so the
    * predicate itself cannot drift. */
  val aggBoolAggs: Key = Key.sql("agg_bool_aggs") { t =>
    s"""SELECT o_orderpriority,
       |  CAST(bool_and(cents > 100000) AS INT) AS all_over_1k,
       |  CAST(bool_or(cents > 40000000) AS INT) AS any_over_400k,
       |  CAST(count_if(cents BETWEEN 10000000 AND 20000000) AS BIGINT) AS n_mid_band,
       |  COUNT(*) AS n
       |FROM (SELECT o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM ${t("orders")})
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** SKETCH INTERSECTION — the theta-sketch set-algebra move that lets
    * 100 TB pipelines answer "how many users did BOTH X and Y" from
    * two tiny sketches instead of a full distinct-join: KMV sketches
    * (same k=64, 48-bit md5-prefix space as `agg_approx_hll`) of the
    * click and purchase user sets; their KMV UNION (k smallest of the
    * combined min-k sets — sound because every global k-min hash is in
    * its side's k-min) estimates |A∪B|; the fraction of union-sketch
    * hashes present in BOTH sides estimates Jaccard; their product
    * (integer `div`) estimates the intersection. Every step is exact
    * integer/md5 arithmetic — the ESTIMATOR is approximate, its
    * computation is bit-deterministic, so the oracle mirrors it
    * hash-for-hash. Below k distinct the sketch degrades to exact —
    * also graded (small SFs take that path). Exact intersection rides
    * along for the error report. */
  def aggSketchIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    def userHashes(t: String): DataFrame = ev
      .filter(col("event_type") === t)
      .select(expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT)").as("h"))
      .distinct()
    def sketch(h: DataFrame): DataFrame = h.orderBy("h").limit(64)
    // materialize each side's distinct-hash set (and its 64-row sketch)
    // once: the five driver actions below otherwise re-ran the events
    // scan + md5 + distinct up to 8x — one per consumer (r18, guide
    // §1.2 "don't compute things you throw away"). Both frames are
    // distinct-user-bounded, far below corpus scale.
    val hA = userHashes("click").localCheckpoint()
    val hB = userHashes("purchase").localCheckpoint()
    val sA = sketch(hA).localCheckpoint()
    val sB = sketch(hB).localCheckpoint()
    val unionSketch = sketch(sA.unionByName(sB).distinct()).localCheckpoint()
    val kk = unionSketch.count()
    val hk = unionSketch.agg(max(col("h"))).collect()(0).getLong(0)
    val unionDistinctTotal = hA.unionByName(hB).distinct().count()
    val unionEst = if (unionDistinctTotal < 64) unionDistinctTotal
      else (63L * 281474976710656L) / hk
    val jNum = unionSketch
      .join(sA, Seq("h"), "left_semi")
      .join(sB, Seq("h"), "left_semi")
      .count()
    val interExact = ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
      .count()
    import spark.implicits._
    Seq((kk, unionEst, jNum, jNum * unionEst / kk, interExact))
      .toDF("k_union", "union_est", "n_common_hashes", "inter_est", "inter_exact")
  }

  val aggSketchIntersectOracle: String =
    """WITH ha AS (SELECT DISTINCT
      |    list_reduce(list_transform(range(1, 13),
      |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS h
      |  FROM events WHERE event_type = 'click'),
      |hb AS (SELECT DISTINCT
      |    list_reduce(list_transform(range(1, 13),
      |      i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS h
      |  FROM events WHERE event_type = 'purchase'),
      |sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
      |sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
      |us AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION SELECT h FROM sb))
      |       ORDER BY h LIMIT 64),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_union, MAX(h) AS hk FROM us),
      |tot AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n_tot
      |        FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)),
      |ue AS (SELECT CASE WHEN tot.n_tot < 64 THEN tot.n_tot
      |         ELSE (63 * 281474976710656) // stats.hk END AS union_est,
      |         stats.k_union AS k_union
      |       FROM stats CROSS JOIN tot),
      |jn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common_hashes FROM us
      |       WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
      |ix AS (SELECT CAST(COUNT(*) AS BIGINT) AS inter_exact FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'))
      |SELECT ue.k_union, CAST(ue.union_est AS BIGINT) AS union_est,
      |  jn.n_common_hashes,
      |  CAST((jn.n_common_hashes * ue.union_est) // ue.k_union AS BIGINT) AS inter_est,
      |  ix.inter_exact
      |FROM ue CROSS JOIN jn CROSS JOIN ix""".stripMargin

  /** CHI-SQUARED ASSOCIATION — the independence test behind every
    * "is this categorical feature correlated with that label?" data-
    * quality check, per contingency cell in EXACT integer arithmetic:
    * the classic (O−E)²/E is rescaled by N so every term is integral —
    * contrib_ppm = 10⁶·(O·N − rt·ct)² div (rt·ct·N), which equals
    * 10⁶·N·(O−E)²/E — and the squared term (≤ ~10²³ at sf0.1) rides in
    * DECIMAL(38,0) on the Spark side / HUGEINT in the oracle, with only
    * BIGINT in the output. No float division anywhere, so the statistic
    * is bit-stable across engines. Shape at 100 TB: the raw table
    * collapses to the contingency cells FIRST (one partial+final
    * aggregate); margins and the statistic are computed on the
    * cells×margins metadata, and both margin joins broadcast. */
  val aggChiSquare: Key = Key.sql("agg_chi_square") { t =>
    s"""WITH cells AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS obs
       |    FROM ${t("lineitem")} GROUP BY 1, 2),
       |rt AS (SELECT l_returnflag, CAST(SUM(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
       |ct AS (SELECT l_linestatus, CAST(SUM(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM ${t("lineitem")})
       |SELECT c.l_returnflag, c.l_linestatus, c.obs,
       |  CAST((CAST(row_tot AS ${t.int128}) * col_tot * 1000000) ${t.idiv} n.n AS BIGINT) AS exp_ppm,
       |  CAST((1000000 * (CAST(c.obs AS ${t.int128})*n.n - CAST(row_tot AS ${t.int128})*col_tot)
       |        * (CAST(c.obs AS ${t.int128})*n.n - CAST(row_tot AS ${t.int128})*col_tot))
       |    ${t.idiv} (CAST(row_tot AS ${t.int128}) * col_tot * n.n) AS BIGINT) AS contrib_ppm
       |FROM cells c JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus), n
       |ORDER BY 1, 2""".stripMargin
  }

  /** GINI COEFFICIENT — the inequality statistic behind "how
    * concentrated is spend / how skewed is a source mix" questions
    * (data curation uses the same number to flag source-domination),
    * per market segment in EXACT integer arithmetic via the rank
    * formula G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx): money enters as
    * exact cents, ranks come from a segment-partitioned window, and
    * ties are harmless BY ALGEBRA — permuting ranks among equal values
    * cannot change Σ rk·x, so row_number's tie order needs no
    * tie-break column. The 10⁶-scaled final product rides in
    * DECIMAL(38,0) (HUGEINT in the oracle), BIGINT out. Shape at
    * 100 TB: one broadcast dim join, one segment-keyed sort window,
    * one partial+final aggregate — segment cardinality bounds the
    * output. */
  def aggGini(spark: SparkSession, sfDir: String): DataFrame = {
    val c = orders(spark, sfDir)
      .join(broadcast(customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("seg").orderBy("cents")
    c.withColumn("rk", row_number().over(w))
      .groupBy("seg")
      // rk·cents is summed as DECIMAL(38,0): a BIGINT accumulator passes
      // Long.MAX around n≈1.2M rows/segment (review finding — the
      // HUGEINT-backed oracle SUM would keep computing while Spark threw)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s0"),
        sum(expr("CAST(rk AS DECIMAL(38,0)) * cents")).as("s1"))
      .select(col("seg"), col("n"),
        expr("""CAST((1000000 * (2 * CAST(s1 AS DECIMAL(38,0)) - (n + 1) * CAST(s0 AS DECIMAL(38,0))))
               | div (CAST(n AS DECIMAL(38,0)) * s0) AS BIGINT)""".stripMargin).as("gini_ppm"))
      .orderBy("seg")
  }

  val aggGiniOracle: String =
    """WITH c AS (SELECT c_mktsegment AS seg,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (SELECT seg, cents, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents) AS rk FROM c),
      |g AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s0,
      |             CAST(SUM(rk * cents) AS HUGEINT) AS s1 FROM r GROUP BY 1)
      |SELECT seg, n, CAST((1000000 * (2 * s1 - (n + 1) * CAST(s0 AS HUGEINT)))
      |  // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_ppm
      |FROM g ORDER BY seg""".stripMargin

  /** BENFORD FIRST-DIGIT AUDIT — the forensic-accounting screen for
    * fabricated or constrained numeric columns: the observed leading-
    * digit distribution of order totals (digit of the exact-cents
    * BIGINT's string rendering — no float log10) against Benford's law,
    * whose expectations enter as INTEGER ppm CONSTANTS
    * (log10(1+1/d) pre-rounded: 301030, 176091, …) so no log is ever
    * evaluated in either engine. The headline on this data is the
    * DEVIATION: TPC-H-style uniform prices are decisively non-Benford,
    * and dev_ppm quantifies it per digit. One partial+final aggregate
    * to 9 digits; the expectation table is the preserved side of the
    * left join, so the observed side (at most 9 rows) is the one
    * broadcast. */
  def aggBenford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = orders(spark, sfDir).filter(col("o_totalprice") > 0)
      .select(expr(
        "CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("tot"))
    val benford = Seq((1, 301030), (2, 176091), (3, 124939), (4, 96910),
      (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      .toDF("digit", "benford_ppm")
    benford.join(broadcast(obs), Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(n * 1000000) div tot").as("observed_ppm"), col("benford_ppm"),
        expr("abs((n * 1000000) div tot - benford_ppm)").as("dev_ppm"))
      .orderBy("digit")
  }

  val aggBenfordOracle: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders WHERE o_totalprice > 0),
      |b(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
      |  (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
      |o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM o)
      |SELECT b.digit, COALESCE(o.n, 0) AS n,
      |  (COALESCE(o.n, 0) * 1000000) // t.tot AS observed_ppm, b.benford_ppm,
      |  abs((COALESCE(o.n, 0) * 1000000) // t.tot - b.benford_ppm) AS dev_ppm
      |FROM b LEFT JOIN o ON b.digit = o.digit, t ORDER BY b.digit""".stripMargin

  /** BITMAP-EXACT DISTINCT — the 100 TB replacement for
    * `COUNT(DISTINCT user)`: a naive count-distinct shuffles every
    * (day, user) pair and holds per-group hash sets; here each user
    * sets ONE BIT in a fixed-width word keyed by `user_id div 63`, so
    * the first aggregate is a pure partial-merge `bit_or` (map-side
    * combinable, constant memory per group) and the second is a sum of
    * popcounts over `distinct_users/63` words — both stages are
    * associative single-pass aggregates, and the result is EXACT, not a
    * sketch (`agg_approx_hll` is the sketch sibling when ids are
    * unbounded). 63 bits per word, not 64: DuckDB range-checks
    * `1::BIGINT << 63` while Spark wraps — the sign bit is the one
    * position the two engines disagree on, so it is never used. */
  val aggBitmapDistinct: Key = Key.sql("agg_bitmap_distinct") { t =>
    s"""WITH b AS (SELECT
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 86400000000 AS day,
       |    user_id ${t.idiv} 63 AS word,
       |    BIT_OR(1::BIGINT << CAST(user_id % 63 AS INT)) AS bits
       |  FROM ${t("events")} GROUP BY 1, 2)
       |SELECT day, CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_users,
       |  CAST(COUNT(*) AS BIGINT) AS n_words
       |FROM b GROUP BY day ORDER BY day""".stripMargin
  }

  /** HERFINDAHL–HIRSCHMAN CONCENTRATION — the antitrust-style market
    * screen: per customer nation, the HHI of supplier revenue shares
    * (Σ share², in exact ppm). Everything is integer: revenues are
    * exact cents, share² is computed as `(1e6 · Σr²) div (Σr)²` on
    * DECIMAL(38,0)/HUGEINT intermediates (r² overflows BIGINT near
    * sf1 — the `agg_gini` review lesson applied at authoring time).
    * Shape: one fact⋈broadcast-dim pass to (nation, supplier) revenue
    * — map-side combinable — then a nation-sized final aggregate. */
  val aggHhi: Key = Key.sql("agg_hhi") { t =>
    s"""WITH rev AS (SELECT s_nationkey, s_suppkey,
       |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
       |  FROM ${t("lineitem")} JOIN ${t("supplier")} ON l_suppkey = s_suppkey GROUP BY 1, 2),
       |g AS (SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       |    CAST(SUM(r) AS BIGINT) AS tot, CAST(SUM(CAST(r AS ${t.int128}) * r) AS ${t.int128}) AS s2
       |  FROM rev GROUP BY 1)
       |SELECT n_name, n_suppliers,
       |  CAST((1000000 * s2) ${t.idiv} (CAST(tot AS ${t.int128}) * tot) AS BIGINT) AS hhi_ppm
       |FROM g JOIN ${t("nation")} ON s_nationkey = n_nationkey ORDER BY n_name""".stripMargin
  }

  /** PARETO CONCENTRATION (80/20 screen) — per market segment, the
    * revenue share held by the top-⌈20%⌉ customers. The rank is a
    * per-segment window (descending cents, custkey tie-break — a total
    * order, so both engines pick the identical top set), the cut is
    * exact-integer `⌈n/5⌉ = (n+4) div 5`, and the share is ppm integer
    * division. Shape at 100 TB: facts collapse to per-customer revenue
    * first (keyed shuffle), the window runs on the collapsed table
    * partitioned by segment, and the totals join is segment-sized. */
  val aggPareto: Key = Key.sql("agg_pareto") { t =>
    s"""WITH cust AS (SELECT c_mktsegment AS seg, c_custkey,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
       |  FROM ${t("orders")} JOIN ${t("customer")} ON o_custkey = c_custkey GROUP BY 1, 2),
       |rnk AS (SELECT seg, r,
       |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY r DESC, c_custkey) AS rk FROM cust),
       |tot AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_customers,
       |    CAST(SUM(r) AS BIGINT) AS tot FROM rnk GROUP BY 1),
       |top AS (SELECT rnk.seg, CAST(COUNT(*) AS BIGINT) AS top_n,
       |    CAST(SUM(r) AS BIGINT) AS top_r
       |  FROM rnk JOIN tot ON rnk.seg = tot.seg
       |  WHERE rk <= (n_customers + 4) ${t.idiv} 5 GROUP BY 1)
       |SELECT tot.seg, n_customers, top_n,
       |  CAST((1000000 * CAST(top_r AS ${t.int128})) ${t.idiv} tot AS BIGINT) AS top_share_ppm
       |FROM tot JOIN top ON tot.seg = top.seg ORDER BY tot.seg""".stripMargin
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV SCREEN (r10) — the distribution-
    * shift detector the moment-based screens (`agg_chi_square` on
    * category counts, `agg_gini`/`agg_hhi` on concentration) cannot
    * replace: per customer nation, the KS statistic between the order-
    * value distributions of the BUILDING and MACHINERY segments —
    * D = max over the merged value grid of |F₁(v) − F₂(v)|, the thing
    * an ML-ops pipeline runs between yesterday's and today's feature
    * distributions. EXACT integer arithmetic end to end: values are
    * cents, both ECDFs are cumulative counts over the per-(nation,
    * value) collapsed grid, and the sup-difference compares
    * CROSS-MULTIPLIED integers |i·n₂ − j·n₁| (never a float fraction),
    * reported as exact-ppm `(1e6·D) div (n₁·n₂)` on DECIMAL(38,0)/
    * HUGEINT intermediates (1e6·n₁·n₂ passes BIGINT near sf3 — the
    * `agg_hhi` headroom lesson applied at authoring time). Scale
    * shape: one broadcast-dim join, one (nation, value) collapse
    * (map-side combinable), and nation-PARTITIONED windows — no
    * global window, no unpartitioned cumsum (the PlanSpec whole-
    * surface rule), and the merged grid shuffles once by nation. */
  def aggKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = orders(spark, sfDir)
      .join(broadcast(customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("is1"))
    val grid = rows.groupBy("nk", "cents")
      .agg(sum(col("is1")).as("c1"), sum(lit(1L) - col("is1")).as("c2"))
    val w = Window.partitionBy("nk").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = grid.groupBy("nk")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    // The cross-multiply itself rides DECIMAL(38,0), not raw BIGINT:
    // DuckDB's window SUM already promotes i/j to HUGEINT, so past
    // n1·n2 ≈ 2⁶³ the raw-BIGINT form would silently wrap here while
    // the oracle stays exact — same headroom treatment as the final
    // ppm division. The |sup| itself is ≤ n1·n2, so casting the max
    // back to BIGINT is exact wherever the oracle's output cast is.
    val sup = grid
      .withColumn("i", sum(col("c1")).over(w))
      .withColumn("j", sum(col("c2")).over(w))
      .join(totals, Seq("nk"))
      .groupBy("nk")
      .agg(max(abs(expr("CAST(i AS DECIMAL(38,0)) * n2 - CAST(j AS DECIMAL(38,0)) * n1")))
        .cast("bigint").as("d_num"),
        first(col("n1")).as("n1"), first(col("n2")).as("n2"))
    sup
      .join(broadcast(nation(spark, sfDir)), col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("n1"), col("n2"), col("d_num"),
        expr("""CASE WHEN n1 * n2 > 0
                THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * d_num)
                     div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)
                ELSE 0 END""").as("ks_ppm"))
      .orderBy("n_name")
  }

  val aggKsTestOracle: String =
    """WITH r AS (SELECT c_nationkey AS nk,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is1
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |g AS (SELECT nk, cents, CAST(SUM(is1) AS BIGINT) AS c1,
      |    CAST(SUM(1 - is1) AS BIGINT) AS c2
      |  FROM r GROUP BY nk, cents),
      |cum AS (SELECT nk, cents,
      |    SUM(c1) OVER (PARTITION BY nk ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i,
      |    SUM(c2) OVER (PARTITION BY nk ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j
      |  FROM g),
      |tot AS (SELECT nk, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      |  FROM g GROUP BY nk),
      |sup AS (SELECT cum.nk,
      |    CAST(MAX(ABS(cum.i * tot.n2 - cum.j * tot.n1)) AS BIGINT) AS d_num,
      |    CAST(MAX(tot.n1) AS BIGINT) AS n1, CAST(MAX(tot.n2) AS BIGINT) AS n2
      |  FROM cum JOIN tot ON cum.nk = tot.nk GROUP BY cum.nk)
      |SELECT n_name, n1, n2, d_num,
      |  CASE WHEN n1 * n2 > 0
      |       THEN CAST((1000000::HUGEINT * d_num) // (n1::HUGEINT * n2) AS BIGINT)
      |       ELSE 0 END AS ks_ppm
      |FROM sup JOIN nation ON nk = n_nationkey ORDER BY n_name""".stripMargin

  /** MANN–WHITNEY U (r11) — the RANK-based two-sample screen that
    * complements `agg_ks_test`'s sup-of-ECDFs: U is sensitive to a
    * consistent LOCATION shift (one segment's order values
    * stochastically larger than the other's) that a KS sup can
    * under-read, and it is THE standard nonparametric A/B test an
    * ML-ops pipeline runs per cohort. EXACT INTEGERS throughout, tie
    * handling included: with the (nation, cents) collapsed grid and
    * j = inclusive cumulative count of segment 2,
    * 2·U₁ = Σ_v c₁(v) · (2·j(v) − c₂(v)) — each tied pair contributes
    * exactly 1 to 2·U₁ (the ½ convention, doubled into integers) —
    * and 2·U₂ = 2·n₁·n₂ − 2·U₁ checks out by construction. The
    * products ride DECIMAL(38,0) (the `agg_ks_test` headroom rule:
    * DuckDB's window/agg sums are already HUGEINT). Same scale shape
    * as KS: one broadcast-dim join, one map-side-combinable (nation,
    * value) collapse, nation-PARTITIONED cumulative windows. */
  val aggMannWhitney: Key = Key.sql("agg_mann_whitney") { t =>
    s"""WITH r AS (SELECT c_nationkey AS nk,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is1
       |  FROM ${t("orders")} JOIN ${t("customer")} ON o_custkey = c_custkey
       |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
       |g AS (SELECT nk, cents, CAST(SUM(is1) AS BIGINT) AS c1,
       |    CAST(SUM(1 - is1) AS BIGINT) AS c2
       |  FROM r GROUP BY nk, cents),
       |cum AS (SELECT nk, cents, c1, c2,
       |    SUM(c2) OVER (PARTITION BY nk ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j
       |  FROM g),
       |u AS (SELECT nk, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
       |    SUM(c1::${t.int128} * (2 * j - c2)) AS u1x2
       |  FROM cum GROUP BY nk)
       |SELECT n_name, n1, n2, CAST(u1x2 AS BIGINT) AS u1_x2,
       |  CAST(2 * n1::${t.int128} * n2 - u1x2 AS BIGINT) AS u2_x2
       |FROM u JOIN ${t("nation")} ON nk = n_nationkey ORDER BY n_name""".stripMargin
  }

  /** WELCH'S T-TEST (r13) — the PARAMETRIC member of the two-sample
    * screen family (`agg_ks_test` reads shape, `agg_mann_whitney`
    * reads rank shift, Welch reads MEAN shift under unequal
    * variances — the default A/B report statistic). Per nation:
    * BUILDING vs MACHINERY customer account balances. Discipline:
    * the data-sized aggregation produces EXACT integer moments (n,
    * Σcents as BIGINT, Σcents² as DECIMAL(38,0) — cents² alone
    * overflows int64 under ANSI near sf1), and only the final k-row
    * projection computes t and the Welch–Satterthwaite df in doubles
    * from those exact moments — both engines evaluate the SAME
    * literal expression tree over the SAME integers, so IEEE
    * determinism carries the hash (the `agg_corr_exact` recipe).
    * One broadcast-dim join + one map-side-combinable groupBy. */
  val aggWelchTtest: Key = Key.sql("agg_welch_ttest") { t =>
    s"""WITH r AS (SELECT c_nationkey AS nk,
       |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is1
       |  FROM ${t("customer")} WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
       |m AS (SELECT nk,
       |    CAST(SUM(is1) AS BIGINT) AS n1, CAST(SUM(1 - is1) AS BIGINT) AS n2,
       |    CAST(SUM(is1 * cents) AS BIGINT) AS s1,
       |    CAST(SUM((1 - is1) * cents) AS BIGINT) AS s2,
       |    SUM(is1 * cents::${t.int128} * cents) AS q1d,
       |    SUM((1 - is1) * cents::${t.int128} * cents) AS q2d
       |  FROM r GROUP BY nk),
       |v AS (SELECT *,
       |    (CAST(q1d AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) AS v1,
       |    (CAST(q2d AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) AS v2
       |  FROM m WHERE n1 >= 2 AND n2 >= 2),
       |s AS (SELECT *, v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2 FROM v)
       |SELECT n_name, n1, n2, s1, s2,
       |  ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(se2), 6) AS t_welch,
       |  ROUND(se2 * se2 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)), 6) AS df_welch
       |FROM s JOIN ${t("nation")} ON nk = n_nationkey ORDER BY n_name""".stripMargin
  }

  /** CRAMÉR'S V (r13) — the EFFECT-SIZE companion to `agg_chi_square`:
    * chi² says "nation and market segment are (in)dependent", V says
    * HOW STRONGLY, normalized to [0,1] so it is comparable across
    * tables of different size — the statistic a feature-selection
    * pass over categorical columns actually ranks by. Contingency:
    * customer nation × market segment. The cell/margin aggregation is
    * exact integers (the chi_square DECIMAL(38,0) headroom rule for
    * obs·n − rt·ct); the 125 per-cell contributions then divide in
    * doubles and fold into one row — identical expression text on
    * both engines, r6-rounded. Scale shape: one map-side-combinable
    * groupBy over the fact, then k² metadata rows. */
  val aggCramersV: Key = Key.sql("agg_cramers_v") { t =>
    s"""WITH cells AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
       |    CAST(COUNT(*) AS BIGINT) AS obs FROM ${t("customer")} GROUP BY 1, 2),
       |rt AS (SELECT nk, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY nk),
       |ct AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY seg),
       |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
       |    CAST(COUNT(DISTINCT nk) AS BIGINT) AS r_levels,
       |    CAST(COUNT(DISTINCT seg) AS BIGINT) AS c_levels FROM cells),
       |contrib AS (SELECT n, r_levels, c_levels,
       |    CAST(obs::${t.int128} * n - rt::${t.int128} * ct AS DOUBLE) AS d,
       |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS den
       |  FROM cells JOIN rt USING (nk) JOIN ct USING (seg) CROSS JOIN tot),
       |chi AS (SELECT n, r_levels, c_levels, SUM(d * d / den) AS chi2_raw
       |  FROM contrib GROUP BY 1, 2, 3)
       |SELECT n, r_levels, c_levels, ROUND(chi2_raw, 6) AS chi2,
       |  ROUND(SQRT(chi2_raw / (CAST(n AS DOUBLE) * CAST(LEAST(r_levels - 1, c_levels - 1) AS DOUBLE))), 6) AS cramers_v
       |FROM chi""".stripMargin
  }

  /** THEIL T INDEX (r13) — the DECOMPOSABLE inequality measure
    * `agg_gini` isn't: T = T_between + Σ_g w_g·T_g splits order-value
    * inequality exactly into a within-nation and a between-nation
    * part — the property that makes Theil the index used for
    * drill-down dashboards (Gini does not decompose additively).
    * Per nation: n_g, exact cent sum s_g, within-group
    * T_g = Σ (x/μ_g)·ln(x/μ_g) / n_g, and the between contribution
    * w_g·ln(μ_g/μ) with w_g = s_g/S. Discipline: one fact groupBy for
    * the exact integer moments, a 25-row broadcast join back for the
    * per-row ln terms (μ_g must reach every row — join-back, not a
    * second scan... the join IS the second pass over the fact, but
    * map-side against a broadcast), doubles only in the final
    * expressions, identical text both engines, ln-ulp caveat
    * r6-rounded (the entropy_filter precedent). */
  def aggTheil(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = orders(spark, sfDir)
      .join(broadcast(customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val grp = rows.groupBy("nk")
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"))
    val tot = grp.agg(sum(col("n_g")).as("n_all"), sum(col("s_g")).as("s_all"))
    rows.join(broadcast(grp), Seq("nk"))
      .withColumn("term", expr(
        "(CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE)) * LN(CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE))"))
      .groupBy("nk", "n_g", "s_g")
      .agg(sum(col("term")).as("tsum"))
      .crossJoin(broadcast(tot))
      .join(broadcast(nation(spark, sfDir)), col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("n_g"), col("s_g"),
        expr("ROUND(tsum / CAST(n_g AS DOUBLE), 6)").as("t_within"),
        expr("""ROUND((CAST(s_g AS DOUBLE) / CAST(s_all AS DOUBLE)) *
                LN((CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)) / (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE))), 6)""")
          .as("between_contrib"))
      .orderBy("n_name")
  }

  val aggTheilOracle: String =
    """WITH r AS (SELECT c_nationkey AS nk,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(cents) AS BIGINT) AS s_g FROM r GROUP BY nk),
      |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n_all,
      |    CAST(SUM(s_g) AS BIGINT) AS s_all FROM g),
      |t AS (SELECT nk, n_g, s_g,
      |    SUM((CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE)) * LN(CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE))) AS tsum
      |  FROM r JOIN g USING (nk) GROUP BY nk, n_g, s_g)
      |SELECT n_name, n_g, s_g,
      |  ROUND(tsum / CAST(n_g AS DOUBLE), 6) AS t_within,
      |  ROUND((CAST(s_g AS DOUBLE) / CAST(s_all AS DOUBLE)) *
      |        LN((CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)) / (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE))), 6) AS between_contrib
      |FROM t CROSS JOIN tot JOIN nation ON nk = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** MEDIAN ABSOLUTE DEVIATION (r13) — the robust spread companion to
    * `agg_robust_zscore`-style screens: MAD = median(|x − median(x)|),
    * immune to the outliers that blow up stddev. BOTH medians use
    * `agg_weighted_median`'s LOWER-median convention (min value whose
    * doubled cumulative count reaches the total — no interpolation,
    * so the whole key is EXACT integers, no float in sight). Two
    * passes: per-nation median via a partitioned cumulative window,
    * 25-row broadcast join-back, then the same window over the
    * absolute deviations. Total-ordered window keys (cents, custkey)
    * keep every frame deterministic. */
  def aggMad(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = customer(spark, sfDir)
      .select(col("c_nationkey").as("nk"), col("c_custkey").as("ck"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    def lowerMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val ord = Window.partitionBy("nk").orderBy(col(valueCol).asc, col("ck").asc)
      val all = Window.partitionBy("nk")
      df.withColumn("rn", row_number().over(ord))
        .withColumn("n", count(lit(1)).over(all))
        .filter(col("rn") * 2 >= col("n"))
        .groupBy("nk")
        .agg(min(col(valueCol)).as(outCol), max(col("n")).as("n_custs"))
    }
    val med = lowerMedian(rows, "cents", "median_cents")
    val dev = rows.join(broadcast(med.select("nk", "median_cents")), Seq("nk"))
      .withColumn("adev", abs(col("cents") - col("median_cents")))
    lowerMedian(dev, "adev", "mad_cents")
      .join(med.select("nk", "median_cents"), Seq("nk"))
      .join(broadcast(nation(spark, sfDir)), col("nk") === col("n_nationkey"))
      .select("n_name", "n_custs", "median_cents", "mad_cents")
      .orderBy("n_name")
  }

  val aggMadOracle: String =
    """WITH r AS (SELECT c_nationkey AS nk, c_custkey AS ck,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |rk AS (SELECT nk, cents,
      |    ROW_NUMBER() OVER (PARTITION BY nk ORDER BY cents, ck) AS rn,
      |    COUNT(*) OVER (PARTITION BY nk) AS n
      |  FROM r),
      |med AS (SELECT nk, CAST(MIN(cents) AS BIGINT) AS median_cents,
      |    CAST(MAX(n) AS BIGINT) AS n_custs
      |  FROM rk WHERE rn * 2 >= n GROUP BY nk),
      |dev AS (SELECT r.nk, r.ck, ABS(r.cents - m.median_cents) AS adev
      |  FROM r JOIN med m ON r.nk = m.nk),
      |rk2 AS (SELECT nk, adev,
      |    ROW_NUMBER() OVER (PARTITION BY nk ORDER BY adev, ck) AS rn,
      |    COUNT(*) OVER (PARTITION BY nk) AS n
      |  FROM dev),
      |mad AS (SELECT nk, CAST(MIN(adev) AS BIGINT) AS mad_cents
      |  FROM rk2 WHERE rn * 2 >= n GROUP BY nk)
      |SELECT n_name, n_custs, median_cents, mad_cents
      |FROM med JOIN mad USING (nk) JOIN nation ON nk = n_nationkey
      |ORDER BY n_name""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("agg_theil", aggTheil, aggTheilOracle),
    Key("agg_mad", aggMad, aggMadOracle),
    aggWelchTtest,
    aggCramersV,
    Key("agg_ks_test", aggKsTest, aggKsTestOracle),
    aggMannWhitney,
    aggBitmapDistinct,
    aggHhi,
    aggPareto,
    Key("agg_benford", aggBenford, aggBenfordOracle),
    Key("agg_gini", aggGini, aggGiniOracle),
    aggChiSquare,
    Key("agg_sketch_intersect", aggSketchIntersect, aggSketchIntersectOracle),
    aggBoolAggs,
    aggWeightedMedian,
    aggSkewKurtosis,
    aggHistFixed,
    aggMode,
    Key("agg_partial_merge", aggPartialMerge, aggPartialMergeOracle),
    aggCorrExact,
    aggRegrSlope,
    Key("agg_percentiles", aggPercentiles, aggPercentilesOracle),
    aggPricingSummary,
    aggGlobal,
    aggHaving,
    aggCountDistinct,
    Key("agg_approx_hll", aggApproxHll, aggApproxHllOracle),
    Key("agg_sketch_merge", aggSketchMerge, aggSketchMergeOracle),
    aggRollup,
    aggCube,
    aggGroupingSets,
    Key("agg_collect_sorted", aggCollectSorted, aggCollectSortedOracle),
    Key("udaf_weighted_avg", udafWeightedAvg, udafWeightedAvgOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}

/** Qty-weighted average price: buffer keeps exact partial sums
  * (Σ price·qty in e-4 units, Σ qty in e-2 units) so merge order cannot
  * change the result; the division to double happens once at finish
  * (SURVEY.md §2.B udaf_weighted_avg).
  *
  * The buffer is a pair of primitive longs, not BigDecimal (round-2
  * fix: the boxed-decimal buffer forced per-row serialization in
  * ObjectHashAggregate — 10× slower in the driver bench). Inputs are
  * 2-dp money/quantity doubles, so x·100 is within 1e-9 of an integer
  * and round() recovers the exact unscaled value; the integer sums are
  * associative and exact (≤ ~5e10 per row — Long overflows only past
  * ~2e8 rows per group at TPC-H value ranges, far beyond any tested SF).
  * finish() matches the oracle's CAST(SUM(DECIMAL) AS DOUBLE) division
  * bit-for-bit while the sums stay below 2^53 (exact long→double, then
  * one correctly-rounded divide by an exact power of ten each).
  */
object WeightedAvgAgg
    extends org.apache.spark.sql.expressions.Aggregator[(Double, Double), (Long, Long), Double] {
  import org.apache.spark.sql.{Encoder, Encoders}

  private def e2(x: Double): Long = math.round(x * 100.0)

  def zero: (Long, Long) = (0L, 0L)
  def reduce(b: (Long, Long), in: (Double, Double)): (Long, Long) =
    (b._1 + e2(in._1) * e2(in._2), b._2 + e2(in._2))
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)
  def finish(b: (Long, Long)): Double =
    if (b._2 == 0L) 0.0 else (b._1.toDouble / 10000.0) / (b._2.toDouble / 100.0)
  def bufferEncoder: Encoder[(Long, Long)] = Encoders.product[(Long, Long)]
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
