package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Window-function operators (SURVEY.md §2.B "Window functions").
  *
  * Scale posture: each query is ONE shuffle on the partition key followed
  * by a per-partition sort — no self-joins. Window order keys always end
  * in a unique column so frames are total-ordered and deterministic.
  * Money sums use decimal frames (associative, exact vs the oracle).
  */
object Windows {

  /** Top-3 orders per customer by totalprice (rank-filter pattern). */
  val winTopkPerGroup: Key = Key.sql("win_topk_per_group") { t =>
    s"""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
       |  FROM ${t("orders")})
       |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  }

  /** rank / dense_rank / percent_rank over a tie-capable ordering, plus
    * ntile(4) over a total ordering (ntile needs one to be stable). */
  val winRankDenseNtile: Key = Key.sql("win_rank_dense_ntile") { t =>
    s"""SELECT p_partkey, p_brand, p_retailprice,
       |  RANK() OVER w1 AS rnk, DENSE_RANK() OVER w1 AS drnk,
       |  ROUND(PERCENT_RANK() OVER w1, 6) AS pct,
       |  NTILE(4) OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS quartile
       |FROM ${t("part")}
       |WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_retailprice DESC)
       |ORDER BY p_partkey""".stripMargin
  }

  /** Per-user inter-event gap (lag) and next event type (lead). */
  val winLagLead: Key = Key.sql("win_lag_lead") { t =>
    s"""SELECT event_id,
       |  DATE_DIFF(${t.unit("microsecond")}, LAG(ts, 1) OVER w, ts) AS gap_us,
       |  LEAD(event_type, 1) OVER w AS next_type
       |FROM ${t("events")}
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin
  }

  /** VALUE-BASED RANGE FRAME — the one window-frame family the rest of
    * the window keys don't touch: every other frame here is ROWS
    * (positional); a RANGE frame is defined by the ORDER-BY VALUE, so
    * "trailing 30 days of spend" includes however many rows fall in
    * the value interval and ALL PEERS of the current value — the
    * sliding-window-by-time semantics BI tools mean when they say
    * "rolling 30-day". Ordered by exact epoch-day INTEGERS (a
    * timestamp-typed RANGE frame would ride each engine's interval
    * arithmetic — the `ts_seasonal_profile` portability discipline),
    * so `RANGE BETWEEN 30 PRECEDING AND CURRENT ROW` is pure integer
    * comparison in both engines, and same-day orders are provably
    * peers with identical frames. One customer-keyed shuffle + sort —
    * cost identical to the ROWS keys; exact DECIMAL cents inside. */
  val winRangeFrame: Key = Key.sql("win_range_frame") { t =>
    s"""WITH o AS (SELECT o_orderkey, o_custkey,
       |    CAST(DATE_DIFF(${t.unit("day")}, DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM ${t("orders")})
       |SELECT o_orderkey, o_custkey, d, cents,
       |  CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY d
       |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_30d_cents
       |FROM o ORDER BY o_orderkey""".stripMargin
  }

  /** Running revenue per customer in order-date order. */
  val winRunningSum: Key = Key.sql("win_running_sum") { t =>
    s"""SELECT o_custkey, o_orderkey, o_orderdate,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
       |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
       |FROM ${t("orders")} ORDER BY o_custkey, o_orderkey""".stripMargin
  }

  /** Per-user moving sum of event value over a trailing 1-hour RANGE
    * frame keyed on integer epoch seconds (tie rows are frame peers, so
    * the result is order-independent). */
  def winMovingRange(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    events(spark, sfDir)
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
      .select(col("event_id"), col("user_id"), col("sec"),
        sum(dec(col("value"))).over(w).cast("decimal(18,2)").cast("double").as("moving_sum_1h"))
      .orderBy("event_id")
  }

  val winMovingRangeOracle: String =
    """SELECT event_id, user_id, sec,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY sec
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value FROM events)
      |ORDER BY event_id""".stripMargin

  /** first/last order date per customer alongside every row (full-extent
    * frame). */
  val winFirstLast: Key = Key.sql("win_first_last") { t =>
    s"""SELECT o_orderkey, o_custkey,
       |  FIRST_VALUE(o_orderdate) OVER w AS first_date,
       |  LAST_VALUE(o_orderdate) OVER w AS last_date
       |FROM ${t("orders")}
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |ORDER BY o_orderkey""".stripMargin
  }

  /** cume_dist (an exact rational — rows≤current / partition rows — so
    * ROUND 6 is bit-stable) and nth_value(2) over a total order: the
    * remaining ranked-window surface rank/dense_rank/percent_rank/ntile
    * don't cover. */
  val winCumeNth: Key = Key.sql("win_cume_nth") { t =>
    s"""SELECT p_partkey, p_brand, p_retailprice,
       |  ROUND(CUME_DIST() OVER w, 6) AS cd,
       |  NTH_VALUE(p_partkey, 2) OVER (PARTITION BY p_brand
       |    ORDER BY p_retailprice DESC, p_partkey ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_partkey
       |FROM ${t("part")}
       |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)
       |ORDER BY p_partkey""".stripMargin
  }

  /** INTERVAL COALESCING (gaps-and-islands) — the range-union operator
    * every temporal engine ships (merge overlapping validity intervals):
    * per customer, each order opens a deterministic activity interval
    * [orderdate, orderdate + (orderkey % 120 + 30) days]; overlapping or
    * touching intervals coalesce into islands, reported with their
    * extent, member count, and covered-day span. Classic two-window
    * formulation: a running `max(end)` over strictly-preceding rows
    * flags island starts (`start > prev_max`), a running sum of flags
    * numbers the islands, one groupBy collapses them — two window passes
    * + one agg over a SINGLE customer-keyed shuffle, no self-join. The
    * window order key ends in the unique orderkey so frames are
    * total-ordered and both engines see identical islands; all interval
    * math is exact DATE + INT arithmetic. On the fixture ~30% of
    * intervals merge, so both merged and singleton islands are graded. */
  val winIntervalMerge: Key = Key.sql("win_interval_merge") { t =>
    s"""WITH iv AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS s,
       |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 120 + 30 AS INT) AS e,
       |    o_orderkey AS uid FROM ${t("orders")}),
       |f AS (SELECT k, s, e, uid,
       |    MAX(e) OVER (PARTITION BY k ORDER BY s, e, uid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM iv),
       |g AS (SELECT k, s, e,
       |    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY k ORDER BY s, e, uid
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM f)
       |SELECT k AS o_custkey, CAST(island AS BIGINT) AS island,
       |  MIN(s) AS island_start, MAX(e) AS island_end,
       |  COUNT(*) AS n_intervals,
       |  CAST(DATE_DIFF(${t.unit("day")}, MIN(s), MAX(e)) + 1 AS BIGINT) AS span_days
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** RATIO-TO-REPORT — each order's share of its customer's lifetime
    * spend (Oracle's RATIO_TO_REPORT, BigQuery's safe share-of-total):
    * numerator and denominator both exact integer cents via one
    * unordered full-partition window (associative sum — frame order
    * irrelevant), ratio is exact-int-to-double division under ROUND 6.
    * One customer-keyed shuffle, no self-join against the aggregate. */
  val winRatioToReport: Key = Key.sql("win_ratio_to_report") { t =>
    s"""SELECT o_orderkey, o_custkey, o_totalprice,
       |  ROUND(CAST(cents AS DOUBLE) / CAST(SUM(cents)
       |    OVER (PARTITION BY o_custkey) AS DOUBLE), 6) AS spend_share
       |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM ${t("orders")})
       |ORDER BY o_orderkey""".stripMargin
  }

  /** ACTIVITY STREAKS — longest run of CONSECUTIVE active days per
    * user (the engagement metric every product dashboard carries):
    * classic dense-rank islands on the distinct (user, day) set —
    * `day − row_number()` is constant exactly within a consecutive
    * run, so one groupBy over that difference measures every streak
    * and a max picks the longest. All integer epoch-day arithmetic;
    * the raw table collapses to distinct (user, day) FIRST (map-side),
    * so the window and both aggregates run on the collapsed set — at
    * 100 TB the only data-sized pass is that first distinct. */
  val winStreaks: Key = Key.sql("win_streaks") { t =>
    s"""WITH days AS (SELECT DISTINCT user_id,
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 86400000000 AS day
       |  FROM ${t("events")}),
       |g AS (SELECT user_id,
       |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
       |  FROM days),
       |s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
       |SELECT user_id, MAX(len) AS longest_streak_days,
       |  CAST(SUM(len) AS BIGINT) AS n_active_days,
       |  COUNT(*) AS n_streaks
       |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** SLIDING MEDIAN — the robust smoother every monitoring pipeline
    * runs before thresholding (median-of-7 kills point spikes a moving
    * average would smear): the LOWER median of each event type's
    * hourly count over a 7-row trailing frame, computed as
    * sort + pick on the frame's collected list so the result is pure
    * integer selection — no interpolated-median float, no cross-engine
    * even/odd convention to diverge on. Shape at 100 TB: the raw table
    * collapses to the (type, hour) count series FIRST (one map-side
    * partial + keyed shuffle); the window then runs on the collapsed
    * metadata-sized series partitioned by type, and the 7-element
    * collect_list per row is constant-sized however large the input. */
  def winSlidingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = TimeSeries.hourlyCounts(spark, sfDir)
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-6, 0)
    hourly
      .withColumn("arr", sort_array(collect_list(col("n")).over(w)))
      .select(col("event_type"), col("h"), col("n"),
        element_at(col("arr"), expr("CAST((size(arr) + 1) div 2 AS INT)")).as("med7"))
      .orderBy("event_type", "h")
  }

  val winSlidingMedianOracle: String =
    s"""WITH ${TimeSeries.hourlyCteSql(Key.duckdb)},
      |f AS (SELECT event_type, h, n,
      |    list_sort(list(n) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      |  FROM hourly)
      |SELECT event_type, h, n, arr[CAST((len(arr)+1)//2 AS INT)] AS med7
      |FROM f ORDER BY event_type, h""".stripMargin

  /** RANK DELTA / TOP MOVERS — the day-over-day leaderboard movement
    * report every BI deck carries: each event type's daily revenue
    * rank (dense integer, cents-exact revenue, type tie-break) joined
    * to its OWN rank one day earlier; only movers are emitted, with
    * the signed delta (positive = climbed). The previous-day lookup is
    * an EQUI-JOIN on (type, day−1) — a lag across a partition BOUNDARY
    * (rank is per-day, the lag is per-type) cannot be a window, and
    * the join formulation keeps it one keyed shuffle of the collapsed
    * daily table. All integer: rank vs rank, no score floats. */
  def winRankDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
    val w = Window.partitionBy("day").orderBy(col("cents").desc, col("event_type").asc)
    val rk = daily.withColumn("rnk", row_number().over(w).cast("long"))
    val prev = rk.select(col("event_type"), (col("day") + 1).as("day"),
      col("rnk").as("prev_rank"))
    rk.join(prev, Seq("event_type", "day"))
      .filter(col("rnk") =!= col("prev_rank"))
      .select(col("day"), col("event_type"), col("rnk"), col("prev_rank"),
        (col("prev_rank") - col("rnk")).as("delta"))
      .orderBy("day", "event_type")
  }

  val winRankDeltaOracle: String =
    """WITH daily AS (SELECT event_type,
      |    DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |rk AS (SELECT event_type, day, cents,
      |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY cents DESC, event_type) AS rnk
      |  FROM daily)
      |SELECT a.day, a.event_type, a.rnk, b.rnk AS prev_rank,
      |  b.rnk - a.rnk AS delta
      |FROM rk a JOIN rk b ON a.event_type = b.event_type AND b.day = a.day - 1
      |WHERE b.rnk <> a.rnk
      |ORDER BY a.day, a.event_type""".stripMargin

  /** SKYLINE / PARETO FRONTIER (r13) — the classic dominance query
    * (Börzsönyi et al., "The Skyline Operator", ICDE'01): per brand,
    * the parts not dominated on (size↓, retailprice↑) — q dominates p
    * iff q.size ≤ p.size ∧ q.price ≥ p.price with one strict. The
    * window formulation needs NO self-join: sorted by size, a point
    * survives iff its price beats the running max over STRICTLY
    * smaller sizes (RANGE frame ending at -1 — a ROWS frame would
    * wrongly let same-size rows dominate each other by sort order)
    * and it is the max-price row within its own size. Equal
    * (size, price) twins dominate neither and both stay. One
    * brand-keyed shuffle + per-partition sort — at 100 TB the frame
    * is the textbook single-pass skyline sweep per group. Prices
    * compare as exact cents. */
  val winSkyline: Key = Key.sql("win_skyline") { t =>
    s"""WITH priced AS (SELECT p_brand, p_size,
       |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
       |  FROM ${t("part")}),
       |w AS (SELECT p_brand, p_size, price_cents,
       |    MAX(price_cents) OVER (PARTITION BY p_brand ORDER BY p_size
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_smaller,
       |    MAX(price_cents) OVER (PARTITION BY p_brand, p_size) AS best_same
       |  FROM priced)
       |SELECT p_brand, p_size, price_cents FROM w
       |WHERE (best_smaller IS NULL OR best_smaller < price_cents)
       |  AND price_cents = best_same
       |ORDER BY p_brand, p_size, price_cents""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    winSkyline,
    Key("win_rank_delta", winRankDelta, winRankDeltaOracle),
    Key("win_sliding_median", winSlidingMedian, winSlidingMedianOracle),
    winStreaks,
    winRatioToReport,
    winIntervalMerge,
    winCumeNth,
    winTopkPerGroup,
    winRankDenseNtile,
    winLagLead,
    winRunningSum,
    winRangeFrame,
    Key("win_moving_range", winMovingRange, winMovingRangeOracle),
    winFirstLast)

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
