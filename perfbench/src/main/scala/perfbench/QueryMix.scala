package perfbench

/** The graded relational surface at small scale: per-key planning, job
  * scheduling and small-data execution, which is what the graded bench
  * pays for. The snapshot store is idle here.
  *
  * The key list is stratified over the relational modules and fixed;
  * the seed only sets the order the keys run in. Left out on purpose:
  * `kv_*` (the snapshot workload covers the store), `llm_*` and `mm_*`
  * (their own data shapes), the `*_stream` keys, and the keys that
  * write tables to fixed paths outside the run's directory
  * (`export_*`, `scan_partition_pruning`, `scan_dynamic_pruning`,
  * `join_bucketed`, `agg_partial_merge`). */
object QueryMix extends Workload {
  val name = "query_mix"

  val keys: Seq[String] = Seq(
    // Aggregations: grouping and exact and sketch distincts
    "agg_pricing_summary", "agg_percentiles", "agg_count_distinct",
    // Joins: hash and sort-merge shapes plus the band joins that
    // BandJoinBucketing rewrites (interval, theta range, as-of tolerance)
    "join_broadcast", "join_shuffle_large", "join_left_outer", "join_anti",
    "join_interval", "join_theta_range", "join_range_bucket", "join_asof_tolerance",
    // Filters: subquery decorrelation and predicate shapes
    "filter_q17_avg_qty", "filter_exists", "filter_in_like_between",
    // Windows
    "win_lag_lead", "win_running_sum", "win_topk_per_group", "win_range_frame",
    // Scans: TPC-H query shapes and scan pushdown
    "sql_q4_order_priority", "sql_q3_shipping_priority", "sql_q5_local_volume",
    "sql_q18_large_orders", "sql_q13_custdist", "scan_filter_pushdown",
    // SetOps
    "set_union_distinct", "set_intersect",
    // Scalars
    "date_funcs", "json_funcs", "array_funcs",
    // Graph: iterative jobs
    "graph_triangles",
    // TimeSeries: batch event-time keys
    "ts_tumbling", "ts_session")

  /** Run untimed before the first round; not in `keys`. */
  val warmKey = "agg_global"

  val modules: Seq[String] = Seq("Aggregations", "Joins", "Filters", "Windows", "Scans",
    "SetOps", "Scalars", "Graph", "TimeSeries")

  val scale: Option[String] = Some("sf0.001")

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(keys)

  /** Keys a smoke run takes from the seed's order. */
  val SmokeKeys = 8

  def warmup(ctx: Ctx): Unit =
    Keys.execute(ctx, warmKey, ctx.dataDir.resolve(scale.get).toString)

  def round(ctx: Ctx): Unit =
    order(ctx.seed).take(if (ctx.smoke) SmokeKeys else keys.size)
      .foreach(k => Keys.timed(ctx, k, scale.get))

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val rounds = ctx.ops.map(_.round).distinct
    modules.map { m =>
      val perRound = rounds.map(r => ctx.ops.filter(o => o.round == r && o.group == m)
        .map(_.seconds).sum).toSeq
      s"$m.s" -> Stats.median(perRound)
    }.toMap
  }
}
