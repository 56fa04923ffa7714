package perfbench

import org.apache.spark.sql.DataFrame

/** Runs graded query keys through `SparkEntry.queries` and checks each
  * against the row count (and, on traced runs, the `GoldenDump`
  * checksum) recorded for its data scale in `expected.tsv`. */
object Keys {

  /** The operator module a key is registered by. */
  def module(key: String): String = {
    import graft.operators._
    Seq("Aggregations" -> Aggregations.queries, "Joins" -> Joins.queries,
      "Filters" -> Filters.queries, "Windows" -> Windows.queries,
      "Scans" -> Scans.queries, "SetOps" -> SetOps.queries,
      "Scalars" -> Scalars.queries, "Graph" -> Graph.queries,
      "TimeSeries" -> TimeSeries.queries, "LlmText" -> LlmText.queries,
      "LlmDedup" -> LlmDedup.queries, "LlmVector" -> LlmVector.queries)
      .collectFirst { case (m, qs) if qs.contains(key) => m }
      .getOrElse(sys.error(s"key $key is in no known module"))
  }

  /** Build the key's frame and run its full physical plan. `toRdd`
    * executes every projection, sort and window; `count()` on the
    * frame would let Catalyst prune them. */
  def execute(ctx: Ctx, key: String, dir: String): (DataFrame, Long) = {
    val fn = graft.SparkEntry.queries(key)
    val df = ctx.tracer.span("entry.build")(fn(ctx.spark, dir))
    val rows = ctx.tracer.span("exec")(df.queryExecution.toRdd.count())
    (df, rows)
  }

  /** One timed key: fails on an error or a row count other than the
    * recorded one. A traced run also records the Catalyst phase times
    * and checks the result checksum, outside the timed section. */
  def timed(ctx: Ctx, key: String, scale: String): Boolean = {
    val dir = ctx.dataDir.resolve(scale).toString
    val want = Expected.get(scale, key)
    var df: DataFrame = null
    val ok = ctx.op(key, module(key)) {
      val (d, rows) = execute(ctx, key, dir)
      df = d
      if (!want.exists(_.rows == rows))
        System.err.println(s"[perfbench] $key: $rows rows, expected ${want.map(_.rows)}")
      want.exists(_.rows == rows)
    }
    if (ok && ctx.tracer.enabled) {
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ctx.sample(s"catalyst.${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      want.flatMap(_.md5).foreach { md5 =>
        val got = graft.GoldenDump.checksum(graft.SparkEntry.queries(key)(ctx.spark, dir))
        if (got != md5) ctx.failLast(s"checksum $got, expected $md5")
      }
    }
    ok && ctx.ops.last.ok
  }
}

/** Recorded outputs per (data scale, key): the row count and, where
  * the result is deterministic, its `GoldenDump` checksum. */
final case class Expected(rows: Long, md5: Option[String])

object Expected {
  val Resource = "/perfbench/expected.tsv"

  private lazy val table: Map[(String, String), Expected] = {
    val in = Option(getClass.getResourceAsStream(Resource))
      .getOrElse(sys.error(s"missing resource $Resource"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(scale, key, rows, md5) = l.split("\t")
        (scale, key) -> Expected(rows.toLong, Some(md5).filter(_ != "-"))
      }.toMap
    finally in.close()
  }

  def get(scale: String, key: String): Option[Expected] = table.get((scale, key))
}
