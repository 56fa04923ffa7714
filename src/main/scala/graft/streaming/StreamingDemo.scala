package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming runner (SURVEY.md §7 M6, not driver-graded):
  * proves the batch time-series operators in `operators.TimeSeries` are
  * the same computation as a real `readStream` → watermark → windowed
  * aggregation → `writeStream` pipeline.
  *
  * Runs the events table as a file stream (one parquet file = one
  * micro-batch) through:
  *   1. 1-hour tumbling window counts with a 10-minute watermark
  *      (streaming form of `ts_tumbling`),
  *   2. per-user 30-minute session windows via `session_window`
  *      (streaming form of `ts_session`),
  *   3. `dropDuplicates` on event_id (streaming form of
  *      `ts_dedup_watermark`'s replay dedup),
  * writes each to an in-memory sink, and checks the results against the
  * batch equivalents. Exit code 0 iff all three agree.
  *
  * At scale the identical plan runs on a Kafka/file-rate source with
  * checkpointing — state stores shuffle by (window/user/event_id)
  * exactly like the batch shuffles.
  */
object StreamingDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val failures = run(spark, sfDir)
    failures.foreach(f => System.err.println(s"[streaming-demo] FAIL: $f"))
    if (failures.isEmpty) println("[streaming-demo] all streaming/batch equivalence checks passed")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Returns a failure description per check that did not match. */
  def run(spark: SparkSession, sfDir: String): Seq[String] = {
    // Staging, ns→µs conversion, and sink draining all come from the
    // hardened TimeSeries/Tables helpers — one implementation, so the
    // demo inherits their run isolation (per-process scratch dirs
    // deleted on exit, sink-view drop + resetTerminated) instead
    // of re-implementing a fixed-path copy that two concurrent runs
    // would clobber mid-stream.
    // each check builds its pipeline over a fresh stream on the child
    // session runToMemory hands it
    def runToMemory(name: String, mode: String)(pipeline: DataFrame => DataFrame): DataFrame =
      graft.operators.TimeSeries.runToMemory(spark, name, mode) { s =>
        pipeline(graft.operators.TimeSeries.stagedEventStream(s, sfDir, "events2split", 1))
      }
    val batch = graft.sources.Tables.events(spark, sfDir)

    val checks = Seq(
      ("tumbling_counts", {
        val s = runToMemory("stream_tumbling", "complete")(
          _.withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type")).count())
          .select(col("window.start").as("ws"), col("event_type"), col("count"))
        val b = batch.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type")).count()
          .select(col("w.start").as("ws"), col("event_type"), col("count"))
        (s, b)
      }),
      ("session_windows", {
        val s = runToMemory("stream_sessions", "complete")(
          _.withWatermark("ts", "10 minutes")
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id")).count())
          .select(col("session_window.start").as("ss"), col("user_id"), col("count"))
        val b = batch.groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id")).count()
          .select(col("sw.start").as("ss"), col("user_id"), col("count"))
        (s, b)
      }),
      ("dedup_event_ids", {
        val s = runToMemory("stream_dedup", "append")(
          _.withWatermark("ts", "10 minutes")
            .dropDuplicates("event_id").select("event_id"))
        val b = batch.select("event_id").distinct()
        (s, b)
      }),
      ("map_groups_with_state_counts", {
        // Custom keyed state (KeyValueGroupedDataset.mapGroupsWithState):
        // per-user running event count; the final state must equal the
        // batch groupBy count.
        import spark.implicits._
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val s = runToMemory("stream_state_counts", "update")(
          _.select(col("user_id")).as[Long]
            .groupByKey(identity)
            .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
              (user: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
                val n = state.getOption.getOrElse(0L) + rows.size
                state.update(n)
                (user, n)
            }
            .toDF("user_id", "n"))
          .groupBy("user_id").agg(max(col("n")).as("n")) // last update per user
        val b = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
        (s, b)
      }),
      ("flat_map_groups_with_state_milestones", {
        // flatMapGroupsWithState (0..n output rows per invocation): emit
        // a milestone row each time a user's running event count crosses
        // a multiple of 10; the set of milestones must equal the batch
        // computation floor(count/10) per user.
        import spark.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        val s = runToMemory("stream_milestones", "append")(
          _.select(col("user_id")).as[Long]
            .groupByKey(identity)
            .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
              (user: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
                val before = state.getOption.getOrElse(0L)
                val after = before + rows.size
                state.update(after)
                ((before / 10 + 1) to (after / 10)).map(m => (user, m * 10)).iterator
            }
            .toDF("user_id", "milestone"))
        val b = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 10) // sequence(1, 0) would descend
          .select(col("user_id"), explode(expr("transform(sequence(1, cast(n div 10 as int)), i -> i * 10L)")).as("milestone"))
        (s, b)
      }))

    checks.flatMap { case (name, (s, b)) =>
      val onlyS = s.exceptAll(b).count()
      val onlyB = b.exceptAll(s).count()
      if (onlyS == 0 && onlyB == 0) None
      else Some(s"$name: stream-only=$onlyS batch-only=$onlyB")
    }
  }
}
