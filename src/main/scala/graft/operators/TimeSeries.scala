package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.GraftSession
import graft.sources.Tables._
import graft.util.Scratch

/** Time-series operators over the events table (SURVEY.md §2.B
  * "Time-series / streaming semantics").
  *
  * These are the batch-equivalent forms; the `ts_*_stream` keys run
  * the tumbling/session/dedup shapes as real Structured Streaming jobs
  * with watermarks against the same oracles, proving the
  * batch/streaming equivalence. At
  * 100 TB each of these is one shuffle (by window bucket or user_id);
  * sliding windows multiply rows by windows-per-slide (4× here) before
  * the shuffle, exactly like Spark's streaming window operator.
  */
object TimeSeries {

  /** Appends `frames` to the feed directory `dir`: one parquet file per
    * frame, in list order, each stamped with a modification time later
    * than every file already there. The file-stream source lists files
    * oldest-first, so under [[openFeed]]'s `maxFilesPerTrigger=1` frame i
    * is micro-batch i (explicit mtimes: same-millisecond writes would make
    * that order, hence late-row filtering, nondeterministic), and a feed
    * appended to between two runs of one checkpoint serves the restarted
    * query only the new files. */
  private[graft] def writeFeed(dir: String, frames: Seq[DataFrame]): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir))
    val have = Scratch.parquetFiles(dir).size
    frames.zipWithIndex.foreach { case (df, j) =>
      val i = have + j
      val tmp = s"$dir.part$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Scratch.parquetFiles(tmp).headOption
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      val dest = Files.move(part, Paths.get(dir, f"feed-$i%05d.parquet"))
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      Scratch.deleteTree(tmp)
    }
  }

  /** The one streaming source: a feed directory ([[writeFeed]]) read as
    * a file stream, one file per micro-batch. */
  private[graft] def openFeed(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** The events columns the streaming keys read. */
  private val feedColumns = Seq("event_id", "user_id", "event_type", "ts", "value")

  /** An events feed, staged once per (process, sfDir, name) through
    * [[graft.util.Built.dir]] (concurrent first callers wait on one write;
    * the source is immutable, so every later call reuses the files).
    * `frames` splits the events, read through [[graft.sources.Tables
    * .events]], into the feed's micro-batches. Returns the opener each
    * key calls on its own stream session: every call is an independent
    * source with its own micro-batch schedule. */
  private def eventFeed(spark: SparkSession, sfDir: String, name: String)(
      frames: DataFrame => Seq[DataFrame]): SparkSession => DataFrame = {
    val ev = events(spark, sfDir).select(feedColumns.map(col): _*)
    val dir = graft.util.Built.dir(s"time_series.feed.$name:$sfDir")(writeFeed(_, frames(ev)))
    openFeed(_, dir, ev.schema)
  }

  /** The events' first and last second, and the horizon the
    * sentinel-flushed keys derive from them. */
  private final case class Horizon(t0: Long, t1: Long) {
    /** Watermark delay of span + 1 h: no row is ever late, whatever the
      * order its micro-batch arrives in. */
    val delaySec: Long = t1 - t0 + 3600L
    /** A sentinel event here settles the watermark at t1 + 2 h: past
      * every real window end (a 1 h tumbling or sliding window that
      * holds an event ends by t1 + 1 h) and every 1 h join window, short
      * of the sentinel's own windows. */
    val sentinelSec: Long = t1 + delaySec + 2 * 3600L
  }

  /** One min/max job per (process, sfDir). */
  private def horizon(spark: SparkSession, sfDir: String): Horizon =
    graft.util.Built(s"time_series.horizon:$sfDir") {
      val Array(r) = events(spark, sfDir)
        .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long")).collect()
      Horizon(r.getLong(0), r.getLong(1))
    }

  /** Two time-ordered halves, split at the middle second: every row of
    * the second is newer than every row of the first, so no watermark
    * the first batch sets can drop a row of the second. */
  private def halves(ev: DataFrame, h: Horizon): Seq[DataFrame] = {
    val mid = h.t0 + (h.t1 - h.t0) / 2
    Seq(ev.filter(col("ts").cast("long") <= mid), ev.filter(col("ts").cast("long") > mid))
  }

  /** The final micro-batch of a sentinel-flushed feed: a click, a
    * purchase and a view of users -1, -2 and -3 at the horizon's
    * sentinel second. It drags every watermark past the real data, and
    * the keys filter its own rows out. */
  private def sentinels(ev: DataFrame, h: Horizon): DataFrame = {
    val id = -col("id")
    ev.sparkSession.range(1, 4).select(id.as("event_id"), id.as("user_id"),
      element_at(array(lit("click"), lit("purchase"), lit("view")), col("id").cast("int"))
        .as("event_type"),
      timestamp_seconds(lit(h.sentinelSec)).as("ts"), lit(0.0).as("value"))
  }

  /** The one streaming runner. `build` makes the streaming frame on a
    * child session ([[GraftSession.child]]) whose shuffle partitions
    * size the state stores, and the query runs until it has drained its
    * input, then stops. Its checkpoint is `checkpoint` (a
    * restartable query's durable dir) or else a fresh tmpfs dir
    * ([[Scratch.fastCheckpointDir]]: the per-micro-batch offset, commit
    * and state fsyncs never touch a disk).
    *
    * Without `eachBatch` the sink is a memory table whose rows come back
    * as a fresh local frame on `spark`, at the caller's width; with it,
    * every micro-batch goes to `eachBatch` and the frame is empty.
    * Either way the memory table, if any, is dropped and the terminated
    * query released before returning (the round-4 bench finding: a
    * memory sink left registered kept every earlier key's rows and state
    * on the heap, slowing the later keys 2-10x), so the session is as
    * clean as before.
    *
    * State stores = shuffle partitions: streaming keys run at 4 (16 for
    * the heavy-state keys) on their own child session, so the caller's
    * conf is never touched and concurrent keys need no lock. */
  private[graft] def runStream(spark: SparkSession, name: String, mode: String = "append",
      shufflePartitions: Int = 4, checkpoint: Option[String] = None,
      eachBatch: Option[(DataFrame, Long) => Unit] = None)(
      build: SparkSession => DataFrame): DataFrame = {
    val stream = GraftSession.child(spark, "spark.sql.shuffle.partitions" -> shufflePartitions.toString)
    val writer = build(stream).writeStream.queryName(name).outputMode(mode)
      .option("checkpointLocation", checkpoint.getOrElse(Scratch.fastCheckpointDir(name)))
    val q = eachBatch.fold(writer.format("memory"))(f => writer.foreachBatch(f)).start()
    try q.processAllAvailable() finally q.stop()
    val sink = if (eachBatch.isDefined) None else {
      val t = stream.table(name)
      Some((t.collect(), t.schema))
    }
    stream.catalog.dropTempView(name)
    stream.streams.resetTerminated()
    // Slice the driver-resident sink rows by SIZE, not by default
    // parallelism: LocalTableScan's toRdd re-slices them across
    // defaultParallelism, so small results (the common case) paid
    // 32-task stages per consumer — but a blanket coalesce(1) then
    // serialized the map side of the final sort for the two keys
    // whose sink holds ~100k rows at sf0.1 (ts_session_stream,
    // ts_dedup_stream regressed 2-3× in the r18 mid-round bench).
    // ~8k rows per slice keeps both honest; the count is driver
    // data, so the plan stays deterministic per (key, dataset).
    sink.fold(spark.emptyDataFrame) { case (rows, schema) =>
      val slices = math.min(spark.sparkContext.defaultParallelism.toLong,
        rows.length / 8192L + 1).toInt
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(slices)
    }
  }

  /** The events as two time-ordered halves ([[halves]]). */
  private def halvesFeed(spark: SparkSession, sfDir: String) =
    eventFeed(spark, sfDir, "halves")(halves(_, horizon(spark, sfDir)))

  /** Two full copies: the second is an at-least-once replay of the first. */
  private def copiesFeed(spark: SparkSession, sfDir: String) =
    eventFeed(spark, sfDir, "copies")(ev => Seq(ev, ev))

  /** A feed of `split`'s batches, then the [[sentinels]] batch, with the
    * horizon its keys set their watermark and window guard from. */
  private def sentinelFeed(spark: SparkSession, sfDir: String, name: String)(
      split: (DataFrame, Horizon) => Seq[DataFrame]): (SparkSession => DataFrame, Horizon) = {
    val h = horizon(spark, sfDir)
    (eventFeed(spark, sfDir, name)(ev => split(ev, h) :+ sentinels(ev, h)), h)
  }

  /** The events as one batch, then the sentinel batch. */
  private def wholeFeed(spark: SparkSession, sfDir: String) =
    sentinelFeed(spark, sfDir, "whole")((ev, _) => Seq(ev))

  /** 1-hour tumbling window counts + exact value sums per event type. */
  val tsTumbling: Key = Key.sql("ts_tumbling") { t =>
    s"""SELECT DATE_TRUNC('hour', ts) AS ws, event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM ${t("events")} GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin
  }

  /** 1-hour window sliding every 15 minutes: each event lands in exactly
    * four windows. The oracle reproduces Spark's epoch-aligned window
    * starts by unnesting the four 15-minute offsets. */
  def tsSliding(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")

  val tsSlidingOracle: String =
    """SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000 - CAST(k AS BIGINT) * 900000000) AS ws,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offsets(k)
      |GROUP BY 1 ORDER BY ws""".stripMargin

  /** `ts_sliding` executed as a REAL Structured Streaming job — the
    * one windowed-state shape the streaming family didn't yet cover:
    * OVERLAPPING windows, where each event updates FOUR window states
    * (1 h window / 15 min slide) instead of one and the state store
    * holds window-count × group-count entries. Same staged two-split
    * source and complete-mode memory sink as `ts_tumbling_stream`;
    * state shuffles by window exactly like the batch shuffle, so the
    * result equals the batch form and the key SHARES `ts_sliding`'s
    * oracle (the `ts_session_stream` pattern). NOTE on the watermark:
    * in COMPLETE mode it is declared but INERT — no state is evicted,
    * which is precisely why every window survives to equal the batch
    * result. The production Kafka-fed dashboard runs the same plan in
    * append/update mode, where this watermark drives eviction and
    * closed windows emit once (review finding: say what the graded
    * mode actually does). */
  def tsSlidingStream(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "graft_ts_sliding_stream", "complete") { s =>
      halvesFeed(spark, sfDir)(s)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.select(col("w.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")

  /** `ts_tumbling` executed as a REAL Structured Streaming job: the
    * events are fed as two time-ordered halves, one per micro-batch,
    * through the file stream → watermark → windowed
    * aggregation → memory sink, so windowed state genuinely carries
    * across triggers. Complete output mode keeps every window, making the
    * result equal to the batch form — the key shares `ts_tumbling`'s
    * DuckDB oracle. At scale the same plan runs from a Kafka/file-rate
    * source with a durable checkpoint; state shuffles by (window,
    * event_type) exactly like the batch shuffle.
    */
  def tsTumblingStream(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "graft_ts_tumbling_stream", "complete") { s =>
      halvesFeed(spark, sfDir)(s)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")

  /** `ts_session` executed as a REAL Structured Streaming job via the
    * native `session_window` operator: per-user sessions with a
    * 30-minute gap, state merged across micro-batches, complete output
    * mode. Session-window semantics (an event exactly at the gap
    * boundary MERGES — windows are [start, end) and a touching window
    * extends the session) coincide with the batch gaps-and-islands form
    * (`new_sess` iff gap STRICTLY exceeds 30 min), so the key shares
    * `ts_session`'s DuckDB oracle: session_start = min(ts) per merged
    * window. At scale this is the plan you'd run from Kafka — state
    * shuffles by (user, session) with watermark-driven eviction.
    */
  def tsSessionStream(spark: SparkSession, sfDir: String): DataFrame =
    // 16 state partitions: the session-window store holds ~95k rows at
    // sf0.1 (ts_dedup_stream's state-volume sizing rule, not a core
    // count — see the runStream scaladoc)
    runStream(spark, "graft_ts_session_stream", "complete", shufflePartitions = 16) { s =>
      halvesFeed(spark, sfDir)(s)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    }.select(col("user_id"), col("mn").as("session_start"), col("n_events"),
        (unix_micros(col("mx")) - unix_micros(col("mn"))).as("duration_us"))
      .orderBy("user_id", "session_start")

  /** `ts_dedup_watermark` executed as a REAL Structured Streaming job:
    * the events file is staged TWICE (replay!), fed one copy per
    * micro-batch through `dropDuplicatesWithinWatermark` on event_id.
    * Batch 2 is the at-least-once replay: rows still inside the
    * watermark hit dedup state, rows behind it are dropped as late —
    * either way exactly one row per event_id survives, and because
    * replayed rows are byte-identical the survivor set equals the batch
    * form regardless of arrival order. Append mode: emitted once, never
    * revised — the streaming contract the batch key models.
    */
  def tsDedupStream(spark: SparkSession, sfDir: String): DataFrame =
    // dedup state is per-EVENT (one entry per event_id, ~|events| rows),
    // not per-user — give it more stores than the 1k-key aggregations
    runStream(spark, "graft_ts_dedup_stream", "append", shufflePartitions = 16) { s =>
      copiesFeed(spark, sfDir)(s)
        .select("event_id", "ts", "user_id", "event_type")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
    }.select("event_id", "ts", "user_id", "event_type")
      .orderBy("event_id")

  /** ARBITRARY-state streaming — the surface beyond built-in stateful
    * ops (windowed agg / session_window / dropDuplicates): a per-user
    * running profile (event count, first/last seen) kept in a CUSTOM
    * state object via `flatMapGroupsWithState`, updated across real
    * micro-batches (the staged events file arrives as two splits) and
    * emitted in Update mode after each batch.
    *
    * Determinism: the state folds are commutative+associative (count,
    * min, max), so arrival order across and within batches cannot change
    * the final profile; the update-mode sink then holds one row per
    * (user, batch-with-changes) and the FINAL profile per user is
    * recovered by max/min/max — each component is monotone over batches.
    * The oracle is the plain batch aggregate. NoTimeout keeps the run
    * deterministic (processing-time timeouts depend on the wall clock);
    * at scale the same code carries a TTL via `GroupStateTimeout` and a
    * durable checkpoint, and state shuffles by user_id exactly like the
    * batch groupBy. */
  def tsStatefulStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    runStream(spark, "graft_ts_stateful_stream", "update") { s =>
      halvesFeed(spark, sfDir)(s)
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[(Long, java.sql.Timestamp, java.sql.Timestamp)]) =>
            var (n, mn, mx) = state.getOption.getOrElse(
              (0L, null: java.sql.Timestamp, null: java.sql.Timestamp))
            rows.foreach { case (_, ts) =>
              n += 1
              if (mn == null || ts.compareTo(mn) < 0) mn = ts
              if (mx == null || ts.compareTo(mx) > 0) mx = ts
            }
            state.update((n, mn, mx))
            Iterator((uid, n, mn, mx))
        }
        .toDF("user_id", "n_events", "first_ts", "last_ts")
    }.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        min(col("first_ts")).as("first_ts"),
        max(col("last_ts")).as("last_ts"))
      .orderBy("user_id")
  }

  /** EVENT-TIME-TIMEOUT SESSIONS — the last unexercised public streaming
    * API shape (r13 verdict task 7): per-user sessions kept as ARBITRARY
    * state in `flatMapGroupsWithState` and emitted in Append mode either
    * when a later event's gap exceeds 30 minutes (in-fold close) or when
    * the event-time watermark passes last-event + 30 minutes
    * (`GroupStateTimeout.EventTimeTimeout` — processing-time-free, so
    * the run is wall-clock independent). This is sessionization the way
    * you write it when `session_window` can't express the state (e.g.
    * carrying custom per-session payloads): the state object IS the open
    * session.
    *
    * Batch equivalence (why this shares `ts_session`'s oracle): the
    * feed is time-ordered ([[halves]]) with a final sentinel batch
    * ([[sentinels]]), so (a) no row is ever late-dropped,
    * (b) a session closed by timeout can never see a continuing event
    * afterwards — any later event is ≥ the watermark + delay that fired
    * the timeout, hence > gap beyond the session's last event — and
    * (c) the sentinel forces every remaining open session's timeout to
    * fire before the stream drains. Emitted sessions are therefore
    * exactly the batch gaps-and-islands sessions (strict `> gap` split,
    * matching `session_window`'s touching-merges boundary); the sentinel
    * users (< 0) never emit (their own timeouts stay beyond the final
    * watermark) and are filtered defensively. Within a batch the fold
    * sorts the group's rows by ts, and across batches the ordered feed
    * preserves time order, so the fold IS the batch scan. At scale this
    * runs from Kafka with a real delay: state shuffles by user_id, the
    * store holds one open session per active user, and the watermark —
    * not a driver — retires idle users' state. */
  def tsTimeoutSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val GapUs = 1800L * 1000000L
    def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    // time-ordered halves, then the sentinel batch: no row is ever late,
    // and the sentinel's watermark fires every real session's timeout
    val (feed, _) = sentinelFeed(spark, sfDir, "ordered")(halves)
    runStream(spark, "graft_ts_timeout_sessions", "append") { s =>
      feed(s)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "10 minutes")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[(java.sql.Timestamp, java.sql.Timestamp, Long)]) =>
            if (state.hasTimedOut) {
              // watermark passed last + gap: the open session is closed
              val (start, last, n) = state.get
              state.remove()
              Iterator((uid, start, n, us(last) - us(start)))
            } else {
              val sorted = rows.map(_._2).toArray.sortBy(us)
              var closed = List.empty[(Long, java.sql.Timestamp, Long, Long)]
              var open = state.getOption
              sorted.foreach { t =>
                open match {
                  case Some((start, last, n)) =>
                    if (us(t) - us(last) > GapUs) { // strict >: touching merges
                      closed ::= ((uid, start, n, us(last) - us(start)))
                      open = Some((t, t, 1L))
                    } else open = Some((start, t, n + 1))
                  case None => open = Some((t, t, 1L))
                }
              }
              val st = open.get
              state.update(st)
              // ms floor truncates <1ms — harmless: the ordered feed keeps
              // any continuing event > watermark + 10 min, far beyond 1 ms
              state.setTimeoutTimestamp(us(st._2) / 1000L + 30L * 60L * 1000L)
              closed.reverseIterator
            }
        }
        .toDF("user_id", "session_start", "n_events", "duration_us")
    }.filter(col("user_id") >= 0) // drop the watermark sentinel if it ever emitted
      .orderBy("user_id", "session_start")
  }

  /** STREAM-STATIC JOIN — the enrichment shape every streaming pipeline
    * runs (events arriving from a stream, dimension table at rest): the
    * staged event stream inner-joins the static customer dimension on
    * user_id, then aggregates revenue per (market segment, event type)
    * in complete mode. The static side is broadcast — a stream-static
    * join is STATELESS (each micro-batch joins against the dimension as
    * of that trigger; nothing carries across triggers), so at 100 TB
    * this costs one broadcast per executor and zero state store, which
    * is why enrichment belongs on the stream rather than as a later
    * batch join. The oracle is the plain batch join + aggregate: for a
    * deterministic static side they are equal by construction.
    */
  def tsStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "graft_ts_stream_join", "complete") { s =>
      val cust = customer(s, sfDir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      halvesFeed(spark, sfDir)(s)
        .join(broadcast(cust), Seq("user_id")) // stream-static: stateless per micro-batch
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.select("segment", "event_type", "n", "sum_value")
      .orderBy("segment", "event_type")

  /** STREAM-STREAM JOIN — the last big Structured Streaming surface
    * (beyond windowed agg / session / dedup / arbitrary state /
    * stream-static): clicks and purchases arrive as TWO independent
    * file streams (each fed in micro-batches), and each purchase joins
    * the same user's clicks from the PRECEDING HOUR. Both sides carry a
    * watermark and the join condition carries the event-time bound —
    * the canonical shape under which Spark can evict buffered rows once
    * the watermark passes `click_ts + 1h`. The watermark delay here
    * (120 days) exceeds the fixture's whole time span, so no state is
    * evicted and the append-mode result provably equals the batch join
    * (the oracle); at scale the SAME plan runs with a minutes-delay
    * watermark and bounded state — only the retention knob changes,
    * never the join logic. Per-side state shuffles by user_id, exactly
    * like the batch shuffle join.
    */
  def tsStreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // 16 state partitions (r19, the ts_dedup_stream sizing rule): the
    // join buffers ~40k rows/side here — at the blanket 4 instances each
    // store task single-threads ~10k keys' updates+evictions per
    // trigger (per-trigger progress: addBatch 3.5-4.5 s/batch, commitMs ~2 s).
    // Target ≤ ~4k state rows per instance; production sizes this by
    // state volume, not core count.
    runStream(spark, "graft_ts_ss_join", "append", shufflePartitions = 16) { s =>
      // two INDEPENDENT stream sources (each its own micro-batch
      // schedule) over one staged feed; the join topology is identical
      val feed = halvesFeed(spark, sfDir)
      val clicks = feed(s)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "120 days")
      val purchases = feed(s)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "120 days")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
    }.select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** LEFT-OUTER STREAM-STREAM JOIN — the state-EVICTION half of the
    * streaming join story: an unmatched click can only be emitted (with
    * null purchase columns) once the global watermark proves no
    * matching purchase can still arrive, so this key exercises exactly
    * the machinery `ts_stream_stream_join`'s no-eviction inner join
    * does not. Determinism is engineered, not hoped for:
    *  - watermark delay = data span + 1h, so NO row is ever
    *    late-dropped regardless of micro-batch file order;
    *  - a sentinel click AND a sentinel purchase (non-joining user ids,
    *    filtered from the output) ride in the feed's last micro-batch
    *    ([[sentinels]]), advancing BOTH sides' watermarks — and
    *    therefore the global (min-policy) watermark — past every real
    *    click's join window, so every unmatched click flushes before
    *    the stream drains.
    * The append-mode result then provably equals the batch LEFT JOIN
    * (the oracle). At 100 TB only the delay knob changes: state stays
    * bounded by span-of-interest, eviction logic identical. */
  def tsStreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (feed, h) = wholeFeed(spark, sfDir)
    // 16 state partitions — same sizing rule as ts_stream_stream_join
    // (this side also pays the final watermark-flush eviction scan,
    // which parallelizes with the instance count)
    runStream(spark, "graft_ts_so_join", "append", shufflePartitions = 16) { s =>
      def side = feed(s)
      val clicks = side.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", s"${h.delaySec} seconds")
      val purchases = side.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", s"${h.delaySec} seconds")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"),
        "left_outer")
    }.filter(col("user_id") >= 0) // drop the sentinel click's outer row
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy(col("click_id").asc, col("purchase_id").asc_nulls_first)
  }

  /** APPEND-MODE WATERMARKED WINDOW AGG — the window-FINALIZATION
    * semantics the complete-mode streaming keys never exercise: in
    * append mode a (window, event_type) group is emitted EXACTLY ONCE,
    * only after the global watermark passes its window end and its
    * state is evicted — the output is a stream of closed, immutable
    * window results (what a downstream sink can actually consume
    * incrementally at 100 TB, where re-emitting the whole result per
    * trigger is a non-starter). Determinism is engineered the
    * `ts_stream_outer_join` way: watermark delay = span + 1h (no late
    * drops under any file order), and the sentinel events of the
    * feed's final micro-batch advance the watermark past every REAL
    * window's end while its own window stays open and unemitted — so
    * the append stream provably equals the batch tumbling aggregate
    * (`ts_tumbling`'s oracle, shared). */
  def tsStreamAppendWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val (feed, h) = wholeFeed(spark, sfDir)
    // the sentinel's window never closes, so it never reaches the
    // sink; the window-start guard only documents the invariant
    runStream(spark, "graft_ts_append_win", "append") { s =>
      feed(s)
        .withWatermark("ts", s"${h.delaySec} seconds")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.filter(col("w.start").cast("long") <= h.t1)
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")
  }

  /** APPEND-MODE SLIDING WINDOWS (r10) — the production eviction shape
    * for OVERLAPPING windows, the one state pattern `ts_sliding_stream`
    * (complete mode, inert watermark) deliberately does not grade: each
    * event updates FOUR overlapping 1 h/15 min window states, and in
    * append mode each of those windows is emitted EXACTLY ONCE, when
    * the watermark passes ITS end and its state row is evicted — so
    * state held per trigger is bounded by (watermark horizon ÷ slide),
    * not by stream length, which is what makes overlapping windows
    * viable on an unbounded 100 TB stream. Same sentinel machinery as
    * [[tsStreamAppendWindow]]: every real window's end ≤ t1 + 1 h sits
    * behind the settled watermark (t1 + 2 h) so all close and emit;
    * the sentinel's own four windows never close and never reach the
    * sink. Result provably equals the batch `ts_sliding` (shared
    * oracle); the spec additionally pins exactly-once emission. */
  def tsSlidingStreamAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val (feed, h) = wholeFeed(spark, sfDir)
    runStream(spark, "graft_ts_sliding_append", "append") { s =>
      feed(s)
        .withWatermark("ts", s"${h.delaySec} seconds")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.filter(col("w.start").cast("long") <= h.t1)
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")
  }

  /** Append-mode sliding stream must equal the batch sliding windows. */
  val tsSlidingStreamAppendOracle: String = tsSlidingOracle

  /** UPDATE-MODE SLIDING WINDOWS (r11) — the third and last output
    * mode for overlapping windows, the low-latency dashboard shape the
    * complete (`ts_sliding_stream`, full re-emit per trigger) and
    * append (`ts_sliding_stream_append`, emit once on close) keys
    * bracket: in update mode a window RE-EMITS each trigger in which
    * its aggregate CHANGED, and the watermark still evicts its state
    * once passed — so a consumer sees per-window values converge live
    * while state stays bounded by the watermark horizon, not stream
    * length. The events are staged as TWO event_id-hashed micro-batches
    * (plus the sentinel that drags the watermark past every real
    * window), so most windows genuinely emit twice with growing counts
    * — the spec pins that multi-emission. The graded frame reduces the
    * update stream to its FINAL state per window: `n` strictly
    * increases across a window's successive emissions (update mode
    * only re-emits groups that received rows), so the max-n row IS the
    * last emission, and the result provably equals the batch
    * `ts_sliding` (shared oracle). The sentinel's own windows never
    * close but DO emit updates — filtered by window start ≤ t1, same
    * guard as the append keys. */
  /** The raw update stream (every emission, real windows only) — the
    * spec pins multi-emission on this; the graded key reduces it. */
  private[graft] def tsSlidingStreamUpdateRaw(spark: SparkSession, sfDir: String): DataFrame = {
    // two event_id-hashed batches: a window receives rows in both, so
    // update mode's re-emission shows (OperatorSpec pins it)
    val (feed, h) = sentinelFeed(spark, sfDir, "by-id")((ev, _) =>
      Seq(0, 1).map(i => ev.filter(pmod(col("event_id"), lit(2)) === i)))
    runStream(spark, "graft_ts_sliding_update", "update") { s =>
      feed(s)
        .withWatermark("ts", s"${h.delaySec} seconds")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("decimal(18,2)").cast("double").as("sum_value"))
    }.filter(col("w.start").cast("long") <= h.t1)
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
  }

  def tsSlidingStreamUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val wFinal = Window.partitionBy("ws").orderBy(col("n").desc)
    tsSlidingStreamUpdateRaw(spark, sfDir)
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("ws")
  }

  /** The final per-window update state must equal the batch sliding
    * aggregate. */
  val tsSlidingStreamUpdateOracle: String = tsSlidingOracle

  val tsStreamOuterJoinOracle: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  DATE_DIFF('microsecond', c.ts, p.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin

  val tsStreamStreamJoinOracle: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  DATE_DIFF('microsecond', c.ts, p.ts) AS gap_us
      |FROM events c JOIN events p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  val tsStreamJoinOracle: String =
    """SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin

  val tsStatefulStreamOracle: String =
    """SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** FUNNEL analysis (the ClickHouse-windowFunnel / product-analytics
    * staple): how far does each user get through view → click →
    * purchase, where each stage must follow the previous one and the
    * whole path must complete within 24 hours of the first view?
    * Emitted as the funnel report: users reaching depth 0..3.
    *
    * Shape: three conditional-min aggregations (first view; first click
    * ≥ that view; first purchase ≥ that click — all within the window),
    * each one groupBy(user) + join back on user. At 100 TB that is
    * three shuffles on the same user key — AQE/bucketing co-locates the
    * follow-up joins — and no window-function sort over the full event
    * log. Stage timestamps are mins, so arrival order is irrelevant.
    */
  val tsFunnel: Key = Key.sql("ts_funnel") { t =>
    s"""WITH ev AS (SELECT user_id, event_type, ts FROM ${t("events")}),
       |t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
       |t2 AS (
       |  SELECT ev.user_id, MIN(ev.ts) AS t2, MIN(t1.t1) AS t1
       |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
       |  WHERE ev.event_type = 'click' AND ev.ts >= t1.t1
       |    AND ev.ts <= t1.t1 + INTERVAL 24 HOURS
       |  GROUP BY ev.user_id),
       |t3 AS (
       |  SELECT ev.user_id, MIN(ev.ts) AS t3
       |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
       |  WHERE ev.event_type = 'purchase' AND ev.ts >= t2.t2
       |    AND ev.ts <= t2.t1 + INTERVAL 24 HOURS
       |  GROUP BY ev.user_id)
       |SELECT depth, COUNT(*) AS n_users FROM (
       |  SELECT u.user_id,
       |    CASE WHEN t3.user_id IS NOT NULL THEN 3
       |         WHEN t2.user_id IS NOT NULL THEN 2
       |         WHEN t1.user_id IS NOT NULL THEN 1
       |         ELSE 0 END AS depth
       |  FROM (SELECT DISTINCT user_id FROM ev) u
       |  LEFT JOIN t1 ON u.user_id = t1.user_id
       |  LEFT JOIN t2 ON u.user_id = t2.user_id
       |  LEFT JOIN t3 ON u.user_id = t3.user_id)
       |GROUP BY depth ORDER BY depth""".stripMargin
  }

  /** COHORT RETENTION (the other product-analytics staple next to the
    * funnel): users are cohorted by their FIRST active day, and the
    * report counts how many of each cohort are active again N days
    * later — the curve every engagement dashboard draws. Shape: one
    * distinct-day projection, one groupBy(user) for the cohort day,
    * one join back on user, one groupBy(cohort, offset) — two shuffles
    * on user + one on the (cohort, offset) pair, no windows. */
  val tsRetention: Key = Key.sql("ts_retention") { t =>
    s"""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ${t("events")}),
       |f AS (SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id)
       |SELECT cohort, CAST(date_diff(${t.unit("day")}, cohort, d) AS INT) AS day_offset,
       |  COUNT(DISTINCT ev.user_id) AS n_users
       |FROM ev JOIN f ON ev.user_id = f.user_id
       |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin
  }

  /** EVENT-TYPE TRANSITIONS (the path-mining / Markov-chain building
    * block): each user's events in time order yield (from → to) type
    * pairs, counted corpus-wide — "what do users do after a click?".
    * One window pass partitioned by user (ties broken by event_id so
    * both engines sequence identically) + one groupBy on the pair. */
  val tsTransitions: Key = Key.sql("ts_transitions") { t =>
    s"""SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
       |FROM (
       |  SELECT event_type,
       |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |  FROM ${t("events")})
       |WHERE next_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin
  }

  /** Per-user session windows with a 30-minute inactivity gap —
    * gaps-and-islands: flag gap starts with lag(), running-sum the flags
    * into session ids, aggregate per session. */
  def tsSession(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(run))
      .groupBy("user_id", "sess_id")
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .select("user_id", "session_start", "n_events", "duration_us")
      .orderBy("user_id", "session_start")
  }

  val tsSessionOracle: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts, 1) OVER w IS NULL
      |           OR DATE_DIFF('microsecond', LAG(ts, 1) OVER w, ts) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessioned AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |  DATE_DIFF('microsecond', MIN(ts), MAX(ts)) AS duration_us
      |FROM sessioned GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Replay dedup (batch analog of dropDuplicatesWithinWatermark): the
    * input is doubled to simulate at-least-once replay, then exactly one
    * row per event_id survives, keeping the earliest timestamp. */
  val tsDedupWatermark: Key = Key.sql("ts_dedup_watermark") { t =>
    s"""SELECT event_id, ts, user_id, event_type FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
       |  FROM (SELECT event_id, ts, user_id, event_type FROM ${t("events")}
       |        UNION ALL
       |        SELECT event_id, ts, user_id, event_type FROM ${t("events")}))
       |WHERE rn = 1 ORDER BY event_id""".stripMargin
  }

  /** Watermark-style late-data accounting: events more than 10 minutes
    * behind their user's max timestamp are classified late. */
  val tsLateData: Key = Key.sql("ts_late_data") { t =>
    s"""SELECT event_type,
       |  CAST(SUM(CAST(DATE_DIFF(${t.unit("microsecond")}, ts, max_ts) > 600000000 AS INT)) AS BIGINT) AS n_late,
       |  CAST(SUM(1 - CAST(DATE_DIFF(${t.unit("microsecond")}, ts, max_ts) > 600000000 AS INT)) AS BIGINT) AS n_ontime
       |FROM (SELECT event_type, ts, MAX(ts) OVER (PARTITION BY user_id) AS max_ts FROM ${t("events")})
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** GAP FILL — the resampling move every time-series store (and every
    * SQL engine's GENERATE_SERIES idiom) needs: hourly counts per
    * event type with EVERY hour of the observed span present, missing
    * buckets as explicit zero rows. A groupBy alone silently drops
    * empty buckets — downstream interpolation, charting, and windowed
    * models all need the dense grid. Shape: one groupBy for the sparse
    * counts, a spine built from `sequence()` over the global [min,max]
    * hour (bounds are a 1-row aggregate — the cross join broadcasts a
    * single row, never a Cartesian blowup), left join + zero-fill. At
    * 100 TB the spine is types × hours — metadata-sized next to the
    * fact scan; the join shuffles the SPARSE side only. Bucket math is
    * exact integer µs division, epoch-second output. */
  def tsGapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .withColumn("bucket_sec", expr("(unix_micros(ts) div 3600000000) * 3600"))
    val counts = ev.groupBy("event_type", "bucket_sec")
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("bucket_sec")).as("t0"),
      max(col("bucket_sec")).as("t1"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(t0, t1, 3600)")).as("bucket_sec"))
    spine.join(counts, Seq("event_type", "bucket_sec"), "left")
      .na.fill(0L, Seq("n"))
      .orderBy("event_type", "bucket_sec")
  }

  val tsGapFillOracle: String =
    """WITH ev AS (SELECT event_type,
      |  (DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 3600000000) * 3600 AS bucket_sec
      |  FROM events),
      |b AS (SELECT MIN(bucket_sec) AS t0, MAX(bucket_sec) AS t1 FROM ev),
      |t AS (SELECT DISTINCT event_type FROM ev),
      |s AS (SELECT t.event_type, CAST(u.g AS BIGINT) AS bucket_sec
      |      FROM t, b, UNNEST(range(b.t0, b.t1 + 3600, 3600)) AS u(g)),
      |c AS (SELECT event_type, bucket_sec, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM ev GROUP BY 1, 2)
      |SELECT s.event_type, s.bucket_sec, COALESCE(c.n, 0) AS n
      |FROM s LEFT JOIN c USING (event_type, bucket_sec)
      |ORDER BY event_type, bucket_sec""".stripMargin

  /** OHLC DOWNSAMPLING — the canonical time-series compaction: per
    * (event_type, day), the first/highest/lowest/last `value` plus
    * event count and exact-decimal turnover. Open/close are SELECTIONS
    * (not accumulations) picked by a total order (ts, event_id) — the
    * event_id tiebreak makes same-µs ties deterministic, so the
    * cross-engine comparison is exact without any float tolerance; the
    * one float aggregate (sum) goes through the DECIMAL(18,2) cast like
    * every money sum in the suite. One window pass + one groupBy, both
    * keyed by (event_type, day): a single shuffle at any scale. */
  val tsOhlc: Key = Key.sql("ts_ohlc") { t =>
    s"""WITH r AS (SELECT event_type,
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 86400000000 AS day,
       |    value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type,
       |      DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 86400000000
       |      ORDER BY ts, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type,
       |      DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 86400000000) AS cnt
       |  FROM ${t("events")})
       |SELECT event_type, day,
       |  MAX(CASE WHEN rn = 1 THEN value END) AS open,
       |  MAX(value) AS high, MIN(value) AS low,
       |  MAX(CASE WHEN rn = cnt THEN value END) AS close,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
       |FROM r GROUP BY event_type, day ORDER BY event_type, day""".stripMargin
  }

  /** STREAMING UPSERT MATERIALIZED VIEW — the `foreachBatch` merge
    * pattern every lakehouse ingestion job runs where no transactional
    * table format is wired in: each micro-batch MERGEs into a persisted
    * "latest state per key" table (here: last event per user), so the
    * table is an incrementally-maintained materialized view of the
    * stream. Merge = union(current, batch) → per-key latest by the
    * (ts, event_id) total order → atomic re-materialize (localCheckpoint
    * pins the merged rows BEFORE the overwrite so the job never reads
    * the dir it is replacing; a table format would make this a real
    * MERGE INTO at scale — the per-batch plan is identical). The stream
    * stages TWO full copies of events (two micro-batches carrying every
    * key), so the final table also witnesses upsert IDEMPOTENCE: batch
    * 2 re-delivers every record and must change nothing. Graded read =
    * the final table, oracle = the batch "latest per user" query. The
    * stream runs on its own 4-partition child session (see runStream)
    * and merges into a per-call table dir, so concurrent calls share
    * nothing. */
  def tsStreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    // a per-call tmpfs dir, unique like a checkpoint: concurrent calls
    // share nothing
    val dest = Scratch.fastCheckpointDir("upsert_state")
    runStream(spark, "graft_ts_stream_upsert", eachBatch = Some { (batch: DataFrame, _: Long) =>
      val cur =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(dest)))
          batch.sparkSession.read.parquet(dest)
        else batch.limit(0)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val merged = cur.unionByName(batch)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .localCheckpoint(true) // materialize BEFORE overwriting the input dir
      merged.write.mode("overwrite").parquet(dest)
    })(copiesFeed(spark, sfDir))
    spark.read.parquet(dest)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  val tsStreamUpsertOracle: String =
    """SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** 2σ OUTLIER DETECTION — the classic z-score anomaly flag, made
    * EXACTLY cross-engine-comparable by integer algebra: values become
    * BIGINT cents (exact via the DECIMAL(18,2) cast), and the per-row
    * test |v − mean| > 2σ is cross-multiplied into pure int64 —
    * `(n·c − s)² > 4·(n·m2 − s²)` with s = Σc, m2 = Σc² — so neither
    * engine ever forms a float mean, variance, or square root and the
    * boundary can't wobble. Two passes over events: one groupBy for the
    * per-type moments (5 rows), then the moment table BROADCASTS back
    * against the stream for the flag — the standard "stats then score"
    * scan shape at 100 TB. Overflow headroom at graded scale:
    * c ≤ 6e4, per-type n ≤ 2e4 → n·m2 ≤ ~1.3e18 and dev² ≤ ~1.2e18,
    * inside int64; at larger per-group n the moments drop to
    * DECIMAL(38,0) unchanged in shape (noted, not needed here). */
  val tsAnomaly: Key = Key.sql("ts_anomaly") { t =>
    s"""WITH ev AS (SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM ${t("events")}),
       |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS m2
       |  FROM ev GROUP BY 1)
       |SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CASE WHEN
       |      (CAST(n AS ${t.int128}) * c - s) * (CAST(n AS ${t.int128}) * c - s)
       |      > 4 * (CAST(n AS ${t.int128}) * m2 - CAST(s AS ${t.int128}) * s)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM ev JOIN st USING (event_type)
       |GROUP BY ev.event_type ORDER BY event_type""".stripMargin
  }

  /** LAGGED CROSS-CORRELATION — "does click volume predict purchase
    * volume k hours later?": Pearson corr between the dense hourly
    * click-count series and the purchase-count series shifted by lag
    * 0..3. Built the `agg_corr_exact` way: both series are INTEGER
    * counts on a zero-filled hourly spine (so the moment sums Σx Σy Σxy
    * Σx² Σy² are exact in any partition order), then one identical
    * closed-form double expression + ROUND 6 on both engines. Shape at
    * 100 TB: the only data-sized pass is the first groupBy(hour) —
    * everything after runs on the spine (hours × 4 lags), which is
    * metadata-sized; the self-join on shifted hours broadcasts. */
  def tsLagCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val counts = ev.groupBy("h").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
    val bounds = ev.agg(min(col("h")).as("t0"), max(col("h")).as("t1"))
    val spine = bounds.select(explode(expr("sequence(t0, t1)")).as("h"))
    val dense = spine.join(counts, Seq("h"), "left")
      .na.fill(0L, Seq("a", "b"))
    val lags = spark.range(0L, 4L).select(col("id").as("lag"))
    // pair x=clicks(h) with y=purchases(h+lag); inner join trims the
    // ragged tail so every lag correlates over exactly t1-t0+1-lag pairs
    val pairs = dense.select(col("h"), col("a")).crossJoin(broadcast(lags))
      .join(broadcast(dense.select(col("h").as("h2"), col("b"))),
        col("h2") === col("h") + col("lag"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).cast("decimal(28,2)").as("n"),
        sum(col("a")).cast("decimal(28,2)").as("sx"),
        sum(col("b")).cast("decimal(28,2)").as("sy"),
        sum(col("a") * col("b")).cast("decimal(38,4)").as("sxy"),
        sum(col("a") * col("a")).cast("decimal(38,4)").as("sxx"),
        sum(col("b") * col("b")).cast("decimal(38,4)").as("syy"))
      .select(col("lag"),
        col("n").cast("long").as("n_pairs"),
        r6((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            sqrt(col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")))).as("corr"))
      .orderBy("lag")
  }

  val tsLagCorrOracle: String =
    """WITH ev AS (SELECT event_type,
      |    DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 3600000000 AS h
      |  FROM events),
      |counts AS (SELECT h,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
      |  FROM ev GROUP BY 1),
      |b AS (SELECT MIN(h) AS t0, MAX(h) AS t1 FROM ev),
      |spine AS (SELECT UNNEST(range(t0, t1 + 1)) AS h FROM b),
      |dense AS (SELECT s.h, COALESCE(c.a, 0) AS a, COALESCE(c.b, 0) AS b
      |  FROM spine s LEFT JOIN counts c ON s.h = c.h),
      |lags AS (SELECT UNNEST(range(0, 4)) AS lag),
      |pairs AS (SELECT l.lag, x.a, y.b
      |  FROM dense x CROSS JOIN lags l JOIN dense y ON y.h = x.h + l.lag),
      |m AS (SELECT lag, CAST(COUNT(*) AS DECIMAL(28,2)) AS n,
      |    CAST(SUM(a) AS DECIMAL(28,2)) AS sx, CAST(SUM(b) AS DECIMAL(28,2)) AS sy,
      |    CAST(SUM(a * b) AS DECIMAL(38,4)) AS sxy,
      |    CAST(SUM(a * a) AS DECIMAL(38,4)) AS sxx,
      |    CAST(SUM(b * b) AS DECIMAL(38,4)) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
      |FROM m ORDER BY lag""".stripMargin

  /** CHANGEPOINT DETECTION over the hourly event-rate series — the
    * monitoring primitive behind "when did this metric shift?": for
    * each event_type, find the split hour that maximizes the mean-rate
    * difference between the before and after segments (the offline
    * CUSUM / binary-segmentation scoring step). All arithmetic is
    * EXACT: with prefix sum cum at observed-hour index idx of n, the
    * mean difference is [cum·(n−idx) − (tot−cum)·idx] / (idx·(n−idx)),
    * and the score is emitted as integer ppm of that fraction
    * (`(1e6·|num|) div den` — the `llm_ann_recall` determinism move),
    * so the argmax and the tie-break (earliest hour) are cross-engine
    * stable with no double rounding anywhere. Every windowed SUM is
    * cast off DuckDB's HUGEINT before it reaches the output or the ppm
    * math. Shape at 100 TB: the only data-sized pass is the first
    * groupBy(event_type, hour); every window after runs on the hourly
    * series (≤ hours-per-month rows per type), partitioned by
    * event_type — no unpartitioned window, no second shuffle. */
  val tsChangepoint: Key = Key.sql("ts_changepoint") { t =>
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 3600000000 AS h,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM ${t("events")} GROUP BY 1, 2),
       |s AS (SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS idx,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM hourly),
       |d AS (SELECT event_type, h, cum AS n_before, tot - cum AS n_after,
       |    CAST((1000000 * abs(cum * (n - idx) - (tot - cum) * idx))
       |      ${t.idiv} (idx * (n - idx)) AS BIGINT) AS diff_ppm
       |  FROM s WHERE idx < n)
       |SELECT event_type, split_hour, diff_ppm, n_before, n_after
       |FROM (SELECT event_type, h AS split_hour, diff_ppm, n_before, n_after,
       |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY diff_ppm DESC, h ASC) AS rn
       |      FROM d) WHERE rn = 1
       |ORDER BY event_type""".stripMargin
  }

  /** PER-WINDOW EXACT DISTINCT — "unique users per hour", the metric
    * behind every DAU/HAU dashboard and the canonical expensive
    * windowed aggregate: COUNT(DISTINCT user_id) per tumbling hour,
    * plus the returning-user split (users also active in the PREVIOUS
    * hour — a window self-reference done as one lag-keyed semi-join on
    * the already-aggregated (hour, user) pairs, never on raw events).
    * Shape at 100 TB: one groupBy(hour, user) collapses raw events to
    * the distinct pairs (map-side partial), then per-hour counts and
    * the prev-hour membership join both run on the collapsed set —
    * every shuffle is keyed by (hour[, user]) and the raw table is
    * touched exactly once. Exact distinct per window stays feasible at
    * scale precisely because of that pre-collapse; `agg_approx_hll`
    * and `agg_sketch_merge` are the sketch path when it does not. */
  val tsTumblingDistinct: Key = Key.sql("ts_tumbling_distinct") { t =>
    s"""WITH pairs AS (SELECT DISTINCT
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 3600000000 AS h,
       |    user_id FROM ${t("events")}),
       |ret AS (SELECT p.h, COUNT(*) AS n_returning
       |  FROM pairs p WHERE EXISTS (SELECT 1 FROM pairs q
       |    WHERE q.h = p.h - 1 AND q.user_id = p.user_id)
       |  GROUP BY 1)
       |SELECT p.h,
       |  COUNT(*) AS n_distinct_users,
       |  COALESCE(MAX(r.n_returning), 0) AS n_returning
       |FROM pairs p LEFT JOIN ret r ON p.h = r.h
       |GROUP BY p.h ORDER BY p.h""".stripMargin
  }

  /** FORWARD FILL (LOCF) — the other resampling mode next to
    * `ts_gap_fill`'s zero-fill: each event type's hourly series carries
    * the LAST observed value across empty hours (sensor/price
    * semantics, where absence means "unchanged" not "zero"). The
    * per-hour observation is the value of that hour's final event
    * (argmax by the unique event_id — deterministic in both engines,
    * where a timestamp argmax could tie); the fill is one
    * `last(value, ignoreNulls)` over an unbounded-preceding frame on
    * the dense spine. Hours before a type's first observation stay
    * NULL — LOCF has nothing to carry. Shape at 100 TB: one
    * data-sized groupBy(type, hour), then the window runs on the
    * metadata-sized spine (types × hours), partitioned by type — the
    * same "reduce first, analyze the reduction" shape as
    * `ts_lag_corr`. */
  def tsFillForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val lastPerHour = ev.groupBy("event_type", "h")
      .agg(expr("max_by(value, event_id)").as("v_obs"))
    val bounds = ev.agg(min(col("h")).as("t0"), max(col("h")).as("t1"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(t0, t1)")).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(lastPerHour, Seq("event_type", "h"), "left")
      .withColumn("v_filled", last(col("v_obs"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("v_obs").isNull.cast("int"))
      .select("event_type", "h", "v_filled", "is_gap")
      .orderBy("event_type", "h")
  }

  val tsFillForwardOracle: String =
    """WITH ev AS (SELECT event_type, event_id, value,
      |    DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 3600000000 AS h
      |  FROM events),
      |obs AS (SELECT event_type, h, arg_max(value, event_id) AS v_obs
      |  FROM ev GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS t0, MAX(h) AS t1 FROM ev),
      |t AS (SELECT DISTINCT event_type FROM ev),
      |s AS (SELECT t.event_type, CAST(u.g AS BIGINT) AS h
      |  FROM t, b, UNNEST(range(b.t0, b.t1 + 1)) AS u(g))
      |SELECT s.event_type, s.h,
      |  LAST_VALUE(o.v_obs IGNORE NULLS) OVER (PARTITION BY s.event_type
      |    ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
      |  CAST(o.v_obs IS NULL AS INT) AS is_gap
      |FROM s LEFT JOIN obs o ON s.event_type = o.event_type AND s.h = o.h
      |ORDER BY s.event_type, s.h""".stripMargin

  /** SEASONAL PROFILE — the hour-of-day × day-of-week activity matrix
    * behind every traffic dashboard, in PURE INTEGER epoch arithmetic:
    * `dow = (epoch_days + 4) % 7` (1970-01-01 was a Thursday; 0 =
    * Sunday) and `hod = epoch_hours % 24` — deliberately NOT the
    * engines' dayofweek()/EXTRACT, whose numbering conventions differ
    * (Spark 1=Sunday, DuckDB 0=Sunday) and whose timezone handling
    * can shift a bucket; integer division from the same UTC micros
    * cannot. Share is exact integer parts-per-million. One
    * partial+final aggregate to a 7×24-row result at any scale. */
  val tsSeasonalProfile: Key = Key.sql("ts_seasonal_profile") { t =>
    s"""WITH ev AS (SELECT
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) AS us
       |  FROM ${t("events")})
       |SELECT (us ${t.idiv} 86400000000 + 4) % 7 AS dow,
       |  (us ${t.idiv} 3600000000) % 24 AS hod,
       |  COUNT(*) AS n,
       |  (COUNT(*) * 1000000) ${t.idiv} (SELECT COUNT(*) FROM ev) AS share_ppm
       |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** M4 DOWNSAMPLING (Jugel et al., VLDB 2014) — the error-free
    * visualization reduction: per (series, pixel-bucket) keep exactly
    * min, max, first, last of the value, which is provably sufficient
    * to render the line chart pixel-identically to the full series.
    * First/last are ordered by the unique `event_id` sequence number
    * (deterministic where a ts argmin could tie); every output value
    * is a SELECTED input double — no arithmetic, so cross-engine float
    * parity is exact by construction. Shape at 100 TB: one partial +
    * final aggregate keyed by (series, pixel) — min/max/min_by/max_by
    * all combine map-side, the shuffle carries 4 doubles per pixel,
    * and the output is bounded by series × pixels no matter how many
    * raw points feed it. This is the pre-aggregation a dashboard
    * pushes down instead of shipping raw points to the renderer. */
  def tsDownsampleM4(spark: SparkSession, sfDir: String): DataFrame = {
    events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 14400000000").as("px"))
      .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"),
        expr("min_by(value, event_id)").as("v_first"),
        expr("max_by(value, event_id)").as("v_last"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "px")
  }

  val tsDownsampleM4Oracle: String =
    """SELECT event_type,
      |  DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 14400000000 AS px,
      |  MIN(value) AS v_min, MAX(value) AS v_max,
      |  arg_min(value, event_id) AS v_first, arg_max(value, event_id) AS v_last,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared (event_type, hour, count) collapse — the pre-aggregation
    * every hourly-series operator starts from. ONE definition (Spark +
    * SQL mirror below) so a bucket-width or tie-break change cannot
    * drift between the hourly keys and their oracles that share it
    * (the `edgesSql`/`ivfOracleProlog` pattern); the SQL keys run the
    * mirror itself. */
  private[operators] def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("n"))

  /** SQL mirror of [[hourlyCounts]]; splice as the `hourly` CTE. */
  private[operators] def hourlyCteSql(t: Key.Dialect): String =
    s"""hourly AS (SELECT event_type,
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 3600000000 AS h,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM ${t("events")} GROUP BY 1, 2)""".stripMargin

  /** ALERT DEBOUNCE — the hysteresis every pager pipeline applies
    * between "a metric spiked" and "wake someone up": an hour is HOT
    * when its count exceeds the type's mean hourly rate (exact integer
    * cross-multiplication `n · n_hours > total`, no float mean), and an
    * ALERT EPISODE is ≥ 2 CONSECUTIVE hot hours — single-hour blips
    * never page. Episodes are dense-rank islands (`h − row_number()`)
    * over the hot set, reported with span and peak. The mean is over
    * the type's OBSERVED hours (an absent hour is silence, not a zero
    * vote — `ts_gap_fill` is the densification when zeros are wanted).
    * Shape at 100 TB: the raw table collapses to the (type, hour)
    * series first; the totals join is type-sized (broadcast) and the
    * island window runs on the collapsed series partitioned by type —
    * the `ts_changepoint` shape with episode semantics on top. */
  val tsAlertDebounce: Key = Key.sql("ts_alert_debounce") { t =>
    s"""WITH ${hourlyCteSql(t)},
       |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
       |               CAST(SUM(n) AS BIGINT) AS tn FROM hourly GROUP BY 1),
       |fl AS (SELECT h.event_type, h.h, h.n FROM hourly h JOIN tot t USING (event_type)
       |       WHERE h.n * t.nh > t.tn),
       |g AS (SELECT event_type, h, n,
       |    h - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS grp FROM fl)
       |SELECT event_type, MIN(h) AS start_h, MAX(h) AS end_h,
       |  COUNT(*) AS n_hours, MAX(n) AS peak_n
       |FROM g GROUP BY event_type, grp
       |HAVING COUNT(*) >= 2
       |ORDER BY event_type, start_h""".stripMargin
  }

  /** DAU / WAU / MAU + STICKINESS — the rolling-distinct-actives board
    * every product reports, computed EXACTLY without a range join: a
    * (user, day) activity pair makes the user active for every window
    * ENDING on day..day+6 (resp. +27), so exploding each distinct pair
    * across its window offsets turns the trailing-window distinct into
    * a plain explode → distinct → count chain — the classic trick that
    * converts a range join (BNLJ at scale) into equi-shuffles only.
    * Stickiness = DAU/WAU in exact integer ppm. Days outside the
    * observed spine are dropped (no window ends on a day with no
    * traffic). Shape at 100 TB: the raw table collapses to distinct
    * (user, day) FIRST; the 7×/28× blowup applies to that collapsed
    * set (bounded by users × days), and every shuffle after is keyed
    * by day or (user, day). */
  def tsDauWau(spark: SparkSession, sfDir: String): DataFrame = {
    val du = events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val obs = du.select("day").distinct()
    def rolling(span: Int, out: String): DataFrame = du
      .select(col("user_id"), explode(expr(s"sequence(day, day + ${span - 1})")).as("day"))
      .distinct()
      .join(obs, Seq("day"), "left_semi")
      .groupBy("day").agg(count(lit(1)).as(out))
    du.groupBy("day").agg(count(lit(1)).as("dau"))
      .join(rolling(7, "wau"), Seq("day"))
      .join(rolling(28, "mau"), Seq("day"))
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        expr("(dau * 1000000) div wau").as("stickiness_ppm"))
      .orderBy("day")
  }

  val tsDauWauOracle: String =
    """WITH du AS (SELECT DISTINCT user_id,
      |    DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400000000 AS day
      |  FROM events),
      |obs AS (SELECT DISTINCT day FROM du),
      |wexp AS (SELECT DISTINCT user_id, day + k AS wday FROM du, UNNEST(range(0, 7)) AS u(k)),
      |wau AS (SELECT wday AS day, CAST(COUNT(*) AS BIGINT) AS wau FROM wexp
      |        WHERE wday IN (SELECT day FROM obs) GROUP BY 1),
      |mexp AS (SELECT DISTINCT user_id, day + k AS mday FROM du, UNNEST(range(0, 28)) AS u(k)),
      |mau AS (SELECT mday AS day, CAST(COUNT(*) AS BIGINT) AS mau FROM mexp
      |        WHERE mday IN (SELECT day FROM obs) GROUP BY 1),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY 1)
      |SELECT d.day, d.dau, w.wau, m.mau, (d.dau * 1000000) // w.wau AS stickiness_ppm
      |FROM dau d JOIN wau w ON d.day = w.day JOIN mau m ON d.day = m.day
      |ORDER BY d.day""".stripMargin

  /** ROBUST Z-SCORE (median/MAD) — the outlier score monitoring uses
    * when the mean/std one lies (a single spike inflates σ and hides
    * itself): per event type, score = (n − median) / MAD over the
    * hourly series, entirely in INTEGER SELECTION arithmetic — median
    * and MAD are lower-median picks from sorted collected lists (the
    * `win_sliding_median` move as a grouped aggregate), deviations are
    * integer, and the final ppm division runs on ABSOLUTE values with
    * the sign reapplied, because integer division of negatives is the
    * classic cross-engine trap (Spark `div` truncates toward zero,
    * DuckDB `//` floors — they disagree on every negative quotient).
    * Shape at 100 TB: collapse to the (type, hour) series first; the
    * per-type collected list is series-length (hours), metadata-sized,
    * and both joins are type-keyed broadcasts. */
  def tsRobustZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = hourlyCounts(spark, sfDir)
    def lowerMedian(in: DataFrame, valueCol: String, out: String): DataFrame = in
      .groupBy("event_type")
      .agg(sort_array(collect_list(col(valueCol))).as("arr"))
      .select(col("event_type"),
        element_at(col("arr"), expr("CAST((size(arr) + 1) div 2 AS INT)")).as(out))
    val dev = hourly
      .join(broadcast(lowerMedian(hourly, "n", "med")), Seq("event_type"))
      .withColumn("ad", abs(col("n") - col("med")))
    dev.join(broadcast(lowerMedian(dev, "ad", "mad")), Seq("event_type"))
      .select(col("event_type"), col("h"), col("n"), col("med"), col("mad"),
        expr("""CASE WHEN n >= med THEN ((n - med) * 1000000) div greatest(mad, 1)
               |     ELSE -(((med - n) * 1000000) div greatest(mad, 1)) END""".stripMargin)
          .as("rz_ppm"))
      .orderBy("event_type", "h")
  }

  val tsRobustZscoreOracle: String =
    s"""WITH ${hourlyCteSql(Key.duckdb)},
      |med AS (SELECT event_type, arr[CAST((len(arr)+1)//2 AS INT)] AS med
      |        FROM (SELECT event_type, list_sort(list(n)) AS arr FROM hourly GROUP BY 1)),
      |dev AS (SELECT h.event_type, h.h, h.n, m.med, abs(h.n - m.med) AS ad
      |        FROM hourly h JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, arr[CAST((len(arr)+1)//2 AS INT)] AS mad
      |        FROM (SELECT event_type, list_sort(list(ad)) AS arr FROM dev GROUP BY 1))
      |SELECT d.event_type, d.h, d.n, d.med, ma.mad,
      |  CASE WHEN d.n >= d.med THEN ((d.n - d.med) * 1000000) // GREATEST(ma.mad, 1)
      |       ELSE -(((d.med - d.n) * 1000000) // GREATEST(ma.mad, 1)) END AS rz_ppm
      |FROM dev d JOIN mad ma ON d.event_type = ma.event_type
      |ORDER BY d.event_type, d.h""".stripMargin

  /** PEAK DETECTION — strict local maxima with a height gate: an hour
    * is a peak when its count beats BOTH neighbors (lag/lead on the
    * per-type series; series edges, where a neighbor is absent, are
    * excluded — a boundary point's "peak-ness" is unknowable) AND
    * clears the type's mean rate (the `ts_alert_debounce` exact
    * integer cross-multiply, so a noisy floor does not spray peaks).
    * This is the signal-processing primitive under burst mining and
    * "when were the busiest moments" dashboards, complementary to
    * `ts_anomaly` (global threshold) and `ts_changepoint` (level
    * shift). One collapsed-series window pass, totals broadcast. */
  val tsPeaks: Key = Key.sql("ts_peaks") { t =>
    s"""WITH ${hourlyCteSql(t)},
       |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
       |        CAST(SUM(n) AS BIGINT) AS tn FROM hourly GROUP BY 1),
       |x AS (SELECT h.event_type, h.h, h.n,
       |    LAG(h.n) OVER (PARTITION BY h.event_type ORDER BY h.h) AS pn,
       |    LEAD(h.n) OVER (PARTITION BY h.event_type ORDER BY h.h) AS nn,
       |    t.nh, t.tn
       |  FROM hourly h JOIN tot t USING (event_type))
       |SELECT event_type, h, n FROM x
       |WHERE pn IS NOT NULL AND nn IS NOT NULL AND n > pn AND n > nn AND n * nh > tn
       |ORDER BY event_type, h""".stripMargin
  }

  /** FORECAST BACKTEST — evaluating the seasonal-naive baseline
    * (ŷ(h) = y(h − 168): "same hour last week", the forecast every
    * fancier model must beat) with WAPE in exact integer ppm:
    * Σ|y − ŷ| · 10⁶ div Σy per event type, over the hours where a
    * week-old observation exists (a self-equi-join on h − 168 — the
    * lag is an equi-join key, not a window, so sparse series need no
    * densification). WAPE over MAPE because it is division-safe on
    * zero-actual hours and weighting by volume is what capacity
    * planning wants. Shape at 100 TB: collapse first, then a
    * type+hour-keyed self-join on the collapsed series and one
    * partial+final aggregate to ≤ |types| rows. */
  val tsForecastEval: Key = Key.sql("ts_forecast_eval") { t =>
    s"""WITH ${hourlyCteSql(t)},
       |j AS (SELECT a.event_type, a.h, a.n AS actual, f.n AS forecast
       |      FROM hourly a JOIN hourly f
       |        ON a.event_type = f.event_type AND f.h = a.h - 168)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |  CAST(SUM(actual) AS BIGINT) AS sum_actual,
       |  CAST(SUM(abs(actual - forecast)) AS BIGINT) AS sum_abs_err,
       |  (CAST(SUM(abs(actual - forecast)) AS BIGINT) * 1000000)
       |    ${t.idiv} CAST(SUM(actual) AS BIGINT) AS wape_ppm
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** INTER-ARRIVAL GAPS — the arrival-process profile behind capacity
    * planning and watermark tuning: per event type, the gap series
    * (consecutive event timestamps, tie-broken by event_id so both
    * engines difference the same sequence) summarized as count, LOWER-
    * MEDIAN gap (selection arithmetic — the robust-zscore recipe) and
    * max gap (the longest silence, the number an SLA monitor alarms
    * on). All integer micros. One collapsed window pass per type; the
    * collected gap list is series-length metadata. */
  def tsInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir).select(col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    e.withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("gap"))).as("arr"),
        max(col("gap")).as("max_gap_us"))
      .select(col("event_type"),
        size(col("arr")).cast("long").as("n_gaps"),
        element_at(col("arr"), expr("CAST((size(arr)+1) div 2 AS INT)")).as("med_gap_us"),
        col("max_gap_us"))
      .orderBy("event_type")
  }

  val tsInterarrivalOracle: String =
    """WITH e AS (SELECT event_type,
      |    DATE_DIFF('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS us, event_id
      |  FROM events),
      |g AS (SELECT event_type,
      |    us - LAG(us) OVER (PARTITION BY event_type ORDER BY us, event_id) AS gap FROM e),
      |gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
      |m AS (SELECT event_type, CAST(len(arr) AS BIGINT) AS n_gaps,
      |        arr[CAST((len(arr)+1)//2 AS INT)] AS med_gap_us
      |      FROM (SELECT event_type, list_sort(list(gap)) AS arr FROM gg GROUP BY 1)),
      |x AS (SELECT event_type, CAST(MAX(gap) AS BIGINT) AS max_gap_us FROM gg GROUP BY 1)
      |SELECT m.event_type, m.n_gaps, m.med_gap_us, x.max_gap_us
      |FROM m JOIN x ON m.event_type = x.event_type ORDER BY m.event_type""".stripMargin

  /** EXPONENTIALLY-WEIGHTED MOVING AVERAGE (binary decay) — the
    * monitoring smoother, made exactly reproducible: true EWMA is an
    * infinite recurrence no window frame expresses, but with α = 1/2
    * the weight of the i-th lag is 2^(7−i) and the tail beyond 8 lags
    * is < 0.4% — so the smoother is a FINITE 8-term integer dot
    * product `Σ n_{t−i}·2^(7−i)` normalized by the weights actually
    * present (series heads use fewer lags rather than fabricating
    * zeros). All integer: the result is milli-units via `(1000·num)
    * div den`, so partial-sum order cannot perturb parity — the
    * float-recurrence trap (each engine rounding a running product
    * differently) never opens. Defined on the OBSERVED hourly series
    * ([[hourlyCteSql]] — ONE definition shared with the other
    * hourly operators); `ts_gap_fill` is the densification when
    * missing hours should weigh in as zeros. Shape at 100 TB: the raw
    * events collapse first (keyed shuffle, map-side combinable), the
    * 8 lags are ONE window pass per type partition. */
  val tsEwma: Key = Key.sql("ts_ewma") { t =>
    val num = (Seq("n * 128") ++ (1 to 7).map(i => s"COALESCE(l$i, 0) * ${1L << (7 - i)}"))
      .mkString(" + ")
    val den = (Seq("128") ++ (1 to 7).map(i => s"CASE WHEN l$i IS NOT NULL THEN ${1L << (7 - i)} ELSE 0 END"))
      .mkString(" + ")
    val lags = (1 to 7).map(i =>
      s"LAG(n, $i) OVER (PARTITION BY event_type ORDER BY h) AS l$i").mkString(",\n|    ")
    s"""WITH ${hourlyCteSql(t)},
       |lagged AS (SELECT event_type, h, n,
       |    $lags
       |  FROM hourly)
       |SELECT event_type, h, n, (1000 * ($num)) ${t.idiv} ($den) AS ewma_e3
       |FROM lagged ORDER BY event_type, h""".stripMargin
  }

  /** COHORT VALUE TRIANGLE (LTV curve) — `ts_retention` counts who
    * comes back; this key measures what they are WORTH: purchase value
    * in exact cents per (signup-week cohort × week age), plus buyer
    * counts — the table a growth team reads diagonally for LTV. Weeks
    * are epoch-week integers (`µs div 604800000000`) — deliberately
    * not WEEK()/DATE_TRUNC, whose ISO-week conventions differ between
    * engines (the `ts_seasonal_profile` discipline). Cohort = first
    * event week of ANY type (activity defines the cohort; purchases
    * define the value). Shape at 100 TB: the cohort map is one
    * user-keyed min-aggregate (map-side combinable), the triangle one
    * join + one aggregate keyed on the same user id — two shuffles
    * total, and the output is weeks²-bounded. */
  val tsCohortValue: Key = Key.sql("ts_cohort_value") { t =>
    s"""WITH ev AS (SELECT user_id,
       |    DATE_DIFF(${t.unit("microsecond")}, TIMESTAMP '1970-01-01 00:00:00', ts) ${t.idiv} 604800000000 AS wk,
       |    event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM ${t("events")}),
       |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
       |SELECT cohort_wk, wk - cohort_wk AS week_age,
       |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_buyers,
       |  CAST(SUM(cents) AS BIGINT) AS value_cents
       |FROM ev JOIN f ON ev.user_id = f.user_id
       |WHERE event_type = 'purchase'
       |GROUP BY 1, 2 ORDER BY cohort_wk, week_age""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    tsEwma,
    tsCohortValue,
    Key("ts_interarrival", tsInterarrival, tsInterarrivalOracle),
    tsPeaks,
    tsForecastEval,
    Key("ts_robust_zscore", tsRobustZscore, tsRobustZscoreOracle),
    Key("ts_dau_wau", tsDauWau, tsDauWauOracle),
    tsAlertDebounce,
    Key("ts_downsample_m4", tsDownsampleM4, tsDownsampleM4Oracle),
    tsSeasonalProfile,
    Key("ts_fill_forward", tsFillForward, tsFillForwardOracle),
    tsTumblingDistinct,
    Key("ts_lag_corr", tsLagCorr, tsLagCorrOracle),
    Key("ts_gap_fill", tsGapFill, tsGapFillOracle),
    tsOhlc,
    tsAnomaly,
    tsChangepoint,
    Key("ts_stream_upsert", tsStreamUpsert, tsStreamUpsertOracle),
    tsTumbling,
    // the streaming executions must produce exactly the batch results
    Key("ts_tumbling_stream", tsTumblingStream, tsTumbling.oracle),
    Key("ts_sliding", tsSliding, tsSlidingOracle),
    Key("ts_sliding_stream", tsSlidingStream, tsSlidingOracle),
    Key("ts_sliding_stream_append", tsSlidingStreamAppend, tsSlidingStreamAppendOracle),
    Key("ts_sliding_stream_update", tsSlidingStreamUpdate, tsSlidingStreamUpdateOracle),
    Key("ts_session", tsSession, tsSessionOracle),
    Key("ts_session_stream", tsSessionStream, tsSessionOracle),
    tsDedupWatermark,
    Key("ts_dedup_stream", tsDedupStream, tsDedupWatermark.oracle),
    Key("ts_stateful_stream", tsStatefulStream, tsStatefulStreamOracle),
    // batch-equivalent by construction (see scaladoc)
    Key("ts_timeout_sessions", tsTimeoutSessions, tsSessionOracle),
    Key("ts_stream_join", tsStreamJoin, tsStreamJoinOracle),
    Key("ts_stream_stream_join", tsStreamStreamJoin, tsStreamStreamJoinOracle),
    Key("ts_stream_outer_join", tsStreamOuterJoin, tsStreamOuterJoinOracle),
    Key("ts_stream_append_window", tsStreamAppendWindow, tsTumbling.oracle),
    tsFunnel,
    tsRetention,
    tsTransitions,
    tsLateData)

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
