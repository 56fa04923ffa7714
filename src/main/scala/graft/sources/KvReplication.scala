package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CONTINUOUS WAL SHIPPING to a replica store (r12) — the HBase
  * inter-cluster replication story (SURVEY.md §2.A's reconstructed
  * replication surface) composed from the pieces the snapshot
  * subsystem already grades: a primary's append-only edit log ships to
  * a replica QUEUE in bounded, seq-ordered batches behind a durable
  * replication OFFSET, the replica applies the queue with
  * last-write-wins semantics (deletes suppress cells), and a
  * VerifyReplication-style checksum report proves convergence without
  * moving either side's data to one place.
  *
  * Failure model (the part that makes replication trustworthy):
  *  - ship() publishes each batch's data FIRST and only then commits
  *    the offset ([[KvFiles.publish]]) — a kill in the window
  *    between the two leaves a published-but-uncommitted batch that
  *    the next ship() simply overwrites (batch contents are a pure,
  *    deterministic function of the WAL and the recorded split
  *    geometry), so resume never loses or double-counts an edit;
  *  - the split geometry (batch count + seq range) is PERSISTED in the
  *    offset ledger and re-checked on resume — resuming with a
  *    different --batches or a mutated WAL fails loudly instead of
  *    silently mis-splitting;
  *  - apply() is idempotent AGAINST THE SAME STORE (r12 advice): a
  *    per-(queue, store) applied-offset ledger makes the steady-state
  *    re-apply a no-op, and a behind-the-queue replica is rebuilt from
  *    the committed batches (per-coordinate winners by seq) into a
  *    staging dir and swapped in by one index commit
  *    ([[KvCompaction.replaceStaged]]) — a kill before that commit
  *    leaves the previous replica live — so applying the same queue
  *    twice, or re-applying after new batches commit, always converges
  *    to exactly full-log replay with zero duplicate cells.
  *
  * 100 TB posture: a batch ships as one bounded filter+write of the
  * log tail (a production tailer reads only new WAL segments — the
  * seq-range filter models that boundary); apply is ONE cell-keyed
  * shuffle over the shipped edits regardless of batch count; the
  * verify report aggregates per qualifier on each side independently
  * and joins k rows, never co-locating the two stores' cells. */
object KvReplication {

  final case class ShipStats(shipped: Int, skipped: Int, batches: Int)

  private def queueDir(replRoot: String, i: Int): Path =
    Paths.get(replRoot, "queue", f"batch_$i%05d")
  private def offsetFile(replRoot: String): Path = Paths.get(replRoot, "OFFSET")

  /** Ledger line: `v1 <lastCommitted> <batches> <minSeq> <width>`. */
  private final case class Ledger(last: Int, batches: Int, minSeq: Long, width: Long)

  private def readLedger(replRoot: String): Option[Ledger] = {
    val p = offsetFile(replRoot)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split(" ") match {
      case Array("v1", l, b, m, w) => Some(Ledger(l.toInt, b.toInt, m.toLong, w.toLong))
      case other => sys.error(s"corrupt replication offset ledger: ${other.mkString(" ")}")
    }
  }

  private def commitLedger(replRoot: String, lg: Ledger): Unit =
    KvFiles.publish(offsetFile(replRoot), s"v1 ${lg.last} ${lg.batches} ${lg.minSeq} ${lg.width}\n")

  /** Ship the WAL (columns rowkey, qualifier, seq, op, value) into
    * `replRoot`'s queue as `batches` seq-range batches, resuming after
    * the recorded offset. Returns how many batches this call shipped
    * vs skipped (already committed by a previous call). */
  def ship(spark: SparkSession, wal: DataFrame, replRoot: String,
      batches: Int): ShipStats = {
    require(batches > 0, s"batches must be positive, got $batches")
    val required = Seq("rowkey", "qualifier", "seq", "op", "value")
    require(required.forall(wal.columns.contains),
      s"WAL must carry ${required.mkString(", ")}; got ${wal.columns.mkString(", ")}")
    // split geometry from the data, once (two tiny driver values)
    val Array(b) = wal.agg(min(col("seq")).cast("long"), max(col("seq")).cast("long"))
      .collect()
    require(!b.isNullAt(0), "WAL is empty — nothing to ship")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    // EXACT integral geometry (ADVICE r12): hi - lo and the per-edit
    // batch id below both stay in pure 64-bit integer arithmetic — a
    // double intermediate rounds above 2^53 and can push an edit into
    // batch index == batches, which the `from until batches` ship loop
    // would then silently drop. A WAL whose seq range itself exceeds
    // what a signed long can span fails loudly instead of wrapping.
    require(BigInt(hi) - BigInt(lo) < BigInt(Long.MaxValue),
      s"WAL seq range [$lo, $hi] spans >= 2^63-1 — re-sequence or split the log before shipping")
    val width = math.max(1L, (hi - lo) / batches + 1)
    val prior = readLedger(replRoot)
    prior.foreach { lg =>
      require(lg.batches == batches && lg.minSeq == lo && lg.width == width,
        s"resume geometry mismatch: ledger has (batches=${lg.batches}, minSeq=${lg.minSeq}, " +
          s"width=${lg.width}) but this WAL/batch-count derives ($batches, $lo, $width) — " +
          "refusing to mis-split the queue")
    }
    val from = prior.map(_.last).getOrElse(-1) + 1
    // Integral floor division (DIV), never `/`: seq - lo is in
    // [0, 2^63) by the require above, width >= 1, and with exact
    // integer math the id is PROVABLY in [0, batches): writing
    // D = hi - lo = q*batches + r (0 <= r < batches) gives
    // width = q + 1, and D DIV (q+1) = (q*batches + r) / (q+1)
    // <= (batches*(q+1) - 1) / (q+1) < batches. The raise_error arm
    // turns any violation of that proof (e.g. a future edit to the
    // geometry) into a loud failure instead of a silently unshipped
    // edit.
    // Range-check the LONG quotient FIRST and cast to INT only inside
    // the validated arm (ADVICE r13): checking after the cast would let
    // a proof-violating quotient >= 2^31 wrap at the cast under
    // non-ANSI mode and land back inside [0, batches), silently
    // misrouting the edit past the very guard the clamp provides.
    val rawBatchL = expr(s"(seq - ${lo}L) DIV ${width}L")
    val tagged = wal.select(required.map(col): _*)
      .withColumn("batch",
        when(rawBatchL >= 0L && rawBatchL < lit(batches.toLong), rawBatchL.cast("int"))
          .otherwise(raise_error(concat(
            lit(s"replication batch id out of [0, $batches) for seq="),
            col("seq").cast("string")))))
    for (i <- from until batches) {
      tagged.filter(col("batch") === i).drop("batch")
        .write.mode("overwrite").parquet(queueDir(replRoot, i).toString)
      commitLedger(replRoot, Ledger(i, batches, lo, width))
    }
    ShipStats(shipped = batches - from, skipped = from, batches = batches)
  }

  /** Per-(queue, replica-store) applied-offset ledger: `v1 <batch>
    * <storePath>`. Named by a digest of the normalized store path so
    * two replicas fed from one queue never share a ledger; the plain
    * path rides inside the file for debuggability. */
  private def appliedFile(replRoot: String, storePath: String): Path = {
    val norm = Paths.get(storePath).toAbsolutePath.normalize.toString
    Paths.get(replRoot, "applied",
      KvFiles.md5Hex(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def readApplied(replRoot: String, storePath: String): Option[Int] = {
    val p = appliedFile(replRoot, storePath)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split(" ", 3) match {
      case Array("v1", last, _) => Some(last.toInt)
      case other => sys.error(s"corrupt applied ledger at $p: ${other.mkString(" ")}")
    }
  }

  private def commitApplied(replRoot: String, storePath: String, last: Int): Unit =
    KvFiles.publish(appliedFile(replRoot, storePath),
      s"v1 $last ${Paths.get(storePath).toAbsolutePath.normalize}\n")

  /** Apply every COMMITTED batch (index ≤ offset) onto the replica
    * store at `storePath`, IDEMPOTENTLY (ADVICE r12): graft-kv stores
    * do not forbid duplicate cells, so the old unconditional
    * append-mode flush duplicated every previously applied cell on
    * re-apply — the documented continuous steady state. Now an
    * applied-offset ledger (per queue × store) records how far this
    * replica has consumed the queue:
    *
    *  - ledger == committed offset → steady-state NO-OP (the common
    *    continuous-replication heartbeat costs one count, no write);
    *  - ledger behind → the replica state is REBUILT from the full
    *    committed queue (one cell-keyed last-write-wins shuffle —
    *    deletes suppress, so a newly shipped delete genuinely removes
    *    a previously applied cell) into a staging dir that one index
    *    commit swaps in, then the ledger commits. The queue —
    *    not the replica — is the source of truth, so a kill in any
    *    window (after the index commit, before ledger) just rebuilds
    *    again: the rebuild is a pure function of the committed queue;
    *  - no ledger AND the store's index names data files → refuse
    *    loudly: this store is not owned by this replication queue and
    *    a rebuild would clobber it;
    *  - no ledger AND the store is empty (first apply) → ADOPT it by
    *    committing a provisional ledger (batch -1) before rebuilding,
    *    so the kill-in-any-window guarantee holds on the very first
    *    apply too: a kill after the index commit but before the final ledger
    *    commit leaves a "behind" ledger, not a foreign-looking store.
    *
    * Replay-from-queue is the snapshot-restore posture this utility
    * grades throughout; a production incremental would instead flush
    * VERSIONED cells and lean on compaction to retire superseded ones
    * (exactly the `kv_compact_*` surface). Returns the replica's cell
    * count. */
  def applyShipped(spark: SparkSession, replRoot: String, storePath: String): Long = {
    val lg = readLedger(replRoot)
      .getOrElse(sys.error(s"no committed replication offset under $replRoot"))
    def storeCount(): Long =
      spark.read.format("graft-kv").load(storePath).count()
    readApplied(replRoot, storePath) match {
      case Some(a) if a == lg.last => return storeCount() // already converged
      case Some(a) if a > lg.last =>
        sys.error(s"applied ledger ($a) is ahead of the committed queue (${lg.last}) " +
          s"under $replRoot — the queue was truncated or the ledger is foreign")
      case Some(_) => () // behind: rebuild below
      case None =>
        require(KvMeta.read(storePath).isEmpty,
          s"refusing to rebuild $storePath: it already holds data files but has no " +
            s"applied ledger under $replRoot — not a replica of this queue")
        // FIRST-APPLY KILL SAFETY (ADVICE r13): commit a provisional
        // ledger (batch -1 = "adopted, nothing applied") BEFORE any
        // rebuild work. Without it, a kill between the index commit
        // below and commitApplied leaves the store holding data with no
        // ledger, and the retry's foreign-store refusal above would
        // permanently reject a legitimate replica. With the provisional
        // ledger, every later kill window lands in the Some(behind)
        // arm and simply rebuilds again.
        commitApplied(replRoot, storePath, -1)
    }
    val dirs = (0 to lg.last).map(queueDir(replRoot, _).toString)
    val edits = spark.read.parquet(dirs: _*)
    val coordW = Window.partitionBy("rowkey", "qualifier").orderBy(col("seq").desc)
    val state = edits
      .withColumn("rn", row_number().over(coordW))
      .filter(col("rn") === 1 && col("op") === "put")
      .select("rowkey", "qualifier", "value")
    KvCompaction.replaceStaged(Paths.get(storePath).toAbsolutePath.normalize, drop = None) {
      staging => state.write.format("graft-kv").option("path", staging).mode("append").save()
    }(_ => ())
    commitApplied(replRoot, storePath, lg.last)
    storeCount()
  }

  /** VerifyReplication: per-qualifier cell counts and order-insensitive
    * content checksums on each side, joined into a convergence report.
    * Neither side's cells move to the other — each aggregates locally
    * and only k summary rows meet. */
  def verify(primary: DataFrame, replica: DataFrame): DataFrame = {
    def summarize(df: DataFrame, side: String): DataFrame =
      df.groupBy("qualifier").agg(
        count(lit(1)).as(s"${side}_cells"),
        sum(expr("CAST(conv(substr(md5(concat_ws('|', rowkey, qualifier, value)), 1, 7), 16, 10) AS BIGINT)"))
          .as(s"${side}_sum"))
    summarize(primary, "primary")
      .join(summarize(replica, "replica"), Seq("qualifier"), "full_outer")
      .withColumn("converged",
        col("primary_cells") <=> col("replica_cells") &&
          col("primary_sum") <=> col("replica_sum"))
      .orderBy("qualifier")
  }
}
