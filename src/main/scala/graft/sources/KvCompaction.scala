package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** MAJOR COMPACTION for a graft-kv store — the HBase compaction analog
  * (SURVEY.md §2.A: the reference's store accumulates one immutable file
  * set per flush/ingest; HBase periodically rewrites them into fewer
  * sorted files). The operational driver at 100 TB is the SMALL-FILES
  * problem: a streaming ingest commits a file set per micro-batch, so a
  * day of 1-minute triggers leaves ~1440 file sets whose per-file open/
  * plan cost dominates scans and whose overlapping rowkey ranges defeat
  * the min/max file pruning. Compaction restores both properties.
  *
  * Shape: one distributed pass —
  *   read store → `repartitionByRange(target, rowkey, qualifier)` →
  *   `sortWithinPartitions` → graft-kv write (two-phase task commit,
  *   write-time stats) — into a scratch dir, then a directory swap
  *   ([[KvFiles.install]]). Range partitioning makes the output files
  *   NON-OVERLAPPING in rowkey order, so post-compaction the stats
  *   index prunes range scans to the single covering file (the HBase
  *   region/HFile layout, recovered). Sorting costs one shuffle — the
  *   price of re-establishing scan order, same as HBase's merge-sort
  *   compaction.
  *
  * Crash safety: the rewrite lands in the sibling `.tmp-<store>.new`
  * under the connector's own two-phase commit; the live dir is only
  * touched by [[KvFiles.install]]'s final swap through the sibling
  * `.tmp-<store>.old`, which never leaves the live path empty; a
  * process crash between its two moves is undone by the next compact
  * ([[KvFiles.recover]]). At cluster scale the swap becomes a manifest
  * pointer flip (HBase's file-tracker move) — the rewrite job is
  * identical.
  *
  * NOT concurrency-safe vs writers: like HBase, compaction assumes it
  * owns the store for the swap instant (readers mid-scan hold open file
  * handles and finish on the old bytes under POSIX rename semantics).
  */
object KvCompaction {

  /** Reserved cell value that marks a DELETE of its whole (rowkey,
    * qualifier) coordinate — the HBase delete-marker analog for a store
    * whose cells are plain (row, qualifier, value) triples. HBase
    * reserves a cell-type bit for markers; graft-kv reserves this value
    * (writers must not use it as data). A marker masks every data cell
    * at its coordinate on a masked read, and a major compaction run
    * with `purgeTombstones = true` drops both the masked cells and the
    * markers themselves — exactly HBase's "deletes survive minor
    * compactions, die at major compaction" contract. */
  val Tombstone = "__TOMBSTONE__"

  /** Result of one compaction: file counts before/after, the cell total
    * carried through, and the cells intentionally garbage-collected by
    * the retention/tombstone policy (0 for a plain compaction, whose
    * rewrite must be lossless). */
  final case class CompactStats(
      filesBefore: Int, filesAfter: Int, cells: Long, dropped: Long = 0L)

  /** Versioned-qualifier convention (shared with the `kv_versioned_read`
    * key): `base@NN` with a zero-padded version so lexicographic
    * qualifier order IS version order. Cells whose qualifier does not
    * match are unversioned and never subject to version GC. */
  private val VersionedQualifier = "^(.*)@([0-9]{2})$"

  /** MAJOR COMPACTION, optionally with HBase-style garbage collection:
    *
    *  - `retainVersions = Some(k)` keeps only the newest k versions of
    *    each (rowkey, qualifier-base) coordinate (HBase's VERSIONS=k,
    *    enforced — as in HBase — at major compaction, not at write);
    *  - `purgeTombstones = true` drops every cell at a coordinate
    *    holding a [[Tombstone]] marker, marker included;
    *  - `keepIf = Some(pred)` keeps only cells satisfying the predicate
    *    (a Column over rowkey/qualifier/value) — the hook HBase's
    *    time-to-live occupies: TTL is just `cell age <= ttl` evaluated
    *    where HBase evaluates it, inside the major-compaction rewrite.
    *    The predicate must be deterministic (it is evaluated once for
    *    the survivor count and once in the rewrite).
    *
    * GC is expressed here as a filter/window pass BEFORE the range
    * shuffle for clarity; at 100 TB it collapses into the compaction's
    * own merge-sort (versions of a coordinate are adjacent in the
    * (rowkey, qualifier) sort order, so retention is a streaming
    * per-partition pass), costing one extra shuffle at most. The
    * lossless-rewrite guard generalizes: the rewrite must produce
    * EXACTLY the survivor count the policy predicts — a GC'd compaction
    * is "lossless modulo the declared policy", never silently lossy. */
  def compact(spark: SparkSession, storeRaw: String, targetFiles: Int,
      retainVersions: Option[Int] = None,
      purgeTombstones: Boolean = false,
      keepIf: Option[org.apache.spark.sql.Column] = None): CompactStats = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    retainVersions.foreach(k =>
      require(k >= 1, s"retainVersions must be >= 1, got $k"))
    // normalize: a trailing slash OR "/." segment would make the
    // install's temp sibling a CHILD of the live store and the final
    // swap a move-into-self
    val live = Paths.get(storeRaw).normalize
    val store = live.toString
    KvFiles.recover(live) // a crash between install's moves left live aside
    val before = KvFormat.dataFiles(store)
    require(before.nonEmpty, s"graft-kv compact: no data files under $store")
    // lossless-rewrite guard: cell count from the stats index when it
    // covers every file (O(files) metadata), else one counting scan
    // (e.g. hand-written fixture files without committed stats)
    val meta = KvMeta.read(store)
    val names = before.map(_.getFileName.toString)
    val cellsBefore =
      if (names.forall(meta.contains)) names.map(meta(_).cells).sum
      else spark.read.format("graft-kv").load(store).count()

    val raw = spark.read.format("graft-kv").load(store)
    val unmasked =
      if (!purgeTombstones) raw
      else {
        // a marker masks its whole coordinate: one left-anti join on the
        // (tiny by construction) distinct marker coordinates
        val markers = raw.filter(col("value") === Tombstone)
          .select("rowkey", "qualifier").distinct()
        raw.join(markers, Seq("rowkey", "qualifier"), "left_anti")
      }
    val retained = keepIf match {
      case None => unmasked
      case Some(pred) => unmasked.filter(pred)
    }
    val survivors = retainVersions match {
      case None => retained
      case Some(k) =>
        import org.apache.spark.sql.expressions.Window
        // unversioned qualifiers get base = qualifier, version = 0: each
        // such coordinate holds one cell, so its rank is always 1 <= k
        val versioned = col("qualifier").rlike(VersionedQualifier)
        val w = Window.partitionBy(col("rowkey"), col("gc_base"))
          .orderBy(col("gc_version").desc, col("qualifier").desc)
        retained
          .withColumn("gc_base", when(versioned,
            regexp_extract(col("qualifier"), VersionedQualifier, 1))
            .otherwise(col("qualifier")))
          .withColumn("gc_version", when(versioned,
            regexp_extract(col("qualifier"), VersionedQualifier, 2).cast("int"))
            .otherwise(lit(0)))
          .withColumn("gc_rank", row_number().over(w))
          .filter(col("gc_rank") <= k)
          .select("rowkey", "qualifier", "value")
    }
    // the policy's predicted survivor count — a plain compaction
    // predicts cellsBefore for free. A GC'd compaction MATERIALIZES the
    // survivor frame once (r19, guide §1.2/§5): the count guard and the
    // rewrite below otherwise each execute the full scan + GC window —
    // the two heaviest stages of the kv_compact_versions profile, paid
    // twice. The survivor set is exactly what the rewrite writes, so
    // the checkpoint is store-survivor-sized; at 100 TB the guard count
    // would come from write-task accumulators inside the one rewrite
    // pass instead (the same "GC collapses into the compaction's own
    // merge-sort" posture documented above).
    val survivorsM =
      if (retainVersions.isEmpty && !purgeTombstones && keepIf.isEmpty) survivors
      else survivors.localCheckpoint()
    val expected =
      if (retainVersions.isEmpty && !purgeTombstones && keepIf.isEmpty) cellsBefore
      else survivorsM.count()

    // a fired guard fails the fill, so install reclaims the store-sized
    // scratch tree and never touches the live dir
    val cellsAfter = KvFiles.install(live) { tmp =>
      survivorsM
        .repartitionByRange(targetFiles, col("rowkey"), col("qualifier"))
        .sortWithinPartitions("rowkey", "qualifier")
        .write.format("graft-kv").option("path", tmp.toString).mode("append").save()
      val n = KvMeta.read(tmp.toString).values.map(_.cells).sum
      if (n != expected) throw new IllegalArgumentException(
        s"compaction lost cells: $expected expected, $n after")
      n
    }
    CompactStats(before.size, KvFormat.dataFiles(store).size, cellsAfter,
      dropped = cellsBefore - expected)
  }

  /** MINOR COMPACTION — HBase's other compaction kind: merge only the
    * `mergeSmallest` smallest data files into one sorted file and leave
    * every other file (and the rest of the store) physically untouched.
    * NO garbage collection is permitted here BY CONTRACT: tombstone
    * markers and old versions survive minor compactions and die only at
    * the next MAJOR compaction (HBase's "deletes survive minor
    * compactions") — a minor pass that purged markers could resurrect
    * masked cells still sitting in the files it did NOT read. The point
    * at 100 TB is cost: the small-files problem is concentrated in the
    * flush tail (a day of micro-batch commits), and a minor pass pays
    * IO proportional to the SMALL files only, not a full-store rewrite.
    *
    * Shape: victims = smallest files by the stats index's byte counts
    * (file size fallback for index-less fixtures); ONLY those files are
    * read (plain TSV lines — the writer guarantees tab/newline-free
    * fields), merged through one range-partitioned sort, and written
    * back into the live dir under the connector's own two-phase task
    * commit; then the victims are deleted and their index entries
    * pruned. A lossless guard (merged cells == victim cells) runs
    * BEFORE any victim is deleted — on mismatch the merged file is
    * removed and the store is exactly as before. Crash window: after
    * the merged file commits but before the last victim unlink, a
    * reader sees duplicate cells (HBase closes this with an atomic
    * file-tracker swap; the single-dir layout documents it instead).
    * Not concurrency-safe vs writers, same as [[compact]]. */
  def minorCompact(spark: SparkSession, storeRaw: String,
      mergeSmallest: Int): CompactStats = {
    val store = Paths.get(storeRaw).normalize.toString
    val before = KvFormat.dataFiles(store)
    require(mergeSmallest >= 2, s"mergeSmallest must be >= 2, got $mergeSmallest")
    require(before.size >= mergeSmallest,
      s"graft-kv minor compact: ${before.size} files < $mergeSmallest under $store")
    val meta = KvMeta.read(store)
    val victims = before
      .map(p => p -> meta.get(p.getFileName.toString).map(_.bytes)
        .getOrElse(Files.size(p)))
      .sortBy { case (p, sz) => (sz, p.toString) }
      .take(mergeSmallest).map(_._1)
    val victimNames = victims.map(_.getFileName.toString).toSet
    val cellsBefore =
      if (victimNames.forall(meta.contains)) victimNames.toSeq.map(meta(_).cells).sum
      else {
        import spark.implicits._
        spark.read.textFile(victims.map(_.toString): _*).count()
      }

    import spark.implicits._
    spark.read.textFile(victims.map(_.toString): _*)
      .map { l =>
        val a = l.split(KvFormat.SEP, 3)
        require(a.length == 3, s"graft-kv minor compact: malformed cell line '$l'")
        (a(0).toLong, a(1), a(2))
      }
      .toDF("rowkey", "qualifier", "value")
      .repartitionByRange(1, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", store).mode("append").save()

    val merged = KvFormat.dataFiles(store)
      .filterNot(f => before.contains(f))
    val postMeta = KvMeta.read(store)
    val mergedCells = merged.flatMap(f => postMeta.get(f.getFileName.toString))
      .map(_.cells).sum
    if (mergedCells != cellsBefore) {
      merged.foreach(Files.deleteIfExists(_))
      KvMeta.append(store, Seq.empty) // prune the dead entries
      throw new IllegalArgumentException(
        s"minor compaction lost cells: $cellsBefore expected, $mergedCells merged")
    }
    victims.foreach(Files.delete(_))
    KvMeta.append(store, Seq.empty) // prune the victims' index entries
    // postMeta still counts the victims (deleted just above) alongside
    // the merged file, so the live total is its sum minus the victims
    CompactStats(before.size, KvFormat.dataFiles(store).size,
      postMeta.values.map(_.cells).sum - cellsBefore)
  }

  /** Result of one bulk load: staged files adopted and cells carried. */
  final case class BulkLoadStats(filesLoaded: Int, cells: Long)

  /** BULK LOAD (HBase completebulkload): adopt pre-sorted, REGION-ALIGNED
    * staged files into a live store by FILE MOVE — the ingest path that
    * bypasses the write path entirely. The staging job (a Spark write
    * elsewhere: `repartitionByRange(n, rowkey)` + `sortWithinPartitions`
    * through the graft-kv writer) already produced exactly what a store
    * file must be — sorted, stats-indexed, rowkey-disjoint — so loading
    * is O(files) metadata work regardless of data volume: at 100 TB the
    * cluster writes the files once and the "load" is a rename per file
    * plus one index merge, the whole reason HBase bulk ingest exists.
    *
    * Preconditions enforced (load refuses, store untouched):
    * every staged file has a committed stats entry (the load trusts the
    * index for cell counts — an index-less file would load blind), and
    * staged files are PAIRWISE DISJOINT in rowkey (region alignment; the
    * range partitioner guarantees it, a hand-built staging dir may not).
    *
    * Crash window: some files adopted, index not yet merged — reads are
    * directory-listing-based so every adopted cell is already visible
    * and correct; the affected files merely lack stats (pruning and
    * stats pushdown degrade, correctness does not) until a re-run or
    * the next compaction rebuilds their entries. Adopted names carry a
    * fresh tag so a staged name can never collide with a live file. */
  def bulkLoad(stagingRaw: String, storeRaw: String): BulkLoadStats = {
    val staging = Paths.get(stagingRaw).normalize.toString
    val store = Paths.get(storeRaw).normalize.toString
    require(staging != store, s"bulk load: staging dir IS the store: $store")
    val files = KvFormat.dataFiles(staging)
    require(files.nonEmpty, s"bulk load: no staged data files under $staging")
    val meta = KvMeta.read(staging)
    val names = files.map(_.getFileName.toString)
    require(names.forall(meta.contains),
      s"bulk load: staged file without a committed stats entry under $staging")
    val byRange = names.map(meta(_)).sortBy(m => (m.minKey, m.maxKey))
    byRange.sliding(2).foreach {
      case Seq(a, b) => require(a.maxKey < b.minKey,
        s"bulk load: staged files overlap in rowkey: ${a.file}[${a.minKey},${a.maxKey}] vs ${b.file}[${b.minKey},${b.maxKey}]")
      case _ => ()
    }
    val adopted = byRange.zip(
      KvFiles.adopt(byRange.map(m => Paths.get(staging, m.file)), Paths.get(store), "bulk"))
      .map { case (m, n) => m.copy(file = n) }
    KvMeta.append(store, adopted)
    BulkLoadStats(adopted.size, adopted.map(_.cells).sum)
  }

  /** Result of one region merge: files adopted from each parent and the
    * cell total carried through (all counts from the stats index — the
    * merge itself reads zero data bytes). */
  final case class MergeStats(filesA: Int, filesB: Int, cells: Long)

  /** REGION MERGE — the inverse of a region split, done the way HBase's
    * `merge_region` does it: a pure METADATA operation. Two ADJACENT
    * regions (every rowkey in A strictly below every rowkey in B,
    * proven from the stats index alone) merge by ADOPTING both parents'
    * data files into one store dir via rename — O(files) driver
    * metadata, zero data bytes read or rewritten, regardless of region
    * size. Files WITHIN a parent may overlap each other in rowkey
    * (normal multi-flush state; the next major compaction re-sorts) —
    * only the region-level ranges must be disjoint, exactly HBase's
    * adjacency precondition.
    *
    * Refusal (both parents and the dest untouched): a parent with no
    * data files, a data file without a committed stats entry (adjacency
    * would be unprovable without reading data), overlapping region
    * ranges, or a dest that already holds data files.
    *
    * Crash window: some files adopted, parents not yet retired — reads
    * of the merged dir are directory-listing-based so adopted cells are
    * visible and correct; a re-run refuses (dest non-empty) and the
    * un-moved remainder stays readable in its parent, so no cell is
    * ever unreachable. Parents are retired (deleted) only after the
    * merged index commits — HBase's catalog-janitor step. */
  def mergeRegions(aRaw: String, bRaw: String, mergedRaw: String): MergeStats = {
    val a = Paths.get(aRaw).normalize.toString
    val b = Paths.get(bRaw).normalize.toString
    val merged = Paths.get(mergedRaw).normalize.toString
    require(a != b && a != merged && b != merged,
      s"region merge: parents and dest must be three distinct dirs")
    val (filesA, filesB) = (KvFormat.dataFiles(a), KvFormat.dataFiles(b))
    require(filesA.nonEmpty && filesB.nonEmpty,
      s"region merge: a parent region has no data files ($a: ${filesA.size}, $b: ${filesB.size})")
    val (metaA, metaB) = (KvMeta.read(a), KvMeta.read(b))
    // stats for LIVE files only — a stale index entry for a deleted
    // file must not widen a region's proven range
    def liveStats(files: Seq[java.nio.file.Path],
        meta: Map[String, KvFileMeta], dir: String): Seq[KvFileMeta] =
      files.map { f =>
        val n = f.getFileName.toString
        require(meta.contains(n),
          s"region merge: $dir/$n has no committed stats entry — adjacency unprovable")
        meta(n)
      }
    val (statsA, statsB) = (liveStats(filesA, metaA, a), liveStats(filesB, metaB, b))
    val (maxA, minB) = (statsA.map(_.maxKey).max, statsB.map(_.minKey).min)
    require(maxA < minB,
      s"region merge: regions are not adjacent (A max rowkey $maxA >= B min rowkey $minB)")
    require(KvFormat.dataFiles(merged).isEmpty,
      s"region merge: dest already holds data files: $merged")
    val parents = statsA.map(a -> _) ++ statsB.map(b -> _)
    val adopted = parents.zip(KvFiles.adopt(
      parents.map { case (d, m) => Paths.get(d, m.file) }, Paths.get(merged), "merge"))
      .map { case ((_, m), n) => m.copy(file = n) }
    KvMeta.append(merged, adopted)
    // retire the emptied parents (data already safely adopted)
    graft.util.Scratch.deleteTree(a)
    graft.util.Scratch.deleteTree(b)
    MergeStats(statsA.size, statsB.size, adopted.map(_.cells).sum)
  }
}
