package graft.sources

import java.nio.file.{Files, Path, Paths}

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
  *   `sortWithinPartitions` → graft-kv write (write-time stats) —
  *   into a staging dir, then one index commit ([[replaceStaged]]).
  *   Range partitioning makes the output files
  *   NON-OVERLAPPING in rowkey order, so post-compaction the stats
  *   index prunes range scans to the single covering file (the HBase
  *   region/HFile layout, recovered). Sorting costs one shuffle — the
  *   price of re-establishing scan order, same as HBase's merge-sort
  *   compaction.
  *
  * Crash safety: the rewrite lands in the sibling `.tmp-<store>.new`;
  * its files are linked into the live dir, where they stay invisible,
  * and one publish of the store's `.file_meta.tsv` swaps the new file
  * set in and the old one out — HBase's file-tracker move, and the only
  * atomic step an object store offers. A kill at any point leaves
  * readers on the old file set or the new one; its unindexed leftovers
  * are swept by the next major compaction.
  *
  * NOT concurrency-safe vs writers: like HBase, compaction assumes it
  * owns the store for the commit instant (readers mid-scan hold open
  * file handles and finish on the old bytes under POSIX unlink
  * semantics).
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
    // staging sibling a CHILD of the live store
    val live = Paths.get(storeRaw).normalize
    val store = live.toString
    val before = KvMeta.files(store)
    require(before.nonEmpty, s"graft-kv compact: no data files under $store")
    // lossless-rewrite guard: cell count from the stats index (O(files)
    // metadata)
    val cellsBefore = before.map(_.cells).sum

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

    // a fired guard leaves the live dir untouched; the store-sized
    // staging tree is deleted either way
    val after = replaceStaged(live, drop = None) { staging =>
      survivorsM
        .repartitionByRange(targetFiles, col("rowkey"), col("qualifier"))
        .sortWithinPartitions("rowkey", "qualifier")
        .write.format("graft-kv").option("path", staging).mode("append").save()
    } { staged =>
      val n = staged.map(_.cells).sum
      if (n != expected) throw new IllegalArgumentException(
        s"compaction lost cells: $expected expected, $n after")
    }
    CompactStats(before.size, after.size, after.map(_.cells).sum,
      dropped = cellsBefore - expected)
  }

  /** The one staged-replace path (major and minor compaction,
    * replication apply), five steps: `fill` writes the new files through
    * the connector into the fixed sibling `.tmp-<store>.new`; `check`
    * sees that staging dir's index before anything reaches the store;
    * the staged files are linked into `live`, where they stay invisible;
    * one [[KvMeta.commit]] adds them and drops `drop`; the staging dir is
    * deleted, also after an in-process failure (a killed process leaves
    * it to the next run's start). `drop = None` drops every other `.kv`
    * in the dir — the sweep of unindexed leftovers, for callers that own
    * the whole store. Returns the added entries. */
  private[sources] def replaceStaged(live: Path, drop: Option[Set[String]])(
      fill: String => Unit)(check: Seq[KvFileMeta] => Unit): Seq[KvFileMeta] = {
    val staging = KvFiles.staging(live)
    graft.util.Scratch.deleteTree(staging.toString)
    try {
      fill(staging.toString)
      val added = KvMeta.files(staging.toString)
      check(added)
      Files.createDirectories(live)
      added.foreach(m => KvFiles.share(live.resolve(m.file), staging.resolve(m.file)))
      val names = added.map(_.file).toSet
      KvMeta.commit(live.toString, added, drop.getOrElse(
        KvFormat.dataFiles(live.toString).map(_.getFileName.toString).toSet -- names))
      added
    } finally graft.util.Scratch.deleteTree(staging.toString)
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
    * Shape: victims = smallest files by the stats index's byte counts;
    * ONLY those files are read (plain TSV lines — the writer guarantees
    * tab/newline-free fields), merged through one range-partitioned
    * sort, and written to staging; one index commit then swaps the
    * merged file in and the victims out ([[replaceStaged]]), so a reader
    * never sees a victim's cells twice. A lossless guard (merged cells
    * == victim cells) runs on the staged file, before the store is
    * touched. Not concurrency-safe vs writers, same as [[compact]]. */
  def minorCompact(spark: SparkSession, storeRaw: String,
      mergeSmallest: Int): CompactStats = {
    val live = Paths.get(storeRaw).normalize
    val store = live.toString
    val before = KvMeta.files(store)
    require(mergeSmallest >= 2, s"mergeSmallest must be >= 2, got $mergeSmallest")
    require(before.size >= mergeSmallest,
      s"graft-kv minor compact: ${before.size} files < $mergeSmallest under $store")
    val victims = before.sortBy(m => (m.bytes, m.file)).take(mergeSmallest)
    val cellsBefore = victims.map(_.cells).sum

    import spark.implicits._
    val merged = replaceStaged(live, drop = Some(victims.map(_.file).toSet)) { staging =>
      spark.read.textFile(victims.map(m => live.resolve(m.file).toString): _*)
        .map { l =>
          val a = l.split(KvFormat.SEP, 3)
          require(a.length == 3, s"graft-kv minor compact: malformed cell line '$l'")
          (a(0).toLong, a(1), a(2))
        }
        .toDF("rowkey", "qualifier", "value")
        .repartitionByRange(1, col("rowkey"), col("qualifier"))
        .sortWithinPartitions("rowkey", "qualifier")
        .write.format("graft-kv").option("path", staging).mode("append").save()
    } { staged =>
      val n = staged.map(_.cells).sum
      if (n != cellsBefore) throw new IllegalArgumentException(
        s"minor compaction lost cells: $cellsBefore expected, $n merged")
    }
    CompactStats(before.size, before.size - victims.size + merged.size,
      before.map(_.cells).sum)
  }

  /** Result of one bulk load: staged files brought in and cells carried. */
  final case class BulkLoadStats(filesLoaded: Int, cells: Long)

  /** BULK LOAD (HBase completebulkload): bring pre-sorted, REGION-ALIGNED
    * staged files into a live store by LINK — the ingest path that
    * bypasses the write path entirely. The staging job (a Spark write
    * elsewhere: `repartitionByRange(n, rowkey)` + `sortWithinPartitions`
    * through the graft-kv writer) already produced exactly what a store
    * file must be — sorted, stats-indexed, rowkey-disjoint — so loading
    * is O(files) metadata work regardless of data volume: at 100 TB the
    * cluster writes the files once and the "load" is a link per file
    * plus one index commit, the whole reason HBase bulk ingest exists.
    *
    * Precondition enforced (load refuses, store untouched): staged files
    * are PAIRWISE DISJOINT in rowkey (region alignment; the range
    * partitioner guarantees it, a hand-built staging dir may not).
    *
    * Crash safety ([[bringIn]]): the staged files leave staging only
    * after the store's index commit names them, so a kill never loses a
    * cell, and a re-run after a kill between the two commits finds its
    * files already committed and loads nothing twice. */
  def bulkLoad(stagingRaw: String, storeRaw: String): BulkLoadStats = {
    val staging = Paths.get(stagingRaw).normalize.toString
    val store = Paths.get(storeRaw).normalize.toString
    require(staging != store, s"bulk load: staging dir IS the store: $store")
    val staged = KvMeta.files(staging)
    require(staged.nonEmpty, s"bulk load: no staged data files under $staging")
    val byRange = staged.sortBy(m => (m.minKey, m.maxKey))
    byRange.sliding(2).foreach {
      case Seq(a, b) => require(a.maxKey < b.minKey,
        s"bulk load: staged files overlap in rowkey: ${a.file}[${a.minKey},${a.maxKey}] vs ${b.file}[${b.minKey},${b.maxKey}]")
      case _ => ()
    }
    val loaded = bringIn(byRange.map(staging -> _), store, "bulk")
    KvMeta.commit(staging, Nil, staged.map(_.file).toSet)
    BulkLoadStats(loaded.size, loaded.map(_.cells).sum)
  }

  /** Name of a brought-in file: a function of its source entry, so a
    * re-run recognizes a file an earlier run already committed. */
  private def inName(prefix: String, m: KvFileMeta): String = s"$prefix-${m.md5}-${m.file}"

  /** Link each (source dir, entry) into `store` under [[inName]] — still
    * invisible there — and add them all in one [[KvMeta.commit]]. A name
    * the store already indexes is not linked again. The caller deletes
    * the sources only after this returns. Returns the committed entries. */
  private def bringIn(sources: Seq[(String, KvFileMeta)], store: String,
      prefix: String): Seq[KvFileMeta] = {
    val committed = KvMeta.read(store)
    Files.createDirectories(Paths.get(store))
    val in = sources.map { case (dir, m) =>
      val n = inName(prefix, m)
      if (!committed.contains(n)) KvFiles.share(Paths.get(store, n), Paths.get(dir, m.file))
      m.copy(file = n)
    }
    KvMeta.commit(store, in)
    in
  }

  /** Result of one region merge: files brought in from each parent and
    * the cell total carried through (all counts from the stats index —
    * the merge itself reads zero data bytes). */
  final case class MergeStats(filesA: Int, filesB: Int, cells: Long)

  /** REGION MERGE — the inverse of a region split, done the way HBase's
    * `merge_region` does it: a pure METADATA operation. Two ADJACENT
    * regions (every rowkey in A strictly below every rowkey in B,
    * proven from the stats index alone) merge by LINKING both parents'
    * data files into one store dir — O(files) driver metadata, zero
    * data bytes read or rewritten, regardless of region size. Files
    * WITHIN a parent may overlap each other in rowkey (normal
    * multi-flush state; the next major compaction re-sorts) — only the
    * region-level ranges must be disjoint, exactly HBase's adjacency
    * precondition.
    *
    * Refusal (both parents and the dest untouched): a parent with no
    * data files, overlapping region ranges, or a dest whose index names
    * files other than this merge's.
    *
    * Crash safety ([[bringIn]]): parents are retired (deleted) only
    * after the merged index commits — HBase's catalog-janitor step — so
    * a kill before it leaves every cell in its parent and only unindexed
    * links in the dest, and a re-run after it finds the dest already
    * committed and just retires the parents — also when a kill between
    * the two retirements left one parent gone and the other live. */
  def mergeRegions(aRaw: String, bRaw: String, mergedRaw: String): MergeStats = {
    val a = Paths.get(aRaw).normalize.toString
    val b = Paths.get(bRaw).normalize.toString
    val merged = Paths.get(mergedRaw).normalize.toString
    require(a != b && a != merged && b != merged,
      s"region merge: parents and dest must be three distinct dirs")
    val (statsA, statsB) = (KvMeta.files(a), KvMeta.files(b))
    val parents = statsA.map(a -> _) ++ statsB.map(b -> _)
    val dest = KvMeta.read(merged)
    // one parent already retired, the other's files all committed in
    // the dest: an earlier run was killed between the retirements
    val retiring = (statsA.isEmpty != statsB.isEmpty) &&
      parents.forall(p => dest.contains(inName("merge", p._2)))
    val in =
      if (retiring) parents.map(p => dest(inName("merge", p._2)))
      else {
        require(statsA.nonEmpty && statsB.nonEmpty,
          s"region merge: a parent region has no data files ($a: ${statsA.size}, $b: ${statsB.size})")
        val (maxA, minB) = (statsA.map(_.maxKey).max, statsB.map(_.minKey).min)
        require(maxA < minB,
          s"region merge: regions are not adjacent (A max rowkey $maxA >= B min rowkey $minB)")
        require((dest.keySet -- parents.map(p => inName("merge", p._2))).isEmpty,
          s"region merge: dest already holds data files: $merged")
        bringIn(parents, merged, "merge")
      }
    Seq(a, b).foreach(p => KvFiles.retire(Paths.get(p)))
    MergeStats(statsA.size, statsB.size, in.map(_.cells).sum)
  }
}
