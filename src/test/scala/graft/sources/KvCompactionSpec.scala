package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Store-maintenance invariants of graft-kv major compaction that the
  * row-shaped `kv_compact` oracle can't express: file-count reduction,
  * range disjointness, stats-index consistency (pruning and pushdown
  * keep working on the compacted store), and failure modes.
  */
class KvCompactionSpec extends SparkSpec {

  private def freshStore(): String =
    Files.createTempDirectory("kv_compaction_spec").resolve("cells").toString

  /** Temp names left in `dir` (see KvFiles.isTemp). */
  private def temps(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).filter(KvFiles.isTemp).toList
    finally s.close()
  }

  private def cells =
    graft.operators.Scans.scanKvModel(spark, sf)

  /** Write the model cells as n separate single-file appends — every
    * file overlaps every other in rowkey (the worst pruning case). */
  private def fragmented(store: String, n: Int): Unit =
    (0 until n).foreach { i =>
      cells.filter(col("rowkey") % n === i).coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }

  test("compaction shrinks the file count and preserves every cell") {
    val store = freshStore()
    fragmented(store, 5)
    assert(KvFormat.dataFiles(store).size >= 5)
    val stats = KvCompaction.compact(spark, store, targetFiles = 2)
    assert(stats.filesBefore >= 5 && stats.filesAfter <= 2)
    val after = spark.read.format("graft-kv").load(store)
    assert(after.exceptAll(cells).count() == 0 && cells.exceptAll(after).count() == 0)
  }

  test("compacted files are rowkey-disjoint, so range pruning plans fewer files") {
    val store = freshStore()
    fragmented(store, 4)
    // this test isolates RANGE pruning, but the connector also writes
    // per-file rowkey blooms which would skip the non-holding stripes
    // for a point probe — strip them from the index so the before-probe
    // really measures "every overlapping file is read"
    KvMeta.commit(store, KvMeta.read(store).values.map(_.copy(bloomHex = None)).toSeq)
    // pre-compaction: a MID-RANGE point lookup must open every file
    // (the stripes all cover the middle; edge keys would be pruned by
    // min/max even on the fragmented store)
    KvReadStats.reset(store)
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val key = (bounds.getLong(0) + bounds.getLong(1)) / 2
    spark.read.format("graft-kv").load(store)
      .filter(col("rowkey") === key).count()
    val linesBefore = KvReadStats.forDir(store).linesRead.get()
    KvCompaction.compact(spark, store, targetFiles = 4)
    val metas = KvMeta.read(store).values.toSeq.sortBy(_.minKey)
    metas.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey <= b.minKey,
        s"files overlap: ${a.file}[${a.minKey},${a.maxKey}] vs ${b.file}[${b.minKey},${b.maxKey}]")
      case _ => ()
    }
    // post-compaction: the same lookup reads only the covering file(s)
    // — strictly fewer lines than the scan-everything cost before.
    // (Blooms are active again here — fine: they only shrink further.)
    KvReadStats.reset(store)
    spark.read.format("graft-kv").load(store)
      .filter(col("rowkey") === key).count()
    val linesAfter = KvReadStats.forDir(store).linesRead.get()
    assert(linesAfter < linesBefore,
      s"range pruning did not improve: $linesAfter lines vs $linesBefore before")
  }

  test("the stats index survives compaction: aggregate pushdown still answers zero-read") {
    val store = freshStore()
    fragmented(store, 3)
    KvCompaction.compact(spark, store, targetFiles = 1)
    KvReadStats.reset(store)
    val row = spark.read.format("graft-kv").load(store)
      .agg(count(lit(1)), min(col("rowkey")), max(col("rowkey"))).collect().head
    assert(KvReadStats.forDir(store).linesRead.get() == 0,
      "post-compaction stats pushdown read data bytes")
    assert(row.getLong(0) == cells.count())
  }

  test("compacting an empty store fails loudly; bad targetFiles is rejected") {
    val store = freshStore()
    intercept[IllegalArgumentException] { KvCompaction.compact(spark, store, 2) }
    fragmented(store, 2)
    intercept[IllegalArgumentException] { KvCompaction.compact(spark, store, 0) }
  }

  test("the compact CLI action compacts a store and rejects bad flags") {
    val store = freshStore()
    fragmented(store, 3)
    assert(SnapshotTool.run(spark, Seq("compact", "--store", store, "--target", "1")) == 0)
    assert(KvFormat.dataFiles(store).size == 1)
    assert(SnapshotTool.run(spark, Seq("compact", "--target", "1")) == 2) // missing --store
    assert(SnapshotTool.run(spark, Seq("compact", "--store", store, "--target", "zero")) == 2)
  }

  test("minor compaction merges only the smallest files and keeps the rest untouched") {
    import spark.implicits._
    val store = freshStore()
    // one big file + three small ones (the flush tail)
    cells.coalesce(1)
      .write.format("graft-kv").option("path", store).mode("append").save()
    (0 until 3).foreach { i =>
      Seq((1000L + i, s"tail$i", s"v$i")).toDF("rowkey", "qualifier", "value")
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    val bigFile = KvMeta.read(store).values.maxBy(_.bytes).file
    val total = spark.read.format("graft-kv").load(store).count()
    val stats = KvCompaction.minorCompact(spark, store, mergeSmallest = 3)
    assert(stats.filesBefore == 4 && stats.filesAfter == 2, s"$stats")
    assert(stats.cells == total, s"cell total drifted: $stats vs $total")
    // the big file's bytes were never rewritten
    assert(KvMeta.read(store).contains(bigFile),
      "minor compaction touched a file outside the merge set")
    val after = spark.read.format("graft-kv").load(store)
    assert(after.count() == total)
    // the merged file carries committed stats (index stays complete)
    val meta = KvMeta.read(store)
    assert(KvFormat.dataFiles(store).forall(f => meta.contains(f.getFileName.toString)))
    // guards: too few files / bad arg fail loudly
    intercept[IllegalArgumentException] { KvCompaction.minorCompact(spark, store, 1) }
    intercept[IllegalArgumentException] { KvCompaction.minorCompact(spark, store, 5) }
  }

  test("tombstones survive minor compaction but not major") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "name", "alice"), (2L, "name", "bob"), (3L, "name", "carol"))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    Seq((1L, "name", KvCompaction.Tombstone))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    Seq((4L, "name", "dave"))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    KvCompaction.minorCompact(spark, store, mergeSmallest = 2)
    val raw = spark.read.format("graft-kv").load(store)
    assert(raw.filter(col("value") === KvCompaction.Tombstone).count() == 1,
      "a minor compaction must carry tombstones through")
    assert(raw.count() == 5)
    // the same store major-compacted afterwards purges marker + masked cell
    KvCompaction.compact(spark, store, 1, purgeTombstones = true)
    val purged = spark.read.format("graft-kv").load(store)
    assert(purged.filter(col("value") === KvCompaction.Tombstone).count() == 0)
    assert(purged.count() == 3)
  }

  test("version GC at major compaction keeps only the newest K versions") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "qty@01", "a"), (1L, "qty@02", "b"), (1L, "qty@03", "c"),
      (2L, "qty@01", "x"), (1L, "plain", "p"))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    val stats = KvCompaction.compact(spark, store, 1, retainVersions = Some(2))
    assert(stats.dropped == 1, s"expected exactly qty@01 of row 1 GC'd: $stats")
    val after = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // row 1 keeps its 2 newest versions + the unversioned cell; row 2's
    // single version is untouched (rank 1 <= K)
    assert(after == Seq((1L, "plain", "p"), (1L, "qty@02", "b"), (1L, "qty@03", "c"),
      (2L, "qty@01", "x")), s"wrong survivors: $after")
    intercept[IllegalArgumentException] {
      KvCompaction.compact(spark, store, 1, retainVersions = Some(0))
    }
  }

  test("tombstones mask their whole coordinate and die at major compaction") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "name", "alice"), (2L, "name", "bob"), (1L, "age", "3"))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    // the delete arrives as a later append — O(1), no read-modify-write
    Seq((1L, "name", KvCompaction.Tombstone))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    // pre-purge the raw store still holds data + marker
    val raw = spark.read.format("graft-kv").load(store)
    assert(raw.count() == 4)
    assert(raw.filter(col("value") === KvCompaction.Tombstone).count() == 1)
    val stats = KvCompaction.compact(spark, store, 1, purgeTombstones = true)
    assert(stats.dropped == 2, s"expected masked cell + marker dropped: $stats")
    val after = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(after == Seq((1L, "age", "3"), (2L, "name", "bob")),
      s"wrong survivors: $after")
  }

  test("plain compaction never GCs: markers and old versions survive the rewrite") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "qty@01", "a"), (1L, "qty@02", "b"),
      (1L, "name", KvCompaction.Tombstone))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    val stats = KvCompaction.compact(spark, store, 1)
    assert(stats.dropped == 0 && stats.cells == 3,
      s"plain compaction must be lossless: $stats")
  }

  test("the compact CLI rejects bad GC flags and applies good ones") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "qty@01", "a"), (1L, "qty@02", "b"), (1L, "qty@03", "c"))
      .toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    assert(SnapshotTool.run(spark,
      Seq("compact", "--store", store, "--target", "1", "--retain-versions", "zero")) == 2)
    assert(SnapshotTool.run(spark,
      Seq("compact", "--store", store, "--target", "1", "--retain-versions", "1")) == 0)
    assert(spark.read.format("graft-kv").load(store).count() == 1)
  }

  test("the compact CLI rejects a non-boolean --purge-tombstones before touching the store") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "name", "alice"), (2L, "name", "bob")).toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    Seq((1L, "name", KvCompaction.Tombstone)).toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    val metaBefore = KvMeta.read(store)
    assert(SnapshotTool.run(spark,
      Seq("compact", "--store", store, "--purge-tombstones", "yes")) == 2)
    assert(KvMeta.read(store) == metaBefore, "a usage error changed the store's index")
  }

  test("the compact CLI rejects an unknown or repeated flag before touching the store") {
    import spark.implicits._
    val store = freshStore()
    Seq((1L, "name", "alice"), (2L, "name", "bob")).toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    Seq((1L, "name", KvCompaction.Tombstone)).toDF("rowkey", "qualifier", "value")
      .write.format("graft-kv").option("path", store).mode("append").save()
    val metaBefore = KvMeta.read(store)
    assert(SnapshotTool.run(spark,
      Seq("compact", "--store", store, "--purge-tombstone", "true")) == 2)
    assert(SnapshotTool.run(spark,
      Seq("compact", "--store", store, "--target", "1", "--target", "2")) == 2)
    assert(KvMeta.read(store) == metaBefore, "a usage error changed the store's index")
  }

  test("a failed rewrite leaves the live store untouched (swap happens last)") {
    val store = freshStore()
    fragmented(store, 3)
    val metaBefore = KvMeta.read(store)
    val filesBefore = KvFormat.dataFiles(store).map(_.getFileName.toString)
    // poison the rewrite: a malformed cell in a corrupted INDEXED file
    // makes the staging rewrite fail while reading — before anything
    // reaches the store
    Files.writeString(Paths.get(store, filesBefore.last), "bad\tq\tv\n", // bad rowkey
      StandardOpenOption.APPEND)
    intercept[Exception] { KvCompaction.compact(spark, store, 2) }
    assert(KvMeta.read(store) == metaBefore, "failed compaction changed the live index")
    assert(KvFormat.dataFiles(store).map(_.getFileName.toString) == filesBefore,
      "failed compaction changed the live files")
    assert(temps(Paths.get(store).getParent).isEmpty, "failed compaction stranded its staging tree")
  }

  test("a write job with a crashing task leaves the store exactly as before") {
    // end-to-end job-level two-phase commit: one task of a REAL write
    // job throws mid-write after sibling tasks may have task-committed
    // their files; Spark then calls BatchWrite.abort, which must undo
    // those task commits — the store's visible file set, stats index,
    // and readable cells must be byte-identical to the pre-job state
    val store = freshStore()
    cells.coalesce(1).write.format("graft-kv").option("path", store).mode("append").save()
    val metaBefore = KvMeta.read(store)
    val rowsBefore = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    val poisoned = cells.repartition(4, col("rowkey"))
      .withColumn("value",
        when(col("qualifier") === "name" && col("rowkey") === 1,
          expr("raise_error('injected write-task failure')"))
          .otherwise(col("value")))
    intercept[Exception] { // SparkRuntimeException (raise_error) or SparkException
      poisoned.write.format("graft-kv").option("path", store).mode("append").save()
    }
    assert(KvMeta.read(store) == metaBefore,
      "a failed job must not touch the committed stats index")
    val rowsAfter = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    assert(rowsAfter.sameElements(rowsBefore), "readable cells changed across a failed job")
    // and no task temp files strand either
    assert(temps(java.nio.file.Paths.get(store)).isEmpty, "failed tasks stranded temp files")
  }

  test("a compaction killed before its index commit leaves the old store live") {
    val store = freshStore()
    fragmented(store, 3)
    val beforeCells = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    // kill in the last window before the swap: the rewritten files are
    // already linked into the live dir, the index not yet published
    val boom = new RuntimeException("injected crash before the index commit")
    KvFiles.beforeStep = s => if (s == s"publish $store/${KvMeta.FILE}") throw boom
    val e = try intercept[RuntimeException] {
      KvCompaction.compact(spark, store, targetFiles = 1)
    } finally KvFiles.beforeStep = _ => ()
    assert(e eq boom, s"the injected failure must stay the primary error, got $e")
    // readers see the PRE-compaction store: the linked files are unindexed
    val after = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    assert(after.sameElements(beforeCells), "a killed compaction changed what readers see")
    // the store-sized staging tree is not stranded
    val siblings = temps(Paths.get(store).getParent)
    assert(siblings.isEmpty, s"killed compaction stranded $siblings")
    // the next compaction sweeps the unindexed links it left
    KvCompaction.compact(spark, store, targetFiles = 1)
    assert(KvFormat.dataFiles(store).map(_.getFileName.toString) == KvMeta.files(store).map(_.file))
  }

  test("a fired lossless-rewrite guard reclaims the tmp tree") {
    val store = freshStore()
    fragmented(store, 3)
    // inflate one file's cell count in the stats index: cellsBefore
    // (read from meta) then exceeds what the rewrite can produce, so
    // the lossless guard fires after a full tmp rewrite exists on disk
    val metaPath = java.nio.file.Paths.get(store, KvMeta.FILE)
    val lines = Files.readAllLines(metaPath)
    val cols = lines.get(0).split("\t", -1)
    cols(3) = (cols(3).toLong + 1).toString
    lines.set(0, cols.mkString("\t"))
    Files.write(metaPath, lines)
    val e = intercept[IllegalArgumentException] {
      KvCompaction.compact(spark, store, 2)
    }
    assert(e.getMessage.contains("compaction lost cells"))
    assert(temps(java.nio.file.Paths.get(store).getParent).isEmpty,
      "failed compaction stranded the store-sized tmp tree")
    assert(KvFormat.dataFiles(store).nonEmpty, "live store must be untouched")
  }

  test("bulk load adopts region-aligned staged files by move; reads stay coherent") {
    val store = freshStore()
    val staging = freshStore()
    // written half through the normal path, bulk half staged region-aligned
    cells.filter(col("qualifier") === "acctbal")
      .write.format("graft-kv").option("path", store).mode("append").save()
    cells.filter(col("qualifier") =!= "acctbal")
      .repartitionByRange(3, col("rowkey"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", staging).mode("append").save()
    val filesBefore = KvFormat.dataFiles(store).size
    val stagedCells = spark.read.format("graft-kv").load(staging).count()
    val stats = KvCompaction.bulkLoad(staging, store)
    // the load is a MOVE: staging is drained, the store gains exactly
    // the staged files, and each adopted file carries its stats entry
    assert(KvFormat.dataFiles(staging).isEmpty, "staged files were copied, not moved")
    assert(KvFormat.dataFiles(store).size == filesBefore + stats.filesLoaded)
    assert(stats.cells == stagedCells)
    val meta = KvMeta.read(store)
    assert(KvFormat.dataFiles(store).map(_.getFileName.toString).forall(meta.contains),
      "an adopted file lost its stats entry (pruning would degrade)")
    // adopted entries stay pairwise rowkey-disjoint (region alignment)
    val adopted = meta.values.filter(_.file.startsWith("bulk-")).toSeq
      .sortBy(_.minKey)
    assert(adopted.size >= 2)
    adopted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey < b.minKey, "adopted files overlap")
      case _ => ()
    }
    // the store serves one coherent table: written + loaded == the model
    val after = spark.read.format("graft-kv").load(store)
    assert(after.exceptAll(cells).count() == 0 && cells.exceptAll(after).count() == 0)
  }

  test("bulk load refuses overlapping staged files and leaves the store untouched") {
    val store = freshStore()
    val staging = freshStore()
    cells.filter(col("qualifier") === "acctbal")
      .write.format("graft-kv").option("path", store).mode("append").save()
    // two appends split by rowkey PARITY: full-range overlap, not regions
    (0 until 2).foreach { i =>
      cells.filter(col("qualifier") === "name" && col("rowkey") % 2 === i)
        .coalesce(1)
        .write.format("graft-kv").option("path", staging).mode("append").save()
    }
    val before = KvFormat.dataFiles(store).map(_.getFileName.toString)
    val e = intercept[IllegalArgumentException] { KvCompaction.bulkLoad(staging, store) }
    assert(e.getMessage.contains("overlap"))
    assert(KvFormat.dataFiles(store).map(_.getFileName.toString) == before,
      "a refused bulk load mutated the live store")
    assert(KvFormat.dataFiles(staging).size == 2,
      "a refused bulk load consumed staged files")
  }

  test("region merge adopts adjacent parents by metadata move and retires them") {
    val a = freshStore()
    val b = freshStore()
    val merged = freshStore()
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    cells.filter(col("rowkey") <= mid)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", a).mode("append").save()
    cells.filter(col("rowkey") > mid)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", b).mode("append").save()
    KvReadStats.reset(a)
    KvReadStats.reset(b)
    val stats = KvCompaction.mergeRegions(a, b, merged)
    assert(KvReadStats.forDir(a).linesRead.get() == 0 &&
      KvReadStats.forDir(b).linesRead.get() == 0,
      "region merge read data lines — it must be metadata-only")
    assert(!Files.exists(java.nio.file.Paths.get(a)) &&
      !Files.exists(java.nio.file.Paths.get(b)),
      "merged parents were not retired")
    assert(stats.cells == cells.count())
    val after = spark.read.format("graft-kv").load(merged)
    assert(after.exceptAll(cells).count() == 0 && cells.exceptAll(after).count() == 0)
    val meta = KvMeta.read(merged)
    assert(KvFormat.dataFiles(merged).map(_.getFileName.toString).forall(meta.contains),
      "an adopted file lost its stats entry (pruning would degrade)")
  }

  test("region merge refuses overlapping parents and a non-empty dest") {
    val a = freshStore()
    val b = freshStore()
    // parity split: full-range overlap — NOT adjacent regions
    cells.filter(col("rowkey") % 2 === 0)
      .write.format("graft-kv").option("path", a).mode("append").save()
    cells.filter(col("rowkey") % 2 === 1)
      .write.format("graft-kv").option("path", b).mode("append").save()
    val dest = freshStore()
    val e = intercept[IllegalArgumentException] {
      KvCompaction.mergeRegions(a, b, dest)
    }
    assert(e.getMessage.contains("adjacent"))
    assert(KvFormat.dataFiles(a).nonEmpty && KvFormat.dataFiles(b).nonEmpty,
      "a refused merge consumed parent files")
    // adjacent parents, but the dest already holds data: refuse too
    val lo = freshStore()
    val hi = freshStore()
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    cells.filter(col("rowkey") <= mid)
      .write.format("graft-kv").option("path", lo).mode("append").save()
    cells.filter(col("rowkey") > mid)
      .write.format("graft-kv").option("path", hi).mode("append").save()
    val occupied = freshStore()
    cells.limit(5)
      .write.format("graft-kv").option("path", occupied).mode("append").save()
    val e2 = intercept[IllegalArgumentException] {
      KvCompaction.mergeRegions(lo, hi, occupied)
    }
    assert(e2.getMessage.contains("dest already holds"))
    assert(KvFormat.dataFiles(lo).nonEmpty && KvFormat.dataFiles(hi).nonEmpty)
  }

  test("region merge killed before its index commit loses no cell; the re-run merges once") {
    val a = freshStore()
    val b = freshStore()
    val merged = freshStore()
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    cells.filter(col("rowkey") <= mid).coalesce(1)
      .write.format("graft-kv").option("path", a).mode("append").save()
    cells.filter(col("rowkey") > mid).coalesce(1)
      .write.format("graft-kv").option("path", b).mode("append").save()
    // the crash window: both parents' files linked into the dest, the
    // dest index not yet published
    KvFiles.beforeStep = s => if (s == s"publish $merged/${KvMeta.FILE}")
      throw new RuntimeException("injected kill before the merged index commit")
    try intercept[RuntimeException] {
      KvCompaction.mergeRegions(a, b, merged)
    } finally KvFiles.beforeStep = _ => ()
    // the dest reads no cells, and every cell is still in its parent
    assert(spark.read.format("graft-kv").load(merged).count() == 0)
    val parents = spark.read.format("graft-kv").load(a)
      .unionByName(spark.read.format("graft-kv").load(b))
    assert(parents.exceptAll(cells).count() == 0 && cells.exceptAll(parents).count() == 0,
      "a cell became unreachable inside the crash window")
    // the re-run completes the merge, every cell exactly once
    KvCompaction.mergeRegions(a, b, merged)
    val after = spark.read.format("graft-kv").load(merged)
    assert(after.exceptAll(cells).count() == 0 && cells.exceptAll(after).count() == 0)
    assert(!Files.exists(Paths.get(a)) && !Files.exists(Paths.get(b)))
  }

  test("region merge killed between its parents' retirements: the re-run finishes retiring") {
    val a = freshStore()
    val b = freshStore()
    val merged = freshStore()
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    cells.filter(col("rowkey") <= mid).coalesce(1)
      .write.format("graft-kv").option("path", a).mode("append").save()
    cells.filter(col("rowkey") > mid).coalesce(1)
      .write.format("graft-kv").option("path", b).mode("append").save()
    val cellsB = spark.read.format("graft-kv").load(b).collect().toSet
    // the merged index is committed and parent a is retired; b is not
    KvFiles.beforeStep = s => if (s == s"retire $b")
      throw new RuntimeException("injected kill before the second retirement")
    try intercept[RuntimeException] {
      KvCompaction.mergeRegions(a, b, merged)
    } finally KvFiles.beforeStep = _ => ()
    def read(dir: String) = spark.read.format("graft-kv").load(dir)
    assert(!Files.exists(Paths.get(a)))
    assert(read(b).collect().toSet == cellsB, "the live parent lost cells")
    assert(read(merged).exceptAll(cells).count() == 0 && cells.exceptAll(read(merged)).count() == 0,
      "the committed merge does not hold every cell exactly once")
    // the re-run retires the live parent instead of refusing the merge
    val stats = KvCompaction.mergeRegions(a, b, merged)
    assert(stats.filesA == 0 && stats.filesB == 1 && stats.cells == cellsB.size)
    assert(!Files.exists(Paths.get(a)) && !Files.exists(Paths.get(b)))
    assert(read(merged).exceptAll(cells).count() == 0 && cells.exceptAll(read(merged)).count() == 0)
  }

  test("a task that commits after the job abort leaves an orphan no reader sees; " +
      "compaction sweeps it") {
    val store = freshStore()
    cells.coalesce(1).write.format("graft-kv").option("path", store).mode("append").save()
    val metaBefore = KvMeta.read(store)
    val rowsBefore = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    val findingsBefore = KvScrub.scrub(spark, store)
    // partition 1 is held inside its task commit until the job abort
    // fires; partition 0 fails its commit once partition 1 is held. The
    // wait ignores the interrupt a task kill may send, so partition 1's
    // commit lands after the abort — the race Spark's v2 write allows
    val Seq(held, aborted, landed) = Seq.fill(3)(new CountDownLatch(1))
    def await(l: CountDownLatch): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      var done = false
      while (!done && System.nanoTime() < deadline)
        try done = l.await(100, TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => () }
    }
    val late = new AtomicReference[String]
    KvFiles.beforeStep = s =>
      if (s == s"abort $store") aborted.countDown()
      else if (s.startsWith(s"commit $store/part-1-")) {
        late.set(s.stripPrefix("commit "))
        held.countDown()
        await(aborted)
        landed.countDown()
      } else if (s.startsWith(s"commit $store/part-0-")) {
        await(held)
        throw new RuntimeException("injected write-task failure")
      }
    try {
      intercept[Exception] {
        cells.repartition(2).write.format("graft-kv").option("path", store).mode("append").save()
      }
      await(landed)
    } finally KvFiles.beforeStep = _ => ()
    assert(aborted.getCount == 0, "the job abort never ran")
    assert(late.get != null && Files.exists(Paths.get(late.get)), "the late commit never landed")
    assert(KvMeta.read(store) == metaBefore, "a failed job changed the index")
    val rowsAfter = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect()
    assert(rowsAfter.sameElements(rowsBefore),
      "a task committed after the abort became store content")
    val findings = KvScrub.scrub(spark, store)
    assert(findings.filter(_.kind != "orphan") == findingsBefore.filter(_.kind != "orphan"))
    assert(findings.filter(_.kind == "orphan").map(_.file) ==
      Seq(Paths.get(late.get).getFileName.toString))
    KvCompaction.compact(spark, store, targetFiles = 1)
    assert(!Files.exists(Paths.get(late.get)), "compaction did not sweep the orphan")
    assert(KvScrub.scrub(spark, store).isEmpty)
  }

  test("merge-regions and bulk-load are driveable from the CLI") {
    val a = freshStore()
    val b = freshStore()
    val merged = freshStore()
    val bounds = cells.agg(min(col("rowkey")), max(col("rowkey"))).collect().head
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
    cells.filter(col("rowkey") <= mid)
      .write.format("graft-kv").option("path", a).mode("append").save()
    cells.filter(col("rowkey") > mid)
      .write.format("graft-kv").option("path", b).mode("append").save()
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    assert(cli("merge-regions", "--a", a, "--b", b, "--dest", merged) == 0)
    val after = spark.read.format("graft-kv").load(merged)
    assert(after.exceptAll(cells).count() == 0 && cells.exceptAll(after).count() == 0)
    // bulk-load: stage region-aligned files, adopt into the merged store
    val staging = freshStore()
    cells.select(col("rowkey"), lit("cliq").as("qualifier"), col("value"))
      .repartitionByRange(2, col("rowkey"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", staging).mode("append").save()
    assert(cli("bulk-load", "--staging", staging, "--store", merged) == 0)
    assert(KvFormat.dataFiles(staging).isEmpty, "CLI bulk load must drain staging")
    assert(spark.read.format("graft-kv").load(merged)
      .filter(col("qualifier") === "cliq").count() == cells.count())
    // error surface: a refused merge exits 1 (same-dir parents)
    assert(cli("merge-regions", "--a", merged, "--b", merged, "--dest", merged) == 1)
    assert(cli("bulk-load", "--staging", staging) == 2) // missing --store
  }

  test("keepIf GC predicate drops exactly the predicted cells, lossless otherwise") {
    val store = freshStore()
    fragmented(store, 3)
    val keep = col("qualifier") =!= "name"
    val expected = cells.filter(keep).count()
    val droppedExpected = cells.count() - expected
    val stats = KvCompaction.compact(spark, store, targetFiles = 2, keepIf = Some(keep))
    assert(stats.dropped == droppedExpected)
    val after = spark.read.format("graft-kv").load(store)
    assert(after.count() == expected)
    assert(after.filter(col("qualifier") === "name").count() == 0,
      "a cell failing the keep predicate survived the rewrite")
  }
}
