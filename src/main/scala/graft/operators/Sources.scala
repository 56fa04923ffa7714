package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Tables._
import graft.util.Scratch

/** Source/sink format breadth beyond parquet (SURVEY.md §2.A R2/R3:
  * the reference's whole job is moving data between storage systems —
  * here modeled as format roundtrips with read-back verification) plus
  * the pivot/bucketing relational surfaces.
  *
  * Scale posture: CSV/JSON are line-splittable so reads parallelize per
  * split; the bucketed write is the SCALE.md primitive that removes the
  * shuffle from repeated fact⋈fact joins (bucket count becomes the
  * parallelism unit).
  */
object Sources {

  /** A fresh scratch dir, a snapshot root or a kv store, with whatever a
    * prior in-process run left there (a store's files and index
    * included) deleted: the one place the re-run hygiene rule lives. */
  private def snapshotRoot(sfDir: String, name: String): String = {
    val root = Scratch.forSf(sfDir, name)
    // full-tree wipe (not list()-based): also removes UNCOMMITTED
    // manifest-less dirs a crashed prior IN-PROCESS run may have left
    Scratch.deleteTree(root)
    root
  }

  /** Shared prelude of the graft-kv keys: a fresh per-process store of
    * the model cells, written through the connector and read back. */
  private def freshKvStore(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val dest = snapshotRoot(sfDir, name)
    Scans.scanKvModel(spark, sfDir)
      .write.format("graft-kv").option("path", dest).mode("append").save()
    spark.read.format("graft-kv").load(dest)
  }

  /** Parquet → CSV (header) → read back with explicit schema; returns
    * the read-back rows so the oracle checks full fidelity. */
  def sourceCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "nation_csv")
    nation(spark, sfDir).write.mode("overwrite").option("header", "true").csv(dest)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(dest)
      .orderBy("n_nationkey")
  }

  val sourceCsvRoundtripOracle: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** Parquet → JSON lines → read back with explicit schema. Money is
    * decimal-cast before serialization so the JSON text is exact. */
  def sourceJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "supplier_json")
    supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        dec(col("s_acctbal")).as("s_acctbal"))
      .write.mode("overwrite").json(dest)
    spark.read
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DECIMAL(18,2)")
      .json(dest)
      // exact decimal through the JSON text; DOUBLE only in the final
      // output (comparator cannot canonicalize decimals across engines)
      .withColumn("s_acctbal", col("s_acctbal").cast("double"))
      .orderBy("s_suppkey")
  }

  val sourceJsonRoundtripOracle: String =
    """SELECT s_suppkey, s_name, s_nationkey,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Parquet → ORC → read back (REF R2/R3 format breadth: ORC is the
    * other columnar container a snapshot-export pipeline meets, and
    * Spark's ORC source has the same vectorized-reader + pushdown
    * machinery as parquet). Money survives as exact decimal through
    * the ORC file; DOUBLE only in the final output per the
    * comparator's type policy. */
  def sourceOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "part_orc")
    part(spark, sfDir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"),
        dec(col("p_retailprice")).as("p_retailprice"))
      .write.mode("overwrite").orc(dest)
    spark.read.orc(dest)
      .withColumn("p_retailprice", col("p_retailprice").cast("double"))
      .orderBy("p_partkey")
  }

  val sourceOrcRoundtripOracle: String =
    """SELECT p_partkey, p_name, p_brand, p_size,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_retailprice
      |FROM part ORDER BY p_partkey""".stripMargin

  /** SCHEMA EVOLUTION — the long-lived-dataset reality at 100 TB: a
    * column is added mid-stream and years of already-written files are
    * never rewritten. Old-schema files (3 columns, even orderkeys) and
    * new-schema files (+`o_orderstatus`, odd orderkeys) land in sibling
    * dirs; the read merges parquet FOOTERS (`mergeSchema=true` — an
    * O(files) metadata union, no data pass) and serves the union schema
    * with NULL for the column the old files never had. The oracle
    * recomputes the same union from the base table, so both the write
    * split and the merged read must be lossless. Footer-merge cost is
    * why Spark gates this behind an option: at 1M files the union runs
    * distributed over footers only — still no data rewrite, which is
    * the entire point vs a 100 TB backfill. */
  def sourceSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "orders_schema_evo")
    Scratch.deleteTree(dest)
    val o = orders(spark, sfDir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dest/v1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .write.parquet(s"$dest/v2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dest/v1", s"$dest/v2")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  val sourceSchemaEvolutionOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(NULL AS VARCHAR) AS o_orderstatus
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** Parquet → raw text lines → read back (the log-file shape every
    * ingest pipeline starts from): one `<doc_id>\t<text>` line per
    * document, split on the FIRST tab at read (document text is
    * tab-free by the corpus contract; the split limit makes the framing
    * robust anyway). Text is the least structured source Spark serves —
    * line-splittable, so reads parallelize per split like CSV/JSON. */
  def sourceTextRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "documents_text")
    documents(spark, sfDir)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .write.mode("overwrite").text(dest)
    spark.read.text(dest)
      .select(split(col("value"), "\t", 2).as("kv"))
      .select(col("kv").getItem(0).cast("bigint").as("doc_id"),
        col("kv").getItem(1).as("text"))
      .orderBy("doc_id")
  }

  val sourceTextRoundtripOracle: String =
    "SELECT doc_id, text FROM documents ORDER BY doc_id"

  /** DataSourceV2 connector roundtrip (SURVEY.md §2.A R2): supplier
    * cells written through the custom `graft-kv` v2 writer (files
    * visible only once job commit indexes them), read back via the v2
    * scan with a pushed qualifier/rowkey predicate and a pruned (rowkey, value) schema —
    * PlanSpec asserts both actually reach the scan. Oracle reads the
    * same cells straight from the parquet source. */
  def sourceKvConnector(spark: SparkSession, sfDir: String): DataFrame = {
    freshKvStore(spark, sfDir, "supplier_kv")
      .filter(col("qualifier") === "acctbal" && col("rowkey") <= 500)
      .select("rowkey", "value")
      .orderBy("rowkey")
  }

  val sourceKvConnectorOracle: String =
    """SELECT s_suppkey AS rowkey,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value
      |FROM supplier WHERE s_suppkey <= 500 ORDER BY rowkey""".stripMargin

  /** Stats-index aggregate pushdown on the graft-kv store: COUNT(*) /
    * MIN(rowkey) / MAX(rowkey) answered from the write-time per-file
    * stats (`SupportsPushDownAggregates`) — zero data bytes read, the
    * parquet-footer-count move for the cell store. At 100 TB this is
    * the difference between an O(files) metadata fold and a full scan.
    * KvConnectorSpec proves the zero-read claim via the reader
    * counters; this key grades the VALUES against the source table. */
  def kvStatsPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    freshKvStore(spark, sfDir, "supplier_kv_stats")
      .agg(count(lit(1)).as("n_cells"),
        min(col("rowkey")).as("min_rowkey"),
        max(col("rowkey")).as("max_rowkey"))
  }

  val kvStatsPushdownOracle: String =
    """SELECT 3 * COUNT(*) AS n_cells, MIN(s_suppkey) AS min_rowkey,
      |  MAX(s_suppkey) AS max_rowkey FROM supplier""".stripMargin

  /** BLOOM-PRUNED POINT LOOKUP on the graft-kv store (the HBase
    * HFile-bloom move): the model cells land as THREE overlapping
    * rowkey stripes (every file's [min,max] covers every key — range
    * pruning alone can't skip anything), then a `rowkey IN (1, 2, 7)`
    * lookup runs through the v2 scan, where each file's write-time
    * 256-bit rowkey bloom decides whether it can hold any probed key.
    * At 100 TB a point probe opens the files that might contain the
    * key instead of every range-overlapping one — the difference
    * between O(stripes) opens and O(hits + ε) opens. This key grades
    * the VALUES (bloom pruning must never lose a present key);
    * KvConnectorSpec proves the skipping itself via reader counters. */
  def kvBloomLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "supplier_kv_bloom")
    val cells = Scans.scanKvModel(spark, sfDir)
    (0 until 3).foreach { i =>
      cells.filter(col("rowkey") % 3 === i).coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    spark.read.format("graft-kv").load(store)
      .filter(col("rowkey").isin(1, 2, 7))
      .orderBy("rowkey", "qualifier")
  }

  val kvBloomLookupOracle: String =
    """SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value
      |FROM supplier WHERE s_suppkey IN (1, 2, 7)
      |UNION ALL SELECT s_suppkey, 'name', s_name
      |FROM supplier WHERE s_suppkey IN (1, 2, 7)
      |UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR)
      |FROM supplier WHERE s_suppkey IN (1, 2, 7)
      |ORDER BY rowkey, qualifier""".stripMargin

  /** Grouped-count aggregate pushdown on the graft-kv store: GROUP BY
    * qualifier + COUNT(*) — the HBase "how many cells per column
    * qualifier" cardinality question — answered entirely from the
    * write-time per-qualifier breakdown in the stats index
    * (`.file_meta.tsv` column 7), zero data bytes read. At 100 TB the
    * index fold is O(files × qualifiers) driver metadata vs a full
    * store scan + shuffle. KvConnectorSpec proves zero-read via the
    * reader counters and the old-format fallback; PlanSpec pins the
    * grouped stats scan; this key grades the VALUES. */
  def kvStatsByQualifier(spark: SparkSession, sfDir: String): DataFrame = {
    freshKvStore(spark, sfDir, "supplier_kv_qstats")
      .groupBy("qualifier").count()
      .orderBy("qualifier")
  }

  /** Each of the model's 3 qualifiers appears once per supplier row. */
  val kvStatsByQualifierOracle: String =
    """SELECT q AS qualifier, CAST(COUNT(*) AS BIGINT) AS count
      |FROM supplier, (VALUES ('acctbal'), ('name'), ('nationkey')) t(q)
      |GROUP BY q ORDER BY q""".stripMargin

  /** Full snapshot lifecycle on the graft-kv store (SURVEY.md §2.A
    * R1/R4/R5 — the reference's raison d'être): CREATE a named immutable
    * snapshot of the model cells, create + DELETE a second snapshot
    * (delete must actually remove it from the committed listing), then
    * RESTORE the first through its verifying manifest and return the
    * restored cells. The oracle checks restored == source, i.e. the
    * whole create→restore path is lossless; lifecycle invariants that
    * aren't row-shaped (immutability, tamper detection, delete of a
    * missing name) are pinned in KvSnapshotsSpec. */
  def kvSnapshotLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    // per-process root, wiped whole (uncommitted dirs included) up front
    val root = snapshotRoot(sfDir, "kv_snapshots")
    val cells = Scans.scanKvModel(spark, sfDir)
    graft.sources.KvSnapshots.create(cells, root, "model_v1")
    graft.sources.KvSnapshots.create(
      cells.filter(col("qualifier") === "name"), root, "tmp_names")
    graft.sources.KvSnapshots.delete(root, "tmp_names")
    val live = graft.sources.KvSnapshots.list(root)
    require(live == Seq("model_v1"), s"lifecycle broken: live snapshots $live")
    graft.sources.KvSnapshots.restore(spark, root, "model_v1")
      .orderBy("rowkey", "qualifier")
  }

  /** Restored cells must equal the source cells. */
  val kvSnapshotLifecycleOracle: String = Scans.scanKvModelOracle

  /** Incremental snapshot export (SURVEY.md §1.2 "creating a snapshot
    * copies no data"): snapshot v1 of the model cells, then v2 of a
    * MODIFIED frame (acctbal values adjusted). Both frames are written
    * under the same deterministic layout — hash-partitioned by qualifier
    * and sorted within partitions — so the unmodified qualifiers produce
    * byte-identical files and v2 stores them as hard links to v1's
    * immutable files, recorded as `shared_from` in the manifest. The key
    * requires ≥1 shared file (the dedup actually happened) and returns
    * the verified restore of v2; the oracle checks it equals the
    * modified frame exactly. */
  def kvSnapshotIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val root = snapshotRoot(sfDir, "kv_snapshots_inc")
    // deterministic file layout: qualifier-pure files, rowkey-sorted.
    // The EXPLICIT partition count matters: with a bare repartition(col)
    // AQE may coalesce v1 and v2 differently (their byte sizes differ),
    // splitting identical cells across different file boundaries and
    // defeating content-hash sharing.
    def layout(df: DataFrame): DataFrame =
      df.repartition(8, col("qualifier")).sortWithinPartitions("rowkey", "qualifier")
    val v1 = Scans.scanKvModel(spark, sfDir)
    graft.sources.KvSnapshots.create(layout(v1), root, "model_v1")
    val v2 = v1.withColumn("value",
      when(col("qualifier") === "acctbal", concat(col("value"), lit("#adj")))
        .otherwise(col("value")))
    graft.sources.KvSnapshots.createIncremental(layout(v2), root, "model_v2", "model_v1")
    val shared = graft.sources.KvSnapshots.sharedFiles(root, "model_v2")
    require(shared.nonEmpty, "incremental snapshot shared no files with its base")
    val live = graft.sources.KvSnapshots.list(root)
    require(live == Seq("model_v1", "model_v2"), s"lifecycle broken: live snapshots $live")
    // restore verifies v2's full manifest — shared AND new files alike
    graft.sources.KvSnapshots.restore(spark, root, "model_v2")
      .orderBy("rowkey", "qualifier")
  }

  /** Standalone snapshot VERIFY as a graded key (SURVEY.md §2.A R6 —
    * the reference's post-copy verification, already a CLI action and a
    * restore precondition, here graded on its own): create a snapshot
    * under a FIXED qualifier-partitioned layout, run the distributed
    * verify pass (existence + size driver-side, md5 re-read one Spark
    * task per file), and return the verification report — file and
    * cell totals from the verified manifest. The qualifier layout makes
    * the file count a data-independent constant (one file per occupied
    * hash bucket of the 3 qualifier names — buckets depend only on the
    * fixed strings, never on sf), so the report is oracle-checkable;
    * cell totals come from the manifest the verify pass just proved
    * matches the bytes on disk. Tamper DETECTION (verify must fail) is
    * pinned in KvSnapshotsSpec — a graded key can only grade success. */
  def kvSnapshotVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val root = snapshotRoot(sfDir, "kv_snap_verify")
    val cells = Scans.scanKvModel(spark, sfDir)
      .repartition(8, col("qualifier")).sortWithinPartitions("rowkey", "qualifier")
    graft.sources.KvSnapshots.create(cells, root, "model_v1")
    graft.sources.KvSnapshots.verify(spark, root, "model_v1")
    val entries = graft.sources.KvSnapshots.parseManifest(root, "model_v1")
    import spark.implicits._
    Seq((entries.size.toLong, entries.map(_.cells).sum))
      .toDF("n_files", "n_cells")
  }

  /** The 3 qualifier names hash to 3 distinct murmur3 buckets mod 8
    * (checked empirically; depends only on the fixed strings) → 3 data
    * files at every sf. Cells = 3 per supplier row. */
  val kvSnapshotVerifyOracle: String =
    """SELECT CAST(3 AS BIGINT) AS n_files, CAST(3 * COUNT(*) AS BIGINT) AS n_cells
      |FROM supplier""".stripMargin

  /** Snapshot EXPORT between stores (SURVEY.md §2.A R2/R3 — the
    * reference's literal workflow: export a snapshot to another storage
    * root, restore it there): create model_v1 at a source root, EXPORT
    * it to a destination root (distributed copy, one task per file, md5
    * re-verified on the destination bytes), DELETE it at the source, and
    * return the restore FROM THE DESTINATION — proving the export is
    * self-contained and survives the source's disappearance. The oracle
    * checks exported-restored cells equal the original source frame. */
  def kvSnapshotExport(spark: SparkSession, sfDir: String): DataFrame = {
    val srcRoot = snapshotRoot(sfDir, "kv_snap_exp_src")
    val destRoot = snapshotRoot(sfDir, "kv_snap_exp_dst")
    val cells = Scans.scanKvModel(spark, sfDir)
    graft.sources.KvSnapshots.create(cells, srcRoot, "model_v1")
    graft.sources.KvSnapshots.export(spark, srcRoot, destRoot, "model_v1")
    graft.sources.KvSnapshots.delete(srcRoot, "model_v1")
    require(graft.sources.KvSnapshots.list(srcRoot).isEmpty,
      "source snapshot survived its delete")
    val live = graft.sources.KvSnapshots.list(destRoot)
    require(live == Seq("model_v1"), s"export broken: destination snapshots $live")
    graft.sources.KvSnapshots.restore(spark, destRoot, "model_v1")
      .orderBy("rowkey", "qualifier")
  }

  /** Exported-restored cells must equal the source cells. */
  val kvSnapshotExportOracle: String = Scans.scanKvModelOracle

  /** The ingest sink of both streaming-ingest keys, so the plain and the
    * checkpoint-recovery grading of the same path cannot diverge: each
    * micro-batch is one graft-kv append (one index commit). The stream
    * is a feed ([[TimeSeries.writeFeed]]) of the cells run through
    * [[TimeSeries.runStream]]. */
  private def ingest(spark: SparkSession, stage: String, schema: StructType, store: String,
      name: String, checkpoint: Option[String] = None): Unit =
    TimeSeries.runStream(spark, name, checkpoint = checkpoint,
      eachBatch = Some { (batch: DataFrame, _: Long) =>
        batch.write.format("graft-kv").option("path", store).mode("append").save()
      })(TimeSeries.openFeed(_, stage, schema))

  /** Snapshot the live store and return the verifying restore — the
    * shared epilogue of both streaming-ingest keys. */
  private def snapshotRestore(spark: SparkSession, store: String,
      snapRoot: String, name: String): DataFrame = {
    graft.sources.KvSnapshots.create(
      spark.read.format("graft-kv").load(store), snapRoot, name)
    graft.sources.KvSnapshots.restore(spark, snapRoot, name)
      .orderBy("rowkey", "qualifier")
  }

  /** Streaming ingestion into the cell store — the reference's
    * operational WRITE path (SURVEY.md §2.A R1: rows arrive
    * continuously, snapshots are cut from the live store): the model
    * cells arrive as a file stream in ≥2 micro-batches, each batch
    * lands in the graft-kv store via foreachBatch (every batch is its
    * own committed set of .kv files + stats-index entries — the
    * connector's one index commit per job makes each micro-batch atomic),
    * a named snapshot is cut from the live store, and the verifying
    * restore is returned. The oracle checks the full loop is lossless:
    * restored == the cells that were streamed in. At scale this is a
    * Kafka or landing-zone stream → kv append → snapshot, with per-batch
    * commit as the exactly-once unit. */
  def kvStreamIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = snapshotRoot(sfDir, "kv_ingest_stage")
    val store = snapshotRoot(sfDir, "kv_ingest_store") + "/cells"
    val snapRoot = snapshotRoot(sfDir, "kv_ingest_snap")
    val cells = Scans.scanKvModel(spark, sfDir)
    // two feed files → two micro-batches
    TimeSeries.writeFeed(stage,
      Seq(cells.filter(col("rowkey") % 2 === 0), cells.filter(col("rowkey") % 2 === 1)))
    ingest(spark, stage, cells.schema, store, "graft_kv_stream_ingest")
    require(graft.sources.KvMeta.read(store).size >= 2,
      "ingestion did not commit at least one file set per micro-batch")
    snapshotRestore(spark, store, snapRoot, "ingested")
  }

  /** Stream-ingested, snapshotted, restored cells == the source cells. */
  val kvStreamIngestOracle: String = Scans.scanKvModelOracle

  /** CHECKPOINT RECOVERY of the streaming ingest — the operational
    * property `kv_stream_ingest` assumes but doesn't prove: a streaming
    * job DIES mid-stream and is RESTARTED from its checkpoint, and the
    * result must equal the uninterrupted run. Half the cells are staged
    * and ingested by a first query that then stops (the simulated
    * crash); the second half arrives while the job is down; a second
    * query starts FROM THE SAME CHECKPOINT and must ingest ONLY the
    * unseen file — the checkpoint's file-source log is what prevents
    * re-ingesting (and thus double-counting) the first file, which the
    * lossless oracle would catch. At 100 TB this is the restart story
    * of every long-running ingest: state lives in the checkpoint, not
    * the process, so an executor/driver loss costs one replayed
    * micro-batch at most, with the store's per-batch committed file
    * sets as the idempotent unit. */
  def kvStreamResume(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = snapshotRoot(sfDir, "kv_resume_stage")
    val store = snapshotRoot(sfDir, "kv_resume_store") + "/cells"
    val ckpt = snapshotRoot(sfDir, "kv_resume_ckpt")
    val snapRoot = snapshotRoot(sfDir, "kv_resume_snap")
    val cells = Scans.scanKvModel(spark, sfDir)
    TimeSeries.writeFeed(stage, Seq(cells.filter(col("rowkey") % 2 === 0)))
    // first incarnation ingests the first staged file, then "crashes"
    ingest(spark, stage, cells.schema, store, "graft_kv_stream_resume", Some(ckpt))
    val filesAfterCrash = graft.sources.KvMeta.read(store).size
    require(filesAfterCrash >= 1, "first run committed no file set")
    // the second half arrives while the job is DOWN
    TimeSeries.writeFeed(stage, Seq(cells.filter(col("rowkey") % 2 === 1)))
    // restart from the checkpoint: must ingest ONLY the new file
    ingest(spark, stage, cells.schema, store, "graft_kv_stream_resume", Some(ckpt))
    require(graft.sources.KvMeta.read(store).size > filesAfterCrash,
      "restarted run committed nothing — the new file was not ingested")
    snapshotRestore(spark, store, snapRoot, "resumed")
  }

  /** The interrupted-and-resumed ingest must equal the uninterrupted
    * run — i.e. exactly the source cells, no loss, no double-ingest. */
  val kvStreamResumeOracle: String = Scans.scanKvModelOracle

  /** Restored v2 must equal the modified frame. */
  val kvSnapshotIncrementalOracle: String =
    """SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '#adj' AS value FROM supplier
      |UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier
      |UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
      |ORDER BY rowkey, qualifier""".stripMargin

  /** MAJOR COMPACTION of the graft-kv store as a graded key (the HBase
    * compaction analog — SURVEY.md §2.A: streaming ingest commits one
    * file set per micro-batch, so the 100 TB store's scan cost and
    * min/max pruning decay until the small files are rewritten): the
    * model cells arrive as SIX separate append jobs (≥6 file sets with
    * overlapping rowkey ranges — the worst pruning case), compaction
    * rewrites them into ≤2 rowkey-range-partitioned sorted files via
    * one distributed pass + one index commit, and the key returns the
    * post-compaction store. The oracle checks the rewrite is lossless;
    * the file-count and range-disjointness invariants are asserted
    * in-line (and pinned with the reader counters in KvConnectorSpec).
    */
  def kvCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "kv_compact_store")
    val cells = Scans.scanKvModel(spark, sfDir)
    // the small-files problem, simulated: one committed file set per
    // "micro-batch" (rowkey stripes → every file overlaps every other)
    (0 until 6).foreach { i =>
      cells.filter(col("rowkey") % 6 === i).coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    val before = graft.sources.KvMeta.read(store).size
    require(before >= 6, s"store should hold >= 6 files pre-compaction, has $before")
    val stats = graft.sources.KvCompaction.compact(spark, store, targetFiles = 2)
    require(stats.filesAfter <= 2 && stats.filesAfter < stats.filesBefore,
      s"compaction did not shrink the store: $stats")
    // range partitioning must leave files disjoint in rowkey order —
    // this is what restores min/max file pruning
    val ranges = graft.sources.KvMeta.read(store).values.toSeq
      .sortBy(_.minKey).map(m => (m.minKey, m.maxKey))
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => require(hi <= lo,
        s"compacted files overlap in rowkey: $ranges")
      case _ => ()
    }
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** Compacted cells must equal the source cells. */
  val kvCompactOracle: String = Scans.scanKvModelOracle

  /** STORE SCRUB + SURGICAL REPAIR (the hbck loop, graded): a 4-file
    * store + a backup snapshot; a clean scrub passes; one committed
    * file gets a byte flipped mid-file and the distributed scrub
    * ([[graft.sources.KvScrub]]: one md5 task per file against the
    * commit-time index digests) must report EXACTLY that file as a
    * checksum finding. Repair is surgical, never a full restore: the
    * damaged file is dropped by one index commit, and the lost
    * cells — identified by a cell-identity anti-join of the snapshot
    * against the surviving store, so overlapping file ranges can
    * never double-ingest — are appended back as a new committed file
    * set. A re-scrub must come back clean and the oracle requires the
    * repaired store to equal the source cells exactly. At 100 TB:
    * scrub is a map-only job over the file list; repair reads one
    * file-range's worth of snapshot cells plus one store scan for the
    * anti-join — proportional to the damage, not the store. */
  def kvScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "kv_scrub_store")
    val root = snapshotRoot(sfDir, "kv_scrub_snaps")
    val cells = Scans.scanKvModel(spark, sfDir)
    (0 until 4).foreach { i =>
      cells.filter(col("rowkey") % 4 === i).coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    graft.sources.KvSnapshots.create(cells, root, "backup")
    require(graft.sources.KvScrub.scrub(spark, store).isEmpty,
      "clean store must scrub clean")
    val victim = graft.sources.KvMeta.files(store).head.file
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(store, victim),
      java.nio.file.StandardOpenOption.READ, java.nio.file.StandardOpenOption.WRITE)
    try {
      val pos = ch.size() / 2
      val b = java.nio.ByteBuffer.allocate(1)
      ch.read(b, pos)
      b.flip()
      ch.write(java.nio.ByteBuffer.wrap(Array((b.get() ^ 0x7f).toByte)), pos)
    } finally ch.close()
    val findings = graft.sources.KvScrub.scrub(spark, store)
    require(findings.map(f => (f.file, f.kind)) ==
        Seq((victim, "checksum")),
      s"scrub must flag exactly the corrupted file, got $findings")
    graft.sources.KvMeta.commit(store, Nil, drop = Set(victim))
    val surviving = spark.read.format("graft-kv").load(store)
    val lost = graft.sources.KvSnapshots.restore(spark, root, "backup")
      .join(surviving, Seq("rowkey", "qualifier"), "left_anti")
    lost.coalesce(1)
      .write.format("graft-kv").option("path", store).mode("append").save()
    require(graft.sources.KvScrub.scrub(spark, store).isEmpty,
      "post-repair scrub must come back clean")
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** Repaired cells must equal the source cells. */
  val kvScrubOracle: String = Scans.scanKvModelOracle

  /** SNAPSHOT DIFF / changefeed as a graded key (the CDC question
    * between two point-in-time snapshots): snapshot v1 of the model
    * cells, snapshot v2 of a frame with all three change kinds applied
    * (values rewritten for rowkey%3 acctbal cells, name cells removed
    * for rowkey%5, a new `flag` qualifier added for rowkey%7), then
    * `KvSnapshots.diff` — both sides checksum-verified, one full-outer
    * join on the cell key — returns exactly the divergent cells
    * classified added/removed/changed. The oracle rebuilds both cell
    * sets in SQL and mirrors the diff. */
  def kvSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val root = snapshotRoot(sfDir, "kv_snap_diff")
    val v1 = Scans.scanKvModel(spark, sfDir)
    val v2 = v1
      .filter(!(col("qualifier") === "name" && col("rowkey") % 5 === 0))
      .withColumn("value",
        when(col("qualifier") === "acctbal" && col("rowkey") % 3 === 0,
          concat(col("value"), lit("#adj"))).otherwise(col("value")))
      .unionByName(
        v1.filter(col("qualifier") === "name" && col("rowkey") % 7 === 0)
          .select(col("rowkey"), lit("flag").as("qualifier"),
            concat(lit("f"), col("rowkey").cast("string")).as("value")))
    graft.sources.KvSnapshots.create(v1, root, "model_v1")
    graft.sources.KvSnapshots.create(v2, root, "model_v2")
    graft.sources.KvSnapshots.diff(spark, root, "model_v1", "model_v2")
      .orderBy("rowkey", "qualifier")
  }

  val kvSnapshotDiffOracle: String =
    """WITH v1 AS (
      |  SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier,
      |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value FROM supplier
      |  UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier
      |  UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier),
      |v2 AS (
      |  SELECT rowkey, qualifier,
      |    CASE WHEN qualifier = 'acctbal' AND rowkey % 3 = 0 THEN value || '#adj'
      |         ELSE value END AS value
      |  FROM v1 WHERE NOT (qualifier = 'name' AND rowkey % 5 = 0)
      |  UNION ALL
      |  SELECT rowkey, 'flag', 'f' || CAST(rowkey AS VARCHAR)
      |  FROM v1 WHERE qualifier = 'name' AND rowkey % 7 = 0)
      |SELECT COALESCE(a.rowkey, b.rowkey) AS rowkey,
      |  COALESCE(a.qualifier, b.qualifier) AS qualifier,
      |  CASE WHEN a.value IS NULL THEN 'added'
      |       WHEN b.value IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change,
      |  a.value AS old_value, b.value AS new_value
      |FROM v1 a FULL OUTER JOIN v2 b
      |  ON a.rowkey = b.rowkey AND a.qualifier = b.qualifier
      |WHERE a.value IS NULL OR b.value IS NULL OR a.value != b.value
      |ORDER BY rowkey, qualifier""".stripMargin

  /** CHANGEFEED APPLY — the consumer half of kv_snapshot_diff's CDC
    * story (HBase replication replays a changefeed onto a follower):
    * snapshot v1 and a modified v2, compute the diff, then APPLY the
    * feed onto v1's restored cells — surviving cells are v1 minus every
    * touched identity (one left-anti join on the cell key), incoming
    * cells are the feed's added/changed new values. The oracle checks
    * the reconstruction equals v2 exactly: apply(v1, diff(v1,v2)) == v2,
    * the roundtrip invariant that makes a changefeed trustworthy.
    * At 100 TB both legs shuffle by the cell key once, and the feed is
    * usually tiny next to the base — Catalyst broadcasts the anti join
    * side on runtime stats (AQE) without a code change. */
  def kvChangefeedApply(spark: SparkSession, sfDir: String): DataFrame = {
    val root = snapshotRoot(sfDir, "kv_changefeed")
    val v1 = Scans.scanKvModel(spark, sfDir)
    // same v2 derivation as kv_snapshot_diff: drop every 5th name cell,
    // adjust every 3rd acctbal, add a flag cell for every 7th name
    val v2 = v1
      .filter(!(col("qualifier") === "name" && col("rowkey") % 5 === 0))
      .withColumn("value",
        when(col("qualifier") === "acctbal" && col("rowkey") % 3 === 0,
          concat(col("value"), lit("#adj"))).otherwise(col("value")))
      .unionByName(
        v1.filter(col("qualifier") === "name" && col("rowkey") % 7 === 0)
          .select(col("rowkey"), lit("flag").as("qualifier"),
            concat(lit("f"), col("rowkey").cast("string")).as("value")))
    graft.sources.KvSnapshots.create(v1, root, "model_v1")
    graft.sources.KvSnapshots.create(v2, root, "model_v2")
    // restore (checksum-verify) each side ONCE: the base frame feeds
    // both the diff and the replay
    val base = graft.sources.KvSnapshots.restore(spark, root, "model_v1")
    val feed = graft.sources.KvSnapshots.diffFrames(("model_v1", base),
      ("model_v2", graft.sources.KvSnapshots.restore(spark, root, "model_v2")))
    val surviving = base.join(feed.select("rowkey", "qualifier"),
      Seq("rowkey", "qualifier"), "left_anti")
    val incoming = feed.filter(col("change").isin("added", "changed"))
      .select(col("rowkey"), col("qualifier"), col("new_value").as("value"))
    surviving.unionByName(incoming).orderBy("rowkey", "qualifier")
  }

  /** The reconstruction must equal v2's cell set, derived directly. */
  val kvChangefeedApplyOracle: String =
    """WITH v1 AS (
      |  SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier,
      |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value FROM supplier
      |  UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier
      |  UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier)
      |SELECT rowkey, qualifier,
      |  CASE WHEN qualifier = 'acctbal' AND rowkey % 3 = 0 THEN value || '#adj'
      |       ELSE value END AS value
      |FROM v1 WHERE NOT (qualifier = 'name' AND rowkey % 5 = 0)
      |UNION ALL
      |SELECT rowkey, 'flag', 'f' || CAST(rowkey AS VARCHAR)
      |FROM v1 WHERE qualifier = 'name' AND rowkey % 7 = 0
      |ORDER BY rowkey, qualifier""".stripMargin

  /** VERSIONED CELL READ — HBase's VERSIONS=N semantics on the graft-kv
    * store: each (row, qualifier) coordinate keeps multiple timestamped
    * versions and a read returns the newest N. The store's cell key is
    * (rowkey, qualifier), so versions ride IN the coordinate — qualifier
    * `qty@<version>`, zero-padded so lexicographic order IS version
    * order (exactly HBase's trick of encoding structure into cell
    * coordinates). Read-back parses the version and keeps the newest 2
    * per row via a ranked window. At 100 TB the window shuffles by
    * rowkey once; a compacted store prunes the scan to the covering
    * files first. Lineitem plays the versioned source: l_linenumber is
    * the version, quantity the cell payload. */
  /** Versioned lineitem cells (qualifier `qty@NN`) — shared by the
    * versioned-read and version-GC keys. The synthetic lineitem repeats
    * (orderkey, linenumber) — collapse to max-quantity per coordinate
    * (deterministic last-write-wins; max over the DECIMAL, not its
    * string image) so each version coordinate holds exactly one cell. */
  private def versionedLineitemCells(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir)
      .groupBy(col("l_orderkey").as("rowkey"),
        concat(lit("qty@"), lpad(col("l_linenumber").cast("string"), 2, "0"))
          .as("qualifier"))
      .agg(max(dec(col("l_quantity"))).cast("string").as("value"))

  def kvVersionedRead(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = snapshotRoot(sfDir, "lineitem_kv_versions")
    versionedLineitemCells(spark, sfDir)
      .write.format("graft-kv").option("path", store).mode("append").save()
    val w = Window.partitionBy("rowkey").orderBy(col("version").desc)
    spark.read.format("graft-kv").load(store)
      .withColumn("version", substring(col("qualifier"), 5, 2).cast("int"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("rowkey", "version", "value")
      .orderBy("rowkey", "version")
  }

  val kvVersionedReadOracle: String =
    """WITH v AS (
      |  SELECT l_orderkey AS rowkey, l_linenumber AS version,
      |    CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS value
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT rowkey, version, value,
      |        ROW_NUMBER() OVER (PARTITION BY rowkey ORDER BY version DESC) AS rn
      |      FROM v)
      |SELECT rowkey, version, value FROM r WHERE rn <= 2
      |ORDER BY rowkey, version""".stripMargin

  /** VERSION GC AT MAJOR COMPACTION — HBase's VERSIONS=K retention
    * enforced where HBase enforces it: the compaction rewrite, not the
    * read. Same versioned store as `kv_versioned_read`, but instead of
    * a read-time ranked window the store is MAJOR-COMPACTED with
    * `retainVersions = 2`, so the old versions are physically gone —
    * the raw full read afterwards equals the versioned read's top-2
    * result with no window anywhere in the read plan. The pairing is
    * the point: read-time filtering answers today's query, compaction
    * GC pays the storage/scan bill back at 100 TB (every later scan
    * reads K versions, not all of history). The rewrite lands as 2
    * rowkey-disjoint sorted files, so min/max pruning works on the
    * GC'd store too; `stats.dropped > 0` guards against a vacuously
    * green run where no coordinate ever held a third version. */
  def kvCompactVersions(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "lineitem_kv_vgc")
    // materialize the cell unpivot ONCE — the three stripe writes below
    // otherwise each re-run the full scan+groupBy (measured ~2s of the
    // key's bench cost was that recompute ×3)
    val cells = versionedLineitemCells(spark, sfDir).localCheckpoint(true)
    // small-files realism: one append per version stripe — every file
    // overlaps every other in rowkey, exactly a flush-per-batch store
    (0 until 3).foreach { i =>
      cells.filter(substring(col("qualifier"), 5, 2).cast("int") % 3 === i)
        .coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    val stats = graft.sources.KvCompaction.compact(spark, store,
      targetFiles = 2, retainVersions = Some(2))
    require(stats.dropped > 0, s"version GC dropped nothing: $stats")
    spark.read.format("graft-kv").load(store)
      .withColumn("version", substring(col("qualifier"), 5, 2).cast("int"))
      .select("rowkey", "version", "value")
      .orderBy("rowkey", "version")
  }

  /** Same result as the read-time window — that equivalence IS the key. */
  val kvCompactVersionsOracle: String = kvVersionedReadOracle

  /** DELETE MARKERS (HBase tombstones) on the graft-kv store: a delete
    * is just another appended cell whose value is the reserved
    * [[graft.sources.KvCompaction.Tombstone]] marker — O(1) write, no
    * read-modify-write, exactly how an LSM store deletes. The marker
    * masks every data cell at its (rowkey, qualifier) coordinate until
    * a MAJOR compaction run with `purgeTombstones = true` physically
    * drops both the masked cells and the markers (HBase's "deletes die
    * at major compaction"). The graded read is the RAW post-compaction
    * store — no masking logic anywhere in the read plan — proving the
    * purge itself produced the masked view. At 100 TB the marker join
    * is a broadcast (deletes are tiny vs data) inside the one rewrite
    * pass the compaction already pays for. */
  /** MINOR COMPACTION + MASKED READ — the other half of the HBase
    * delete contract the major-compaction key (`kv_tombstone_delete`)
    * proves: a MINOR pass merges only the smallest files (here the
    * flush tail: the tiny delete batch + the two smallest data flushes)
    * and tombstone markers SURVIVE it — the run itself requires a
    * marker is still physically present post-merge. Deletes therefore
    * take effect at READ time via masking (one anti-join on the tiny
    * distinct marker set — a broadcast at any scale) until the next
    * major compaction physically purges them. The graded read is the
    * masked view, which must equal what the major-compaction key
    * produces physically — same oracle, opposite enforcement point. */
  def kvMinorCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "supplier_kv_minor")
    val cells = Scans.scanKvModel(spark, sfDir)
    // flush-tail realism: three overlapping small data files...
    (0 until 3).foreach { i =>
      cells.filter(col("rowkey") % 3 === i).coalesce(1)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    // ...plus a smaller fourth holding the delete markers (every 4th
    // supplier's name cell, one marker per coordinate)
    cells.filter(col("qualifier") === "name" && col("rowkey") % 4 === 1)
      .select(col("rowkey"), col("qualifier"),
        lit(graft.sources.KvCompaction.Tombstone).as("value"))
      .coalesce(1)
      .write.format("graft-kv").option("path", store).mode("append").save()
    val stats = graft.sources.KvCompaction.minorCompact(spark, store,
      mergeSmallest = 3)
    require(stats.filesAfter < stats.filesBefore,
      s"minor compaction did not shrink the file count: $stats")
    val raw = spark.read.format("graft-kv").load(store)
    val markers = raw
      .filter(col("value") === graft.sources.KvCompaction.Tombstone)
      .select("rowkey", "qualifier").distinct()
    // the contract itself: markers must SURVIVE a minor pass
    require(markers.limit(1).count() == 1,
      "tombstone markers died in a minor compaction")
    raw.join(markers, Seq("rowkey", "qualifier"), "left_anti")
      .orderBy("rowkey", "qualifier")
  }

  /** Masked view == what major compaction produces physically.
    * (`def`, not `val`: it forward-references `kvTombstoneDeleteOracle`,
    * which initializes later in this object.) */
  def kvMinorCompactOracle: String = kvTombstoneDeleteOracle

  def kvTombstoneDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "supplier_kv_tomb")
    val cells = Scans.scanKvModel(spark, sfDir)
    cells.write.format("graft-kv").option("path", store).mode("append").save()
    // a later batch deletes every 4th supplier's name cell: one marker
    // per coordinate (HBase Delete of a column, all versions)
    cells.filter(col("qualifier") === "name" && col("rowkey") % 4 === 1)
      .select(col("rowkey"), col("qualifier"),
        lit(graft.sources.KvCompaction.Tombstone).as("value"))
      .coalesce(1)
      .write.format("graft-kv").option("path", store).mode("append").save()
    val stats = graft.sources.KvCompaction.compact(spark, store,
      targetFiles = 2, purgeTombstones = true)
    require(stats.dropped > 0, s"tombstone purge dropped nothing: $stats")
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** TTL EXPIRY AT MAJOR COMPACTION — HBase's other retention axis
    * (time, vs `kv_compact_versions`' count): cells carry their write
    * day in the qualifier (`d:yyyyMMdd` — deliberately NOT the `@NN`
    * versioned convention, so the two policies can't interact), and a
    * major compaction with a TTL keep-predicate physically drops every
    * cell older than 14 days — HBase's "TTL'd cells die at compaction".
    * The cutoff is DATA-DETERMINED (max event day − 13), so the key
    * stays meaningful at every SF with no wall-clock dependence; the
    * yyyyMMdd encoding makes the age test a LEXICOGRAPHIC string
    * compare both engines order identically. The graded read is the
    * RAW post-compaction store — no filter in the read plan — so only
    * the physical purge can produce the expired view. At 100 TB the
    * predicate rides inside the rewrite pass compaction already pays
    * for (zero extra shuffles), exactly where HBase evaluates TTL. */
  def kvTtlExpiry(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "events_kv_ttl")
    val ev = events(spark, sfDir)
      .select(col("event_id").as("rowkey"),
        concat(lit("d:"), date_format(to_date(col("ts")), "yyyyMMdd"))
          .as("qualifier"),
        dec(col("value")).cast("string").as("value"))
    // flush realism: two overlapping appends so compaction has files to merge
    (0 until 2).foreach { i =>
      ev.filter(col("rowkey") % 2 === i)
        .write.format("graft-kv").option("path", store).mode("append").save()
    }
    val cutoff = events(spark, sfDir)
      .agg(date_format(date_sub(max(to_date(col("ts"))), 13), "yyyyMMdd"))
      .collect()(0).getString(0)
    val stats = graft.sources.KvCompaction.compact(spark, store,
      targetFiles = 2,
      keepIf = Some(substring(col("qualifier"), 3, 8) >= lit(cutoff)))
    require(stats.dropped > 0, s"TTL expiry dropped nothing: $stats")
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** The cells young enough to survive the 14-day TTL, nothing else. */
  val kvTtlExpiryOracle: String =
    """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events)
      |SELECT event_id AS rowkey,
      |  'd:' || strftime(CAST(ts AS DATE), '%Y%m%d') AS qualifier,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value
      |FROM events, mx
      |WHERE CAST(ts AS DATE) >= mx.d - 13
      |ORDER BY rowkey, qualifier""".stripMargin

  /** BULK LOAD — HBase's completebulkload ingest path, end to end: the
    * heavy half is a normal distributed write (`repartitionByRange` on
    * rowkey = region alignment, sorted within each file, write-time
    * stats) into a STAGING dir; the load itself is
    * [[graft.sources.KvCompaction.bulkLoad]] — a link per staged file
    * plus one index commit, O(files) metadata regardless of data volume,
    * never a write-path rewrite. The live store already holds the
    * `acctbal` column written through the normal path; the bulk half
    * delivers `name` + `nationkey`, so the graded read also proves
    * loaded and written files serve ONE coherent table. Region
    * alignment (pairwise rowkey-disjoint staged files) is enforced by
    * the loader, and OperatorSpec pins the mechanism: the load adds
    * exactly the staged files to the store dir and their stats
    * entries keep min/max pruning working. */
  def kvBulkLoad(spark: SparkSession, sfDir: String): DataFrame = {
    val store = snapshotRoot(sfDir, "supplier_kv_bulk")
    val staging = snapshotRoot(sfDir, "supplier_kv_bulk_stage")
    val cells = Scans.scanKvModel(spark, sfDir)
    cells.filter(col("qualifier") === "acctbal")
      .write.format("graft-kv").option("path", store).mode("append").save()
    cells.filter(col("qualifier") =!= "acctbal")
      .repartitionByRange(4, col("rowkey"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", staging).mode("append").save()
    val stats = graft.sources.KvCompaction.bulkLoad(staging, store)
    require(stats.filesLoaded >= 2,
      s"bulk load loaded too few files to prove region alignment: $stats")
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** Written + loaded halves together == the full model table. */
  val kvBulkLoadOracle: String = Scans.scanKvModelOracle

  /** The model cells minus the deleted coordinates, markers included. */
  val kvTombstoneDeleteOracle: String =
    """SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value FROM supplier
      |UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier WHERE s_suppkey % 4 <> 1
      |UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
      |ORDER BY rowkey, qualifier""".stripMargin

  /** SECONDARY-INDEX LOOKUP — the classic HBase pattern for a query on
    * a non-rowkey attribute: a second kv store keyed BY the attribute
    * (rowkey = nationkey, qualifier = zero-padded suppkey) written
    * range-partitioned, so an attribute probe becomes a PRUNED index
    * scan (min/max + bloom skip the non-covering files) instead of a
    * full base scan. The handful of matching suppkeys then joins back
    * to the base store's name cells — broadcast, because an index probe
    * result is tiny by construction. At 100 TB: O(probe files) + one
    * broadcast join vs a full-store scan-and-filter; the index is
    * maintained as just another store (same writer, same snapshots). */
  def kvSecondaryIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val base = freshKvStore(spark, sfDir, "supplier_kv_sidx_base")
    val idxStore = snapshotRoot(sfDir, "supplier_kv_sidx_idx")
    supplier(spark, sfDir)
      .select(col("s_nationkey").cast("long").as("rowkey"),
        lpad(col("s_suppkey").cast("string"), 10, "0").as("qualifier"),
        lit("1").as("value"))
      .repartitionByRange(4, col("rowkey"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", idxStore).mode("append").save()
    // probe key 3: present at EVERY scale factor (sf0.001's sparse
    // supplier table holds no nationkey 7 — a probe with zero hits
    // would make this key vacuously green, empty == empty)
    val hits = spark.read.format("graft-kv").load(idxStore)
      .filter(col("rowkey") === 3) // pruned: min/max skips non-covering files
      .select(col("qualifier").cast("long").as("suppkey"))
    base.filter(col("qualifier") === "name")
      .join(broadcast(hits), col("rowkey") === col("suppkey"))
      .select(col("rowkey"), col("value").as("name"))
      .orderBy("rowkey")
  }

  val kvSecondaryIndexOracle: String =
    """SELECT s_suppkey AS rowkey, s_name AS name FROM supplier
      |WHERE s_nationkey = 3 ORDER BY rowkey""".stripMargin

  /** SNAPSHOT CLONE → DIVERGE — HBase's clone_snapshot as a graded
    * roundtrip: snapshot the model cells, CLONE the snapshot into a new
    * writable store (hard links, zero data copied), then APPEND new
    * cells to the clone. The returned frame is the diverged clone —
    * original cells plus the appended ones — and the snapshot must
    * still verify afterwards (immutable store files make the links
    * safe; OperatorSpec pins the post-divergence verify). At 100 TB a
    * clone is O(files) metadata, which is the whole point: test/dev
    * copies of a production store cost nothing until they diverge. */
  def kvClone(spark: SparkSession, sfDir: String): DataFrame = {
    val root = snapshotRoot(sfDir, "kv_clone_snap")
    val cloneStore = Scratch.forSf(sfDir, "kv_clone_store")
    Scratch.deleteTree(cloneStore)
    val cells = Scans.scanKvModel(spark, sfDir)
    graft.sources.KvSnapshots.create(cells, root, "base")
    graft.sources.KvSnapshots.clone(root, "base", cloneStore)
    // diverge: a new "clone" qualifier cell for every 4th rowkey
    cells.filter(col("qualifier") === "name" && col("rowkey") % 4 === 0)
      .select(col("rowkey"), lit("clone").as("qualifier"),
        concat(lit("c"), col("rowkey").cast("string")).as("value"))
      .write.format("graft-kv").option("path", cloneStore).mode("append").save()
    // the source snapshot is untouched by the divergence
    graft.sources.KvSnapshots.verify(spark, root, "base")
    spark.read.format("graft-kv").load(cloneStore)
      .orderBy("rowkey", "qualifier")
  }

  val kvCloneOracle: String =
    """SELECT s_suppkey AS rowkey, 'acctbal' AS qualifier,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS value FROM supplier
      |UNION ALL SELECT s_suppkey, 'name', s_name FROM supplier
      |UNION ALL SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
      |UNION ALL SELECT s_suppkey, 'clone', 'c' || CAST(s_suppkey AS VARCHAR)
      |FROM supplier WHERE s_suppkey % 4 = 0
      |ORDER BY rowkey, qualifier""".stripMargin

  /** REGION SPLIT + MERGE — the HBase region lifecycle on the graft-kv
    * store: a store that outgrows its serving unit SPLITS at the rowkey
    * midpoint into two child stores (each range-partitioned and sorted,
    * i.e. immediately compact), and a later read MERGES the children
    * back into one view. The split point comes from the stats index via
    * the pushed min/max aggregate — zero data bytes read to plan the
    * split, exactly how HBase picks midkeys from HFile metadata. The
    * oracle proves split∘merge == identity (no cell lost or duplicated
    * across the boundary); KvSnapshotsSpec-style disjointness (every
    * child file's range sits strictly on its side) is pinned in
    * OperatorSpec. At 100 TB each child write is one range-shuffle of
    * its half, and the merged read is just a two-dir scan — splits
    * never rewrite the parent twice. */
  def kvSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val parent = freshKvStore(spark, sfDir, "supplier_kv_split_parent")
    // metadata-only split planning: min/max answered from the stats
    // index (SupportsPushDownAggregates), no data read
    val Array(row) = parent.agg(min(col("rowkey")), max(col("rowkey"))).collect()
    val splitAt = (row.getLong(0) + row.getLong(1)) / 2
    val (childA, childB) = (snapshotRoot(sfDir, "supplier_kv_split_a"),
      snapshotRoot(sfDir, "supplier_kv_split_b"))
    parent.filter(col("rowkey") <= splitAt)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", childA).mode("append").save()
    parent.filter(col("rowkey") > splitAt)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", childB).mode("append").save()
    spark.read.format("graft-kv").load(childA)
      .unionByName(spark.read.format("graft-kv").load(childB))
      .orderBy("rowkey", "qualifier")
  }

  /** split∘merge must be the identity on the model cells. */
  val kvSplitOracle: String = Scans.scanKvModelOracle

  /** REGION MERGE — the other half of the HBase region lifecycle (see
    * [[kvSplit]]): two adjacent child regions physically merge back into
    * one store via [[graft.sources.KvCompaction.mergeRegions]] — a pure
    * METADATA operation (adjacency proven from the stats index, files
    * linked in and made visible by one index commit, parents retired
    * after it;
    * zero data bytes read or rewritten no matter the region size, which
    * is why HBase merges are cheap even on TB regions). The graded read
    * is the MERGED store, so the merge must be lossless: the oracle is
    * the split∘merge identity, same as `kv_split` — but here the merge
    * is a physical store operation, not a two-dir unioned read. */
  def kvRegionMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val parent = freshKvStore(spark, sfDir, "supplier_kv_rmerge_parent")
    val Array(row) = parent.agg(min(col("rowkey")), max(col("rowkey"))).collect()
    val splitAt = (row.getLong(0) + row.getLong(1)) / 2
    val (childA, childB) = (snapshotRoot(sfDir, "supplier_kv_rmerge_a"),
      snapshotRoot(sfDir, "supplier_kv_rmerge_b"))
    parent.filter(col("rowkey") <= splitAt)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", childA).mode("append").save()
    parent.filter(col("rowkey") > splitAt)
      .repartitionByRange(2, col("rowkey"), col("qualifier"))
      .sortWithinPartitions("rowkey", "qualifier")
      .write.format("graft-kv").option("path", childB).mode("append").save()
    val merged = Scratch.forSf(sfDir, "supplier_kv_rmerge_merged")
    Scratch.deleteTree(merged)
    graft.sources.KvCompaction.mergeRegions(childA, childB, merged)
    spark.read.format("graft-kv").load(merged)
      .orderBy("rowkey", "qualifier")
  }

  val kvRegionMergeOracle: String = Scans.scanKvModelOracle

  /** REGION REBALANCE (r11) — the third verb of the region lifecycle
    * (split grows the region count, merge shrinks it, REBALANCE moves
    * regions across servers when load skews — HBase's balancer). The
    * production balancer is randomized (stochastic cost descent), so
    * this grades the deterministic core every balancer reduces to:
    * LPT-style snake placement — regions ranked by size (cells DESC,
    * region-id tiebreak), dealt across 5 servers boustrophedon (left-
    * to-right, then right-to-left), which bounds the max/min server
    * spread by one region size without any sequential greedy state —
    * fully parallel, no driver loop (contrast MMR's unrolled greedy:
    * here the snake closed form IS the assignment). The global
    * size-rank itself is computed the DISTRIBUTED way — never an
    * unpartitioned window (the whole-surface PlanSpec rule): rank =
    * (count of strictly-larger regions, from a broadcast histogram
    * theta-join) + row_number within the equal-size group (a
    * PARTITIONED window) — the standard two-phase global-rank idiom
    * that holds at any region count. Regions = rowkey÷8 ranges over
    * the store's cells, read back through the graft-kv connector like
    * every kv key. At 100 TB the input is region METADATA (count ≈
    * store size / region size), dimension-sized regardless of table
    * size. */
  def kvRegionRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = freshKvStore(spark, sfDir, "supplier_kv_rebalance")
    val regions = cells
      .groupBy(floor(col("rowkey") / 8).cast("long").as("region"))
      .agg(count(lit(1)).as("cells"))
    // phase 1: regions strictly larger than mine, via the size
    // histogram (metadata-sized, broadcast)
    val hist = regions.groupBy(col("cells").as("hc")).agg(count(lit(1)).as("hn"))
    val prefix = hist.as("a")
      .join(broadcast(hist.as("b")), col("b.hc") > col("a.hc"), "left")
      .groupBy(col("a.hc").as("pc"))
      .agg(coalesce(sum(col("b.hn")), lit(0L)).as("before"))
    // phase 2: row_number within the equal-size group only — partitioned
    val within = row_number()
      .over(Window.partitionBy(col("cells")).orderBy(col("region"))) - 1
    regions
      .join(broadcast(prefix), col("cells") === col("pc"))
      .withColumn("rn", (col("before") + within).cast("long"))
      .withColumn("server",
        when((col("rn") / 5).cast("long") % 2 === 0, col("rn") % 5)
          .otherwise(lit(4) - col("rn") % 5))
      .groupBy(col("server").cast("long").as("server"))
      .agg(count(lit(1)).as("n_regions"), sum(col("cells")).as("total_cells"),
        min(col("region")).as("min_region"), max(col("region")).as("max_region"))
      .orderBy("server")
  }

  val kvRegionRebalanceOracle: String =
    """WITH cells AS (
      |  SELECT s_suppkey AS rowkey FROM supplier
      |  UNION ALL SELECT s_suppkey FROM supplier
      |  UNION ALL SELECT s_suppkey FROM supplier),
      |regions AS (SELECT CAST(FLOOR(rowkey / 8) AS BIGINT) AS region,
      |    CAST(COUNT(*) AS BIGINT) AS cells
      |  FROM cells GROUP BY 1),
      |ranked AS (SELECT region, cells,
      |    ROW_NUMBER() OVER (ORDER BY cells DESC, region) - 1 AS rn
      |  FROM regions),
      |placed AS (SELECT region, cells,
      |    CASE WHEN CAST(FLOOR(rn / 5) AS BIGINT) % 2 = 0 THEN rn % 5
      |         ELSE 4 - rn % 5 END AS server
      |  FROM ranked)
      |SELECT CAST(server AS BIGINT) AS server,
      |  CAST(COUNT(*) AS BIGINT) AS n_regions,
      |  CAST(SUM(cells) AS BIGINT) AS total_cells,
      |  CAST(MIN(region) AS BIGINT) AS min_region,
      |  CAST(MAX(region) AS BIGINT) AS max_region
      |FROM placed GROUP BY server ORDER BY server""".stripMargin

  /** PIVOT: order counts per priority × status (explicit value list so
    * the output schema is static). */
  def pivotStatusByPriority(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .orderBy("o_orderpriority")

  val pivotStatusByPriorityOracle: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bucketed parquet table write (8 buckets on the join key) +
    * read-back aggregate — the no-shuffle-join building block from
    * SCALE.md. The oracle checks the aggregate against the source. */
  def exportBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    // the catalog table name is PER-CALL unique (the catalog is
    // session-global: a fixed name would let a concurrent run's
    // overwrite swap the table between this run's write and read-back),
    // and dropped after the tiny aggregate is copied out — no catalog
    // leak, no cross-run race
    // ONE uuid for both the table name AND the data path: a unique
    // table over a fixed shared path would still let a concurrent
    // call's overwrite swap the files between write and read-back
    val uniq = java.util.UUID.randomUUID().toString.take(8)
    val table = s"graft_lineitem_bucketed_$uniq"
    lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey")
      .option("path", Scratch.forSf(sfDir, s"lineitem_bucketed_$uniq"))
      .saveAsTable(table)
    try {
      val agg = spark.table(table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("decimal(18,2)").cast("double").as("sum_qty"))
      // 3 tiny rows: copy out so the table can be dropped before return
      val (rows, schema) = (agg.collect(), agg.schema)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("l_returnflag")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  val exportBucketedOracle: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** WAL REPLAY — the HBase recovery path (distributed log split →
    * per-region replay) as a graded key: an append-only edit log is
    * split BY REGION into separate files, then each (rowkey, qualifier)
    * coordinate replays to its highest-seqid entry, delete markers
    * suppress the cell, and the surviving puts flush into a graft-kv
    * store (the memstore-flush step). Events plays the WAL directly:
    * rowkey = user_id, qualifier = event_type, seq = event_id (unique,
    * monotone — a real WAL's per-region sequence id), op = delete when
    * value < 5.0. Last-write-wins is a rank-1 window keyed by the cell
    * coordinate — ONE shuffle at any scale, and the region partitioning
    * of the log mirrors how a 1000-region cluster replays logs in
    * parallel with no cross-region coordination. The oracle recomputes
    * the final state straight from events, so the log write, split
    * read-back, replay, and store roundtrip must all be lossless. */
  def kvWalReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val walDir = Scratch.forSf(sfDir, "kv_wal_log")
    events(spark, sfDir).select(
        col("user_id").as("rowkey"),
        col("event_type").as("qualifier"),
        col("event_id").as("seq"),
        when(col("value") < 5.0, "delete").otherwise("put").as("op"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) AS STRING)").as("value"),
        (col("user_id") % 4).as("region"))
      .write.mode("overwrite").partitionBy("region").parquet(walDir)
    val replayed = spark.read.parquet(walDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("rowkey", "qualifier").orderBy(col("seq").desc)))
      .filter(col("rn") === 1 && col("op") === "put")
      .select("rowkey", "qualifier", "value")
    val store = snapshotRoot(sfDir, "kv_wal_store")
    replayed.write.format("graft-kv").option("path", store).mode("append").save()
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  val kvWalReplayOracle: String =
    """WITH wal AS (SELECT user_id AS rowkey, event_type AS qualifier,
      |    event_id AS seq,
      |    CASE WHEN value < 5.0 THEN 'delete' ELSE 'put' END AS op,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value
      |  FROM events),
      |last AS (SELECT rowkey, qualifier, op, value,
      |    ROW_NUMBER() OVER (PARTITION BY rowkey, qualifier ORDER BY seq DESC) AS rn
      |  FROM wal)
      |SELECT rowkey, qualifier, value FROM last
      |WHERE rn = 1 AND op = 'put' ORDER BY rowkey, qualifier""".stripMargin

  /** POINT-IN-TIME RECOVERY — snapshot + WAL roll-forward composed, the
    * full HBase disaster-recovery story: the store's state at a
    * data-determined sequence point S (midpoint of the seq domain) is
    * flushed and SNAPSHOTTED; recovery then restores the verified
    * snapshot and rolls the WAL tail (seq > S) forward over it —
    * restored cells ride as seq=S puts, so one last-write-wins window
    * arbitrates restored-vs-tail per coordinate with no tie possible
    * (tail seqs are strictly greater). The graded read is the final
    * recovered store, and the oracle is FULL-log replay from scratch:
    * snapshot create, checksum-verified restore, and forward replay
    * must compose to exactly the state a never-crashed store would
    * hold — deletes in the tail kill snapshot cells, re-puts revive
    * deleted ones. Shape at 100 TB: the tail window is one cell-keyed
    * shuffle (same as `kv_wal_replay`), the snapshot side is O(files)
    * metadata + one scan, and recovery cost scales with the tail
    * length, not store size — the reason PITR exists. */
  def kvPitrRestore(spark: SparkSession, sfDir: String): DataFrame = {
    val coordW = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "qualifier").orderBy(col("seq").desc)
    val wal = events(spark, sfDir).select(
      col("user_id").as("rowkey"),
      col("event_type").as("qualifier"),
      col("event_id").as("seq"),
      when(col("value") < 5.0, "delete").otherwise("put").as("op"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) AS STRING)").as("value"))
    val Array(b) = wal.agg(min(col("seq")), max(col("seq"))).collect()
    val s = (b.getLong(0) + b.getLong(1)) / 2
    val atS = wal.filter(col("seq") <= s)
      .withColumn("rn", row_number().over(coordW))
      .filter(col("rn") === 1 && col("op") === "put")
      .select("rowkey", "qualifier", "value")
    val baseStore = snapshotRoot(sfDir, "kv_pitr_base")
    atS.write.format("graft-kv").option("path", baseStore).mode("append").save()
    val root = snapshotRoot(sfDir, "kv_pitr_snap")
    graft.sources.KvSnapshots.create(
      spark.read.format("graft-kv").load(baseStore), root, "pit")
    val restored = graft.sources.KvSnapshots.restore(spark, root, "pit")
      .withColumn("seq", lit(s)).withColumn("op", lit("put"))
      .select("rowkey", "qualifier", "seq", "op", "value")
    val winners = restored
      .unionByName(wal.filter(col("seq") > s))
      .withColumn("rn", row_number().over(coordW))
      .filter(col("rn") === 1 && col("op") === "put")
      .select("rowkey", "qualifier", "value")
    val finalStore = snapshotRoot(sfDir, "kv_pitr_store")
    winners.write.format("graft-kv").option("path", finalStore).mode("append").save()
    spark.read.format("graft-kv").load(finalStore).orderBy("rowkey", "qualifier")
  }

  /** PITR must equal full-log replay from scratch. */
  val kvPitrRestoreOracle: String = kvWalReplayOracle

  /** CONTINUOUS WAL REPLICATION (r12) — the HBase inter-cluster
    * replication story end-to-end: the primary's edit log ships to a
    * replica queue in 4 bounded seq-range batches behind a durable
    * atomic OFFSET ledger ([[graft.sources.KvReplication.ship]] —
    * kill-mid-ship and resume are spec-covered with fault injection,
    * KvSnapshotsSpec), the replica applies the committed queue with
    * one cell-keyed last-write-wins shuffle (deletes suppress) and
    * flushes into a graft-kv store, and the graded read-back must
    * equal FULL-log replay from scratch — the same oracle PITR
    * answers to, so shipping in batches provably loses and invents
    * nothing. The VerifyReplication-style checksum convergence report
    * is asserted in the spec (it detects a tampered replica cell).
    * At 100 TB each batch ships as a bounded tail write and apply is
    * one shuffle over shipped edits — replication cost scales with
    * the edit rate, never the store size. */
  def kvReplication(spark: SparkSession, sfDir: String): DataFrame = {
    val wal = events(spark, sfDir).select(
      col("user_id").as("rowkey"),
      col("event_type").as("qualifier"),
      col("event_id").as("seq"),
      when(col("value") < 5.0, "delete").otherwise("put").as("op"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) AS STRING)").as("value"))
    val replRoot = snapshotRoot(sfDir, "kv_repl_root")
    graft.sources.KvReplication.ship(spark, wal, replRoot, batches = 4)
    val store = snapshotRoot(sfDir, "kv_repl_store")
    graft.sources.KvReplication.applyShipped(spark, replRoot, store)
    spark.read.format("graft-kv").load(store).orderBy("rowkey", "qualifier")
  }

  /** Replication must converge to exactly full-log replay. */
  val kvReplicationOracle: String = kvWalReplayOracle

  /** COMPRESSION CODECS — a 100 TB pipeline never ships uncompressed
    * text: gzip'd CSV is the classic interchange shape (unsplittable —
    * one task per file, which is exactly why many small .gz files beat
    * one big one) and zstd parquet is the modern lake default. Graded:
    * orders → .csv.gz → read-back identity (the decompression path must
    * be lossless); OperatorSpec pins the MECHANISM — the files really
    * are .gz and materially smaller than the plain-text bytes, and a
    * zstd parquet roundtrip holds too (the result alone can't prove
    * compression happened). */
  def sourceCompressedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "orders_csv_gz")
    orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)").as("total_str"))
      .write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(dest)
    spark.read
      .schema("o_orderkey LONG, o_custkey LONG, total_str STRING")
      .option("header", "true").csv(dest)
      .select(col("o_orderkey"), col("o_custkey"),
        col("total_str").cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val sourceCompressedRoundtripOracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** MALFORMED-ROW HANDLING — at 100 TB, corrupt input lines are a
    * certainty, and the difference between PERMISSIVE (quarantine) and
    * FAILFAST (abort) is an operational contract every ingest pipeline
    * sets explicitly. Orders render to CSV with every 97th key's line
    * deliberately mangled (a type-unparseable first field); the
    * PERMISSIVE read with `columnNameOfCorruptRecord` parses the good
    * lines and lands each bad line's RAW TEXT in the quarantine column
    * instead of killing the job. Graded: the good/quarantined split and
    * an exact checksum over the PARSED keys — so a row silently dropped
    * OR silently mis-parsed both fail the oracle (which recomputes the
    * split from the injection rule). Scale: the read is a plain
    * line-splittable CSV scan; quarantine costs one extra string
    * column on bad rows only. */
  def sourceCsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Scratch.forSf(sfDir, "orders_csv_malformed")
    orders(spark, sfDir)
      .select(when(col("o_orderkey") % 97 === 0,
          concat(lit("X"), col("o_orderkey").cast("string"), lit(",bad")))
        .otherwise(concat_ws(",", col("o_orderkey"), col("o_custkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)")))
        .as("value"))
      .write.mode("overwrite").text(dest)
    spark.read
      .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, _quarantine STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .csv(dest)
      .agg(count(col("o_orderkey")).as("n_good"),
        count(col("_quarantine")).as("n_quarantined"),
        sum(col("o_orderkey")).as("key_checksum"),
        sum(dec(col("o_totalprice"))).cast("decimal(18,2)").cast("double").as("sum_price_good"))
  }

  val sourceCsvMalformedOracle: String =
    """SELECT
      |  COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS n_good,
      |  COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS n_quarantined,
      |  CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS BIGINT) AS key_checksum,
      |  CAST(CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price_good
      |FROM orders""".stripMargin

  /** UNPIVOT (melt) — the inverse of [[pivotStatusByPriority]] and the
    * other half of the reshape surface: the wide per-priority status
    * counts fold back to long (priority, status, n) rows, zero cells
    * included — so the graded result proves the unpivot emitted every
    * (id, column) pair, not just the populated ones. Unpivot is a
    * zero-shuffle projection (each input row explodes to its value
    * columns in place); the only shuffles here belong to the pivot
    * that builds the wide input. The oracle rebuilds the long form
    * relationally: distinct priorities × the fixed status list, left
    * joined to the direct counts with COALESCE 0. */
  val pivotUnpivot: Key = Key.sql("pivot_unpivot") { t =>
    s"""WITH pr AS (SELECT DISTINCT o_orderpriority FROM ${t("orders")}),
       |st AS (SELECT * FROM (VALUES ('F'), ('O'), ('P')) s(o_orderstatus)),
       |c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
       |  FROM ${t("orders")} WHERE o_orderstatus IN ('F', 'O', 'P') GROUP BY 1, 2)
       |SELECT pr.o_orderpriority, st.o_orderstatus, COALESCE(c.n, 0) AS n
       |FROM pr CROSS JOIN st
       |LEFT JOIN c ON c.o_orderpriority = pr.o_orderpriority
       |  AND c.o_orderstatus = st.o_orderstatus
       |ORDER BY 1, 2""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("source_csv_malformed", sourceCsvMalformed, sourceCsvMalformedOracle),
    Key("source_compressed_roundtrip", sourceCompressedRoundtrip, sourceCompressedRoundtripOracle),
    pivotUnpivot,
    Key("kv_pitr_restore", kvPitrRestore, kvPitrRestoreOracle),
    Key("kv_wal_replay", kvWalReplay, kvWalReplayOracle),
    Key("kv_replication", kvReplication, kvReplicationOracle),
    Key("kv_region_merge", kvRegionMerge, kvRegionMergeOracle),
    Key("kv_region_rebalance", kvRegionRebalance, kvRegionRebalanceOracle),
    Key("source_schema_evolution", sourceSchemaEvolution, sourceSchemaEvolutionOracle),
    Key("source_text_roundtrip", sourceTextRoundtrip, sourceTextRoundtripOracle),
    Key("source_csv_roundtrip", sourceCsvRoundtrip, sourceCsvRoundtripOracle),
    Key("source_json_roundtrip", sourceJsonRoundtrip, sourceJsonRoundtripOracle),
    Key("source_orc_roundtrip", sourceOrcRoundtrip, sourceOrcRoundtripOracle),
    Key("source_kv_connector", sourceKvConnector, sourceKvConnectorOracle),
    Key("kv_stats_pushdown", kvStatsPushdown, kvStatsPushdownOracle),
    Key("kv_stats_by_qualifier", kvStatsByQualifier, kvStatsByQualifierOracle),
    Key("kv_bloom_lookup", kvBloomLookup, kvBloomLookupOracle),
    Key("kv_scrub", kvScrub, kvScrubOracle),
    Key("kv_snapshot_lifecycle", kvSnapshotLifecycle, kvSnapshotLifecycleOracle),
    Key("kv_snapshot_incremental", kvSnapshotIncremental, kvSnapshotIncrementalOracle),
    Key("kv_snapshot_export", kvSnapshotExport, kvSnapshotExportOracle),
    Key("kv_snapshot_verify", kvSnapshotVerify, kvSnapshotVerifyOracle),
    Key("kv_snapshot_diff", kvSnapshotDiff, kvSnapshotDiffOracle),
    Key("kv_changefeed_apply", kvChangefeedApply, kvChangefeedApplyOracle),
    Key("kv_versioned_read", kvVersionedRead, kvVersionedReadOracle),
    Key("kv_compact_versions", kvCompactVersions, kvCompactVersionsOracle),
    Key("kv_tombstone_delete", kvTombstoneDelete, kvTombstoneDeleteOracle),
    Key("kv_minor_compact", kvMinorCompact, kvMinorCompactOracle),
    Key("kv_ttl_expiry", kvTtlExpiry, kvTtlExpiryOracle),
    Key("kv_bulk_load", kvBulkLoad, kvBulkLoadOracle),
    Key("kv_secondary_index", kvSecondaryIndex, kvSecondaryIndexOracle),
    Key("kv_split", kvSplit, kvSplitOracle),
    Key("kv_clone", kvClone, kvCloneOracle),
    Key("kv_compact", kvCompact, kvCompactOracle),
    Key("kv_stream_ingest", kvStreamIngest, kvStreamIngestOracle),
    Key("kv_stream_resume", kvStreamResume, kvStreamResumeOracle),
    Key("pivot_status_by_priority", pivotStatusByPriority, pivotStatusByPriorityOracle),
    Key("export_bucketed", exportBucketed, exportBucketedOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
