package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{KvCompaction, KvSnapshots}

/** The paper's workflow on the `graft-kv` store, once per round: create
  * a base snapshot, create an incremental one that shares unchanged
  * files, export it to several fresh roots, import one export back,
  * resume an export whose destination lost files, verify every copy,
  * restore with a full-scan aggregate, then clone into a store and
  * compact it. Writes (create, compact), copies (export) and reads
  * (restore) share one round, so a gain in one that costs another shows.
  *
  * Cells are laid out by a fixed bucket: `spark.range` puts a fixed
  * rowkey range in each of `buckets` partitions, one file per bucket,
  * sorted by (rowkey, qualifier). The incremental frame changes cells
  * only in `changed` seed-chosen buckets, so every other file is
  * byte-identical and the incremental snapshot shares it. */
object SnapshotCycle extends Workload {
  val name = "snapshot_cycle"

  final case class Size(rows: Long, buckets: Int, changed: Int, exports: Int, removed: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(rows = 2000, buckets = 8, changed = 2, exports = 2, removed = 2)
    else Size(rows = 50000, buckets = 32, changed = 3, exports = 3, removed = 4)

  val qualifiers: Seq[String] = Seq("cf:a", "cf:b", "cf:c", "cf:d")

  val scale: Option[String] = None

  /** `wall_s` leaves out the first round, which runs on a cold JIT
    * (about 2x a warm one); the second is still about 1.3x, so it takes
    * three more for the median to be a warm round. */
  override val minRounds = 4

  /** The cell table: unique (rowkey, qualifier) cells with seed-derived
    * values; cells of the `changed` buckets whose rowkey is a multiple
    * of 7 carry a second version of their value. */
  def cells(spark: SparkSession, seed: Long, sz: Size, changed: Set[Int]): DataFrame = {
    val base = spark.range(0, sz.rows, 1, sz.buckets)
      .select(col("id").as("rowkey"), explode(typedLit(qualifiers)).as("qualifier"))
    val edited = spark_partition_id().isin(changed.toSeq: _*) && pmod(col("rowkey"), lit(7)) === 0
    base.withColumn("value", sha2(concat_ws("|", lit(seed), col("rowkey"), col("qualifier"),
        when(edited, lit("v2")).otherwise(lit("v1"))), 256))
      .sortWithinPartitions("rowkey", "qualifier")
  }

  /** Order-independent content checksum: (cells, sum of cell hashes). */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("rowkey"), col("qualifier"), col("value")), lit(1000000007L))))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def changedBuckets(seed: Long, sz: Size): Set[Int] =
    new scala.util.Random(seed).shuffle((0 until sz.buckets).toList).take(sz.changed).toSet

  /** Bytes of all files under `root`, each hard-linked file once. */
  def physicalBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (Files.readAttributes(p, "unix:ino").get("ino"), Files.size(p)))
      .toMap.values.sum
    finally s.close()
  }

  private def snapBytes(root: Path, snap: String): Long =
    KvSnapshots.parseManifest(root.toString, snap).map(_.bytes).sum

  private var expected: (Long, Long) = (0L, 0L)

  def warmup(ctx: Ctx): Unit = {
    val sz = Size(rows = 500, buckets = 4, changed = 1, exports = 1, removed = 1)
    val dir = ctx.scratch.resolve("warmup")
    val df = cells(ctx.spark, ctx.seed, sz, Set(0))
    KvSnapshots.create(df, dir.resolve("src").toString, "w")
    KvSnapshots.export(ctx.spark, dir.resolve("src").toString, dir.resolve("dst").toString, "w")
    checksum(KvSnapshots.restore(ctx.spark, dir.resolve("dst").toString, "w"))
    graft.util.Scratch.deleteTree(dir.toString)
  }

  /** The input checksum every restore must reproduce; the cells are
    * the same in every round. */
  override def prepare(ctx: Ctx): Unit = {
    val sz = size(ctx.smoke)
    expected = checksum(cells(ctx.spark, ctx.seed, sz, changedBuckets(ctx.seed, sz)))
  }

  def round(ctx: Ctx): Unit = {
    val sz = size(ctx.smoke)
    val spark = ctx.spark
    val changed = changedBuckets(ctx.seed, sz)
    val dir = ctx.scratch.resolve(s"round-${ctx.round}")
    val src = dir.resolve("src").toString
    val dests = (0 until sz.exports).map(i => dir.resolve(s"dest$i").toString)
    val imported = dir.resolve("import").toString
    val store = dir.resolve("store").toString
    val rnd = new scala.util.Random(ctx.seed * 31 + ctx.round)

    ctx.op("KvSnapshots.create", "sources") {
      KvSnapshots.create(cells(spark, ctx.seed, sz, Set.empty), src, "base")
      true
    }
    ctx.op("KvSnapshots.create_incremental", "sources") {
      KvSnapshots.createIncremental(cells(spark, ctx.seed, sz, changed), src, "inc", "base")
      KvSnapshots.sharedFiles(src, "inc").size == sz.buckets - sz.changed
    }
    val files = KvSnapshots.parseManifest(src, "inc")
    val incBytes = files.map(_.bytes).sum
    ctx.sample("create_bytes", (snapBytes(Path.of(src), "base") + incBytes).toDouble)
    ctx.sample("cells", files.map(_.cells).sum.toDouble)
    ctx.sample("KvSnapshots.create_incremental.shared_ratio",
      KvSnapshots.sharedFiles(src, "inc").size.toDouble / files.size)
    ctx.sample("stored_bytes_ratio", physicalBytes(Path.of(src)).toDouble / incBytes)

    dests.foreach { d =>
      ctx.op("KvSnapshots.export", "sources") {
        val st = KvSnapshots.export(spark, src, d, "inc")
        ctx.sample("KvSnapshots.export.files", st.copied.toDouble)
        st.copied == files.size && st.skipped == 0
      }
      ctx.sample("export_bytes", incBytes.toDouble)
    }
    ctx.op("KvSnapshots.import", "sources") {
      val st = KvSnapshots.export(spark, dests.head, imported, "inc")
      st.copied == files.size && st.skipped == 0
    }
    ctx.sample("export_bytes", incBytes.toDouble)

    // an interrupted export: the destination lost its commit mark and
    // some files; the re-export must copy exactly those back
    val resumed = dests.last
    val lost = rnd.shuffle(files.map(_.file)).take(sz.removed)
    KvSnapshots.uncommit(resumed, "inc")
    lost.foreach(f => Files.delete(Path.of(resumed, "inc", "data", f)))
    ctx.op("KvSnapshots.export_resume", "sources") {
      val st = KvSnapshots.export(spark, src, resumed, "inc")
      ctx.sample("KvSnapshots.export_resume.skip_ratio", st.skipped.toDouble / files.size)
      st.copied == lost.size && st.copied + st.skipped == files.size
    }

    (dests :+ imported).foreach { d =>
      ctx.op("KvSnapshots.verify", "sources") { KvSnapshots.verify(spark, d, "inc"); true }
    }
    ctx.op("KvSnapshots.restore", "sources") {
      val df = KvSnapshots.restore(spark, src, "inc")
      val got = ctx.tracer.span("KvConnector.scan")(checksum(df))
      got == expected
    }
    ctx.sample("restore_bytes", incBytes.toDouble)

    ctx.op("KvSnapshots.clone", "sources") { KvSnapshots.clone(src, "inc", store); true }
    val liveBytes = physicalBytes(Path.of(store))
    ctx.op("KvCompaction.compact", "sources") {
      val st = KvCompaction.compact(spark, store, math.max(1, sz.buckets / 4))
      st.cells == files.map(_.cells).sum
    }
    ctx.sample("KvCompaction.compact.rewrite_ratio", physicalBytes(Path.of(store)).toDouble / liveBytes)
    graft.util.Scratch.deleteTree(dir.toString)
  }

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def med(name: String) = Stats.median(ctx.samples(name).toSeq)
    def opMed(name: String) = Stats.median(ctx.opSeconds(name))
    def rate(bytes: String, ops: String*) =
      Stats.mbPerSec(ctx.samples(bytes).sum.toLong, ops.flatMap(ctx.opSeconds).sum)
    val scan = Stats.median(ctx.tracer.spans.filter(_.name == "KvConnector.scan").map(_.seconds))
    Map(
      "KvSnapshots.create.s" -> opMed("KvSnapshots.create"),
      "KvSnapshots.create.cells_s" -> med("cells") / opMed("KvSnapshots.create"),
      "KvSnapshots.create_incremental.s" -> opMed("KvSnapshots.create_incremental"),
      "KvSnapshots.create_incremental.shared_ratio" -> med("KvSnapshots.create_incremental.shared_ratio"),
      "KvSnapshots.export.s" -> opMed("KvSnapshots.export"),
      "KvSnapshots.export.files" -> med("KvSnapshots.export.files"),
      "KvSnapshots.export_resume.s" -> opMed("KvSnapshots.export_resume"),
      "KvSnapshots.export_resume.skip_ratio" -> med("KvSnapshots.export_resume.skip_ratio"),
      "KvSnapshots.verify.s" -> opMed("KvSnapshots.verify"),
      "KvConnector.scan.s" -> scan,
      "KvConnector.scan.cells_s" -> med("cells") / scan,
      "KvCompaction.compact.s" -> opMed("KvCompaction.compact"),
      "KvCompaction.compact.rewrite_ratio" -> med("KvCompaction.compact.rewrite_ratio"),
      "create_mb_s" -> rate("create_bytes", "KvSnapshots.create", "KvSnapshots.create_incremental"),
      "export_mb_s" -> rate("export_bytes", "KvSnapshots.export", "KvSnapshots.import"),
      "restore_mb_s" -> rate("restore_bytes", "KvSnapshots.restore"),
      "stored_bytes_ratio" -> med("stored_bytes_ratio"))
  }
}
