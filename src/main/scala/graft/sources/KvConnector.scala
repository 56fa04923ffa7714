package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-kv` — a complete DataSourceV2 connector for a line-based cell
  * store (rowkey BIGINT, qualifier STRING, value STRING — the HBase-cell
  * long format the reference utility exports; see SURVEY.md §2.A R2).
  *
  * Read path: one InputPartition per data file (split = parallelism unit,
  * exactly like an HFile region at scale), column pruning via
  * SupportsPushDownRequiredColumns, and rowkey/qualifier predicate
  * pushdown via SupportsPushDownFilters — pushed predicates are applied
  * inside the partition reader so non-matching cells never reach Spark.
  *
  * Write path: each task streams its cells straight to a fresh file
  * name, and job commit publishes the `.file_meta.tsv` index that names
  * the job's files in one atomic replace. The index is the store's file
  * set: a reader never opens a file it does not name, so a failed task,
  * an aborted job, or a task that commits after the job abort leaves at
  * most an unindexed file that no reader sees (the one-PUT commit an
  * object store allows).
  *
  * Every storage mutation goes through [[KvFiles]], the one non-cluster
  * piece: at cluster scale only that object moves to the Hadoop
  * FileSystem API — the planning, pruning, pushdown, and commit
  * protocol are identical.
  */
object KvFormat {
  val schema: StructType = StructType(Seq(
    StructField("rowkey", LongType),
    StructField("qualifier", StringType),
    StructField("value", StringType)))

  val SEP = "\t"
  val SUFFIX = ".kv"

  /** Every `.kv` file in `dir`, indexed or not. Readers take the file
    * set from [[KvMeta]]; only scrub's orphan class and the staged
    * replace's sweep of unindexed leftovers list the directory. */
  def dataFiles(dir: String): Seq[Path] =
    graft.util.Scratch.children(dir).filter(_.getFileName.toString.endsWith(SUFFIX))
}

/** Per-file rowkey BLOOM FILTER — the HBase HFile-bloom analog. 256
  * bits, 2 hash functions derived from one splitmix64 mix of the rowkey
  * (deterministic, no seed state), built by the WRITE TASK as cells
  * stream through and carried in the stats index as 64 hex chars per
  * file. Point lookups (`rowkey = k` / `rowkey IN (...)`) then skip
  * files whose range covers k but whose bloom provably doesn't — at
  * 100 TB the difference between opening every overlapping file and
  * opening only the files that can actually hold the key. A missing
  * bloom (old-format index lines, hand-written fixtures) never skips:
  * pruning stays sound. False positives only cost a wasted open, never
  * correctness — the standard bloom contract. */
object KvBloom {
  val Bits = 256
  private val Words = Bits / 64

  /** splitmix64 finalizer: well-mixed 64 bits from a long key. */
  private def mix(k: Long): Long = {
    var z = k + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bitsOf(rowkey: Long): (Int, Int) = {
    val h = mix(rowkey)
    ((h & (Bits - 1)).toInt, ((h >>> 8) & (Bits - 1)).toInt)
  }

  def empty(): Array[Long] = new Array[Long](Words)

  def add(words: Array[Long], rowkey: Long): Unit = {
    val (b1, b2) = bitsOf(rowkey)
    words(b1 >>> 6) |= 1L << (b1 & 63)
    words(b2 >>> 6) |= 1L << (b2 & 63)
  }

  def toHex(words: Array[Long]): String = words.map(w => f"$w%016x").mkString

  def mightContain(hex: String, rowkey: Long): Boolean = {
    if (hex.length != Words * 16) return true // malformed -> never skip
    val (b1, b2) = bitsOf(rowkey)
    def bit(b: Int): Boolean = {
      val w = java.lang.Long.parseUnsignedLong(hex.substring((b >>> 6) * 16, (b >>> 6) * 16 + 16), 16)
      (w & (1L << (b & 63))) != 0
    }
    // ANY malformation (right length, non-hex byte) also means "never
    // skip" — a corrupted index column must degrade to a full plan, not
    // crash planning with a bare NumberFormatException
    try bit(b1) && bit(b2) catch { case _: NumberFormatException => true }
  }
}

/** Per-file statistics computed INSIDE the writing task (streaming MD5 +
  * cell count + rowkey min/max + rowkey bloom) and carried back through
  * the `WriterCommitMessage` — the scale rule is that checksum work
  * rides the distributed write, never a driver re-read (O(files) driver
  * metadata, O(data) only on executors). The job committer persists them
  * as the `.file_meta.tsv` index next to the data, the same role HBase
  * region metadata plays: rowkey bounds + bloom let the scan prune
  * files, and the snapshot manifest is assembled from these entries
  * without touching data bytes again. */
case class KvFileMeta(file: String, bytes: Long, md5: String, cells: Long,
    minKey: Long, maxKey: Long, qualCells: Map[String, Long] = Map.empty,
    bloomHex: Option[String] = None) {
  /** The per-qualifier breakdown is present and consistent — old-format
    * index lines (written before the 7th column existed) have no
    * breakdown, and a grouped-count pushdown must refuse them. */
  def qualifiersCovered: Boolean = qualCells.values.sum == cells
}

object KvMeta {
  val FILE = ".file_meta.tsv"

  // Qualifier names inside the index's breakdown column are URL-encoded:
  // the store already forbids tab/newline in qualifiers, but ',' and '='
  // are legal cell content and are this column's own separators.
  private def encQ(q: String): String =
    java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)
  private def decQ(q: String): String =
    java.net.URLDecoder.decode(q, StandardCharsets.UTF_8)

  private[sources] def encodeQuals(quals: Map[String, Long]): String =
    quals.toSeq.sortBy(_._1).map { case (q, n) => s"${encQ(q)}=$n" }.mkString(",")
  private[sources] def decodeQuals(s: String): Map[String, Long] =
    if (s.isEmpty) Map.empty
    else s.split(",").iterator.map { kv =>
      val i = kv.lastIndexOf('=')
      // corrupt stores fail DIAGNOSABLY (same rule as the cell reader):
      // a token without '=' must not surface as a bare
      // StringIndexOutOfBounds from deep inside planning. i == 0 is
      // LEGAL: the empty qualifier name (allowed by the writer, like
      // HBase's empty column qualifier) URL-encodes to "" and its
      // token is '=N' — rejecting it would poison every later read of
      // a store holding one legally-written empty-qualifier cell.
      require(i >= 0, s"malformed qualifier-count token '$kv'")
      decQ(kv.substring(0, i)) -> kv.substring(i + 1).toLong
    }.toMap

  /** The committed file set of a kv dir, by file name. A file the index
    * does not name is never read; a dir without an index is empty. */
  def read(dir: String): Map[String, KvFileMeta] = {
    val p = Paths.get(dir, FILE)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
      .zipWithIndex.map { case (l, ln) =>
        try {
          val a = l.split("\t", 8)
          KvFileMeta(a(0), a(1).toLong, a(2), a(3).toLong, a(4).toLong, a(5).toLong,
            if (a.length >= 7) decodeQuals(a(6)) else Map.empty,
            // col 8 (r7): rowkey bloom; absent/empty (old-format lines)
            // means "never skip" — pruning stays sound either way
            if (a.length >= 8 && a(7).nonEmpty) Some(a(7)) else None)
        } catch {
          case e: RuntimeException => throw new java.io.IOException(
            s"graft-kv: corrupt stats index at $dir/$FILE:${ln + 1} — ${e.getMessage}", e)
        }
      }
      .map(m => m.file -> m).toMap
  }

  /** The committed files in file-name order, the order scans plan in. */
  def files(dir: String): Seq[KvFileMeta] = read(dir).values.toSeq.sortBy(_.file)

  /** The one way a file becomes visible or invisible in a kv dir:
    * publish `(index − drop) ++ add` in one atomic replace (one committer
    * per dir: Spark's job commit is driver-side and serialized), then
    * delete the dropped files. A kill before the publish changes nothing
    * a reader sees; after it, a dropped file not yet deleted is an
    * unindexed leftover. An indexed file that is lost stays indexed, so
    * reading it fails loudly instead of the cells silently vanishing. */
  def commit(dir: String, add: Seq[KvFileMeta], drop: Set[String] = Set.empty): Unit = {
    val next = read(dir) -- drop ++ add.map(m => m.file -> m)
    val text = next.values.toSeq.sortBy(_.file)
      .map(m => s"${m.file}\t${m.bytes}\t${m.md5}\t${m.cells}\t${m.minKey}\t${m.maxKey}\t${encodeQuals(m.qualCells)}\t${m.bloomHex.getOrElse("")}")
      .mkString("", "\n", "\n")
    KvFiles.publish(Paths.get(dir, FILE), text)
    (drop -- next.keySet).foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
  }
}

/** Conservative [lo, hi] rowkey interval implied by a pushed filter —
  * the file-pruning mirror of HBase's region-range scan planning. ANDs
  * intersect, ORs take the hull, anything not about rowkey is the full
  * range. Never narrower than the true predicate, so pruning is always
  * sound. */
object KvKeyRange {
  type Range = (Long, Long)
  val Full: Range = (Long.MinValue, Long.MaxValue)
  val Empty: Range = (1L, 0L) // lo > hi

  def intersect(a: Range, b: Range): Range = (math.max(a._1, b._1), math.min(a._2, b._2))
  def hull(a: Range, b: Range): Range =
    if (a._1 > a._2) b else if (b._1 > b._2) a
    else (math.min(a._1, b._1), math.max(a._2, b._2))

  def of(f: Filter): Range = f match {
    case EqualTo("rowkey", v: Number) => (v.longValue, v.longValue)
    case GreaterThan("rowkey", v: Number) =>
      if (v.longValue == Long.MaxValue) Empty else (v.longValue + 1, Long.MaxValue)
    case GreaterThanOrEqual("rowkey", v: Number) => (v.longValue, Long.MaxValue)
    case LessThan("rowkey", v: Number) =>
      if (v.longValue == Long.MinValue) Empty else (Long.MinValue, v.longValue - 1)
    case LessThanOrEqual("rowkey", v: Number) => (Long.MinValue, v.longValue)
    case In("rowkey", vs) if vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      val ls = vs.map(_.asInstanceOf[Number].longValue)
      (ls.min, ls.max)
    case And(l, r) => intersect(of(l), of(r))
    case Or(l, r) => hull(of(l), of(r))
    case _ => Full
  }

  /** Top-level pushed filters are conjunctive. */
  def ofAll(filters: Array[Filter]): Range =
    filters.map(of).foldLeft(Full)(intersect)

  /** The exact rowkey point set a filter restricts the scan to, when
    * one exists — the bloom-pruning precondition. Only shapes that
    * PROVABLY limit matching rows to the returned keys qualify:
    * EqualTo/In on rowkey, disjunctions of those, and conjunctions
    * where either side qualifies (the other conjunct can only narrow
    * further). Anything else → None → bloom never consulted. */
  def pointKeys(f: Filter): Option[Seq[Long]] = f match {
    case EqualTo("rowkey", v: Number) => Some(Seq(v.longValue))
    case In("rowkey", vs) if vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      Some(vs.toSeq.map(_.asInstanceOf[Number].longValue))
    case And(l, r) => pointKeys(l).orElse(pointKeys(r))
    case Or(l, r) => for { a <- pointKeys(l); b <- pointKeys(r) } yield a ++ b
    case _ => None
  }

  /** First conjunct carrying a point set, if any (conjunctive array). */
  def pointKeysOfAll(filters: Array[Filter]): Option[Seq[Long]] =
    filters.iterator.map(pointKeys).collectFirst { case Some(ks) => ks }
}

class KvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KvFormat.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KvTable(properties.get("path"))
}

class KvTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null, "graft-kv requires a path option")
  override def name(): String = s"graft-kv:$path"
  override def schema(): StructType = KvFormat.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(in.fieldNames.sameElements(KvFormat.schema.fieldNames),
      s"graft-kv write schema must be ${KvFormat.schema.fieldNames.mkString(",")}, got ${in.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new KvBatchWrite(path)
      }
    }
  }
}

// ---------------------------------------------------------------- read

class KvScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var required: StructType = KvFormat.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** rowkey/qualifier comparisons are evaluated inside the reader; anything
    * else is returned to Spark for post-scan evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(KvFilterEval.supports)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT n stops each partition reader after n SURVIVING cells — a
    * point lookup at 100 TB opens its (range-pruned) files and reads k
    * cells instead of scanning them to the end. Partial push (the
    * default): n per file, Spark still applies the global limit. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** COUNT(*) / MIN(rowkey) / MAX(rowkey) with no grouping, and
    * GROUP BY qualifier + COUNT(*) (the HBase column-qualifier
    * cardinality question), with no filters, are answered from the
    * write-time stats index — O(files × qualifiers) driver metadata,
    * ZERO data bytes read (the parquet-footer-count move). The index is
    * the file set, so the global form is always sound; the grouped form
    * only when every entry carries the per-qualifier breakdown
    * (old-format index lines don't) — otherwise refuse and let Spark
    * aggregate the real scan. Complete pushdown: the index is exact. */
  private var aggPlan: Option[KvAggPlan] = None

  // one metadata read per builder: Spark calls supportCompletePushDown
  // AND pushAggregation during planning — don't re-read per call
  private lazy val qualsCovered: Boolean =
    KvMeta.read(path).values.forall(_.qualifiersCovered)

  private def namedRef(e: org.apache.spark.sql.connector.expressions.Expression,
      col: String): Boolean = e match {
    case nr: NamedReference => nr.fieldNames.sameElements(Array(col))
    case _ => false
  }

  private def plannable(agg: Aggregation): Option[KvAggPlan] = {
    if (pushed.nonEmpty || limit.nonEmpty) return None
    agg.groupByExpressions.toSeq match {
      case Seq() =>
        val stats = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some("count")
          case m: Min if namedRef(m.column, "rowkey") => Some("min")
          case m: Max if namedRef(m.column, "rowkey") => Some("max")
          case _ => None
        }
        if (stats.nonEmpty && stats.forall(_.isDefined))
          Some(KvAggPlan(byQualifier = false, stats.map(_.get)))
        else None
      case Seq(g) if namedRef(g, "qualifier") =>
        // per-qualifier COUNT(*) from the index's breakdown column
        if (!qualsCovered) return None
        val counts = agg.aggregateExpressions.toSeq.forall {
          case _: CountStar => true
          case _ => false
        }
        if (counts && agg.aggregateExpressions.nonEmpty)
          Some(KvAggPlan(byQualifier = true,
            agg.aggregateExpressions.toSeq.map(_ => "count")))
        else None
      case _ => None
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = plannable(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggPlan = plannable(agg)
    aggPlan.isDefined
  }

  override def build(): Scan = aggPlan match {
    case Some(plan) => new KvStatsScan(path, plan)
    case None => new KvScan(path, required, pushed, limit)
  }
}

private[sources] case class KvAggPlan(byQualifier: Boolean, stats: Seq[String])

/** The aggregate-pushdown scan: one partition whose rows come straight
  * from the committed `.file_meta.tsv` — global (one row; MIN/MAX of an
  * empty store are null, matching SQL aggregate semantics; COUNT is 0)
  * or grouped by qualifier (one row per qualifier, sorted). */
class KvStatsScan(path: String, plan: KvAggPlan) extends Scan with Batch {
  private val aggFields = plan.stats.zipWithIndex.map {
    case (s, i) => StructField(s"${s}_$i", LongType,
      nullable = s != "count" && !plan.byQualifier)
  }
  override def readSchema(): StructType =
    if (plan.byQualifier)
      StructType(StructField("qualifier", StringType, nullable = false) +: aggFields)
    else StructType(aggFields)
  override def toBatch: Batch = this
  override def description(): String = {
    val shape = if (plan.byQualifier) "group by qualifier: " else ""
    s"graft-kv $path, PushedAggregates: [$shape${plan.stats.mkString(", ")}] (stats-index only, no data read)"
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(KvStatsPartition(computeRows()))
  // Driver-side O(files × qualifiers) metadata fold over the committed
  // file set; the rows travel inside the partition.
  private def computeRows(): Array[Array[Any]] = {
    val metas = KvMeta.files(path)
    if (plan.byQualifier) {
      metas.foreach(m => require(m.qualifiersCovered,
        s"graft-kv $path: ${m.file} lacks the per-qualifier breakdown — " +
          "cannot answer a grouped count from the index"))
      metas.flatMap(_.qualCells).groupMapReduce(_._1)(_._2)(_ + _)
        .toSeq.sortBy(_._1)
        .map { case (q, n) =>
          (UTF8String.fromString(q) +: plan.stats.map(_ => Long.box(n))).toArray[Any]
        }.toArray
    } else Array(plan.stats.map {
      case "count" => Long.box(metas.map(_.cells).sum)
      case "min" => if (metas.isEmpty) null else Long.box(metas.map(_.minKey).min)
      case "max" => if (metas.isEmpty) null else Long.box(metas.map(_.maxKey).max)
    }.toArray[Any])
  }
  override def createReaderFactory(): PartitionReaderFactory = KvStatsReaderFactory
}

case class KvStatsPartition(rows: Array[Array[Any]]) extends InputPartition

object KvStatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[KvStatsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow.fromSeq(rows(i).toIndexedSeq)
      override def close(): Unit = ()
    }
}

/** Predicate evaluation for the pushed subset. The kv store is dense
  * (no null cells), so two-valued logic is exact here. Filters carrying
  * a null literal are NOT accepted (their three-valued semantics stay
  * with Spark post-scan), and string comparison uses UTF8String —
  * byte order, not String's UTF-16 order, which disagrees on non-BMP
  * code points. */
object KvFilterEval {
  def supports(f: Filter): Boolean = f match {
    case EqualTo(a, v) => ok(a, v)
    case GreaterThan(a, v) => ok(a, v)
    case GreaterThanOrEqual(a, v) => ok(a, v)
    case LessThan(a, v) => ok(a, v)
    case LessThanOrEqual(a, v) => ok(a, v)
    case In(a, vs) => vs != null && vs.forall(ok(a, _))
    // Catalyst guards every pushed comparison with IsNotNull; accepting
    // it here is what lets column pruning drop filter-only columns.
    case IsNotNull(a) => col(a)
    case IsNull(a) => col(a)
    case And(l, r) => supports(l) && supports(r)
    case Or(l, r) => supports(l) && supports(r)
    case _ => false
  }
  private def col(attr: String) = attr == "rowkey" || attr == "qualifier" || attr == "value"
  // Literal RUNTIME type must match the column, or the executor-side
  // eval would ClassCastException mid-scan (Catalyst always sends the
  // right type, but Filter is a public API — a hand-built
  // EqualTo("rowkey", "x") must fall back to Spark, not crash a task).
  // Rowkey literals must be INTEGRAL: a hand-built Double(1.5) or
  // BigDecimal(2^63) would silently truncate through longValue in
  // eval/range/bloom and return wrong rows — those shapes stay with
  // Spark post-scan instead.
  private def ok(attr: String, v: Any): Boolean = col(attr) && (v match {
    case null => false
    case _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long => attr == "rowkey"
    case _: String => attr != "rowkey"
    case _ => false
  })

  def eval(f: Filter, rowkey: Long, qualifier: String, value: String): Boolean = {
    def get(a: String): Any = a match {
      case "rowkey" => rowkey
      case "qualifier" => qualifier
      case "value" => value
    }
    def cmp(a: String, v: Any): Int = get(a) match {
      case l: Long => java.lang.Long.compare(l, v.asInstanceOf[Number].longValue())
      case s: String => UTF8String.fromString(s).compareTo(UTF8String.fromString(v.toString))
    }
    f match {
      case EqualTo(a, v) => cmp(a, v) == 0
      case GreaterThan(a, v) => cmp(a, v) > 0
      case GreaterThanOrEqual(a, v) => cmp(a, v) >= 0
      case LessThan(a, v) => cmp(a, v) < 0
      case LessThanOrEqual(a, v) => cmp(a, v) <= 0
      case In(a, vs) => vs.exists(v => cmp(a, v) == 0)
      case IsNotNull(_) => true // dense store: every cell has all three fields
      case IsNull(_) => false
      case And(l, r) => eval(l, rowkey, qualifier, value) && eval(r, rowkey, qualifier, value)
      case Or(l, r) => eval(l, rowkey, qualifier, value) || eval(r, rowkey, qualifier, value)
      case _ => true
    }
  }
}

case class KvInputPartition(file: String) extends InputPartition

class KvScan(path: String, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedLimit: ${limit.getOrElse("none")}, ReadSchema: ${required.simpleString}"

  /** One partition per surviving data file. Files whose committed
    * [minKey, maxKey] cannot overlap the pushed rowkey interval are
    * skipped entirely — the HBase prune-by-region-range move — and for
    * POINT lookups (`rowkey = k` / `IN (...)`) a file additionally
    * survives only if its write-time bloom might contain one of the
    * keys (the HBase HFile-bloom move: a point probe into a store of
    * overlapping-range files opens the files that can actually hold
    * the key, not every range-overlapping one). At 100 TB both prunes
    * are O(files) driver metadata. Files without a bloom (old-format
    * lines) are never bloom-skipped (sound). Partitions follow the
    * index's file-name order. */
  override def planInputPartitions(): Array[InputPartition] = {
    val range = KvKeyRange.ofAll(pushed)
    val points = KvKeyRange.pointKeysOfAll(pushed)
    KvMeta.files(path)
      .filter { m =>
        m.maxKey >= range._1 && m.minKey <= range._2 &&
          points.forall(ks => m.bloomHex.forall(hex =>
            ks.exists(KvBloom.mightContain(hex, _))))
      }
      .map(m => KvInputPartition(Paths.get(path, m.file).toString)).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(required, pushed, limit)
}

class KvReaderFactory(required: StructType, pushed: Array[Filter], limit: Option[Int])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(partition.asInstanceOf[KvInputPartition].file, required, pushed,
      limit)
}

/** Process-local read counters — spec observability for the pushdown
  * claims ("a limit-5 scan EMITS ≤ 5 cells per file", not just "the
  * result has 5 rows"). No correctness role; local-mode tests share the
  * JVM with the executors, so plain atomics suffice. Counters are
  * SCOPED PER STORE DIRECTORY: a single process-global pair would make
  * the zero-read/limit assertions flaky the moment any other suite or
  * graded key scans a different graft-kv store concurrently (sbt runs
  * suites in parallel). */
object KvReadStats {
  final class Counters {
    val cellsEmitted = new java.util.concurrent.atomic.AtomicLong
    val linesRead = new java.util.concurrent.atomic.AtomicLong
  }
  private val perDir = scala.collection.concurrent.TrieMap.empty[String, Counters]
  def forDir(dir: String): Counters = perDir.getOrElseUpdate(dir, new Counters)
  def reset(dir: String): Unit = {
    val c = forDir(dir); c.cellsEmitted.set(0); c.linesRead.set(0)
  }
}

class KvPartitionReader(file: String, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {
  private val stats = KvReadStats.forDir(Paths.get(file).getParent.toString)
  private val lines = Files.lines(Paths.get(file), StandardCharsets.UTF_8)
  private val it = lines.iterator()
  private var current: InternalRow = _
  // project once up front: output ordinal -> cell extractor
  private val fields: Array[(Long, String, String) => Any] =
    required.fieldNames.map {
      case "rowkey" => (r: Long, _: String, _: String) => r
      case "qualifier" => (_: Long, q: String, _: String) => UTF8String.fromString(q)
      case "value" => (_: Long, _: String, v: String) => UTF8String.fromString(v)
    }

  private var lineNo = 0L
  private var emitted = 0L

  override def next(): Boolean = {
    // pushed limit: this file has yielded enough surviving cells — stop
    // without reading (or parsing) the rest of it
    if (limit.exists(emitted >= _)) return false
    while (it.hasNext) {
      val line = it.next(); lineNo += 1
      stats.linesRead.incrementAndGet()
      // A corrupt store must fail DIAGNOSABLY: name the file and line,
      // not surface a bare NumberFormat/ArrayIndexOutOfBounds from deep
      // inside a task retry loop.
      val parts = line.split(KvFormat.SEP, 3)
      if (parts.length != 3)
        throw new java.io.IOException(
          s"graft-kv: malformed cell at $file:$lineNo — expected 3 tab-separated fields, got ${parts.length}")
      val r =
        try parts(0).toLong
        catch {
          case e: NumberFormatException => throw new java.io.IOException(
            s"graft-kv: bad rowkey '${parts(0)}' at $file:$lineNo", e)
        }
      val (q, v) = (parts(1), parts(2))
      if (pushed.forall(KvFilterEval.eval(_, r, q, v))) {
        current = InternalRow.fromSeq(fields.map(_(r, q, v)).toIndexedSeq)
        emitted += 1
        stats.cellsEmitted.incrementAndGet()
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

// --------------------------------------------------------------- write

class KvBatchWrite(path: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    new KvWriterFactory(path)
  }
  /** Job commit adds the tasks' files to the index from their commit
    * messages — the driver never re-reads data bytes; its work is
    * O(committed files). This is the moment the job's files become
    * visible. */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    KvMeta.commit(path, messages.collect { case KvCommitMessage(Some(m)) => m }.toSeq)
  // job abort deletes the files of the commit messages it received; they
  // were never indexed, and a task that commits after this only leaves
  // an unindexed file (a scrub orphan the next compaction sweeps)
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    KvFiles.beforeStep(s"abort $path")
    messages.foreach {
      case KvCommitMessage(Some(m)) => Files.deleteIfExists(Paths.get(path, m.file))
      case _ => ()
    }
  }
}

class KvWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, partitionId, taskId)
}

/** None = the task received no rows and committed no file (empty shuffle
  * partitions must not litter the store with 0-byte files). */
case class KvCommitMessage(meta: Option[KvFileMeta]) extends WriterCommitMessage

/** Streams cells to its own file through a [[KvFiles.Writer]]; the file
  * stays invisible until job commit indexes it. While writing it maintains
  * the stats that become the commit message: byte count + MD5 from the
  * digesting writer (single pass, constant memory) and the rowkey
  * min/max for scan pruning. Rowkey CLUSTERING is the plan's job (`sortWithinPartitions`/
  * `repartitionByRange` before the write) — min/max stays sound either
  * way, a writer-side sort would just re-buffer what Spark's sort
  * operator already spills correctly. */
class KvDataWriter(path: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  // (partitionId, taskId) is unique only WITHIN one Spark application —
  // a second application appending to the same store restarts task ids
  // at 0 and would collide on the file name. The per-process tag makes
  // cross-application appends safe (HBase solves this with UUID-named
  // store files for the same reason).
  private val name = s"part-$partitionId-$taskId-${graft.util.Scratch.tag}.kv"
  private val file = new KvFiles.Writer(Paths.get(path, name))
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(file.out, StandardCharsets.UTF_8))
  private var cells = 0L
  private var minKey = Long.MaxValue
  private var maxKey = Long.MinValue
  // per-qualifier cell counts for the grouped-count pushdown; bounded by
  // the store's qualifier cardinality (HBase column-qualifier scale:
  // small per family), not by cell count
  private val qualCounts = scala.collection.mutable.Map.empty[String, Long]
  // rowkey bloom for point-lookup file skipping (HBase HFile bloom):
  // constant 32 bytes per file, built as cells stream through
  private val bloom = KvBloom.empty()

  override def write(row: InternalRow): Unit = {
    // the format is one cell per line, tab-separated: reject rather than
    // silently corrupt rows whose fields would break framing
    require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
      "graft-kv cells must be fully non-null")
    val q = row.getUTF8String(1).toString
    val v = row.getUTF8String(2).toString
    require(!q.contains('\t') && !q.contains('\n') && !v.contains('\t') && !v.contains('\n'),
      "graft-kv qualifier/value must not contain tab or newline")
    val r = row.getLong(0)
    out.write(s"$r${KvFormat.SEP}$q${KvFormat.SEP}$v")
    out.newLine()
    cells += 1
    qualCounts.updateWith(q)(c => Some(c.getOrElse(0L) + 1))
    if (r < minKey) minKey = r
    if (r > maxKey) maxKey = r
    KvBloom.add(bloom, r)
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    if (cells == 0) { file.abort(); KvCommitMessage(None) }
    else {
      val (bytes, md5) = file.commit()
      KvCommitMessage(Some(KvFileMeta(
        name, bytes, md5, cells, minKey, maxKey, qualCounts.toMap,
        Some(KvBloom.toHex(bloom)))))
    }
  }
  override def abort(): Unit = { out.close(); file.abort() }
  override def close(): Unit = ()
}
