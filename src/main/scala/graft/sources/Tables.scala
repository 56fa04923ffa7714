package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Built

/** Shared table loaders for the driver-generated testdata
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * Design notes (100 TB posture):
  *  - Plain `spark.read.parquet` keeps the scan declarative so Catalyst
  *    performs column pruning + predicate pushdown into the Parquet
  *    vectorized reader; at cluster scale the same plan splits by
  *    `spark.sql.files.maxPartitionBytes` with no code change.
  *  - Schemas are memoized, data never is ([[read]]): each query
  *    re-reads only the columns it needs. Caching tiny local files would
  *    hide pushdown bugs we must catch.
  */
object Tables {

  /** Table `name` of `sfDir`; `events` comes with its `ts` normalized
    * ([[events]]). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The parquet file or directory at `path`, read with a memoized
    * schema. Spark's inference runs a job on every read, even of one
    * file; here it runs once per path, version and Parquet type mapping.
    * The memo entry ([[graft.util.Built]]) is keyed by the path and the
    * session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
    * settings, and records the version it was inferred from: the name,
    * length and modification time of each file under the path. A read
    * that finds another version infers again under a key that adds the
    * version, so a rewritten table never gets an old schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file lists as itself, a directory as its entries
    val version = fs.listStatus(p).map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
    val mapping = spark.conf.getAll.toSeq.sorted.collect {
      case (k, v) if k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
    }
    val key = s"parquet.schema:$path|${mapping.mkString(",")}"
    def infer = (version, spark.read.parquet(path).schema)
    val schema = Built(key)(infer) match {
      case (`version`, s) => s
      case _ => Built(s"$key|$version")(infer)._2
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.parquet` may store `ts` as Parquet INT64 TIMESTAMP(NANOS),
    * which Spark 4.x rejects outright ([PARQUET_TYPE_ILLEGAL]).
    * Workaround (SURVEY.md §1.3, verified): every graft session reads
    * nanos as plain LongType (`spark.sql.legacy.parquet.nanosAsLong`,
    * set once in [[graft.GraftSession.local]] and inherited by child
    * sessions), and [[normalizeEventsTs]] truncates them to microseconds
    * exactly. DuckDB's reader truncates ns→µs identically, so the oracle
    * sees byte-identical timestamps. */
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")

  /** Both observed `events.parquet` layouts normalize to one session
    * TimestampType (UTC) `ts` column:
    *  - INT64 TIMESTAMP(NANOS) — read as LongType under the session's
    *    legacy conf, then truncated to µs exactly (the original testdata
    *    layout);
    *  - TIMESTAMP(MICROS) `isAdjustedToUTC=false` — read natively as
    *    TIMESTAMP_NTZ (the round-8 testdata refresh), reinterpreted as
    *    UTC; the session timezone is pinned to UTC, so the cast is a
    *    type-tag change on identical micros, and DuckDB reads the same
    *    file as the same naive values.
    * Streams read events already normalized here, so the two can never
    * diverge. */
  private def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // exact ns→µs truncation (`div`, not `/`: double division loses
        // precision at 1e18 nanos)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ->TimestampType cast is micros-preserving ONLY under a
        // UTC session timezone — enforce that here, at the one branch
        // that relies on it (the nanos and TimestampType paths are
        // timezone-independent), accepting any zero-offset zone id
        // (UTC, Etc/UTC, GMT, +00:00), not just the literal "UTC"
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        val rules = java.time.ZoneId.of(tz).getRules
        require(rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
          s"events NTZ ts normalization requires a UTC session timezone, got $tz")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"unrecognized events.parquet ts type $other — expected INT64 nanos " +
          "(LongType under the legacy conf), TIMESTAMP, or TIMESTAMP_NTZ")
    }

  /** Money math: cast to DECIMAL(18,2) so aggregation is associative and
    * exact — Spark's partial aggregation order then cannot diverge from
    * DuckDB's (SURVEY.md §5.4).
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")

  /** Unavoidable float outputs (cosine, tf-idf, averages of doubles) are
    * rounded to 6 digits on BOTH engine and oracle sides.
    */
  def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c, 6)

  /** TPC-H discounted price `extprice * (1 - discount)` as exact decimal —
    * the canonical revenue expression; `revenueSqlFrag` is its DuckDB
    * mirror. Summed then cast/ROUND(2) on both sides (SURVEY.md §5.4).
    */
  def discPrice: org.apache.spark.sql.Column =
    col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(8,6)") - col("l_discount").cast("decimal(8,6)"))

  val revenueSqlFrag: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"
}
