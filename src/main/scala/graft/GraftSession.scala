package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every main and the test
  * suite run the same engine: [[GraftExtensions]] installed (SQL functions
  * plus the band-join rule), shuffle partitions equal to the core count,
  * UTC session time zone, Parquet nanosecond timestamps read as longs
  * (the `events` layout [[graft.sources.Tables.events]] normalizes),
  * artifact isolation off, UI off, WARN logging. A session that needs
  * other settings derives them from this one through [[child]].
  *
  * Artifact isolation is off because graft adds no artifacts, and an
  * isolated session runs its tasks under a class loader of its own.
  * Spark caches generated classes per class loader, so every fresh
  * child (each SQL key run, each stream) would compile every generated
  * class of its plan again.
  */
object GraftSession {

  /** Local thread count from `SPARK_GRAFT_CPUS`, default 4 (the graded width). */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Fail fast on anything but a positive integer: Bench emits the count
    * as a bare JSON number, so a `local[*]`-style value would otherwise
    * produce an invalid artifact, and `local[0]` cannot run a task. */
  private[graft] def parseCpus(raw: Option[String]): Int = {
    val s = raw.getOrElse("4")
    s.toIntOption.filter(_ > 0).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a positive integer thread count, got '$s'"))
  }

  /** A child of `spark`: the same SparkContext, extensions and cached
    * data, with its own SQL conf, temp views and streaming queries. It
    * starts from every modifiable setting `spark` has, so work on it
    * plans as on `spark`, and then applies `overrides`. The one place
    * graft derives a session or writes a session's conf at run time. */
  def child(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = spark.newSession()
    (spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) } ++ overrides)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
