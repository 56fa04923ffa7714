package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Golden-output checksum harness (SURVEY.md §5.3 item 4): one md5 per
  * query key over the sf0.001 result (rows rendered with toJSON in the
  * query's own deterministic order). `GoldenSpec` compares against the
  * checked-in `src/test/resources/golden_sf0.001.json`; regenerate with
  * `sbt "runMain graft.GoldenDump"` after intentional result changes.
  */
object GoldenDump {

  def checksum(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.toJSON.collect().foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** All 288 checksums, computed OVERLAPPED from a small driver thread
    * pool (guide §2.6: actions are only sequential because the driver
    * calls them sequentially). The serial pass spent ~14.5 min of the
    * r18 test wall on per-key fixed costs (micro-batch lifecycles, job
    * scheduling) while local[4] sat mostly idle — the r18 verdict's
    * top item is getting `sbt test` under the verify driver's budget.
    * Safety: every staging write is per-key-unique or a
    * `graft.util.Built` artifact (trained indexes, stream and media
    * staging: concurrent first callers wait on one build), streaming
    * keys run on their own child sessions and never touch this
    * session's conf, and each checksum folds its own df.toJSON rows in
    * the query's contract order, so values are identical to the serial
    * pass. Four threads match the test session's four cores. */
  def checksums(spark: SparkSession, sfDir: String): Map[String, String] = {
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = keys.map { case (name, fn) =>
        new java.util.concurrent.Callable[(String, String)] {
          // One broken key must not abort the others (mirrors Verify's
          // per-key isolation); the error text fails GoldenSpec by name.
          def call(): (String, String) =
            name -> (try checksum(fn(spark, sfDir)) catch {
              case e: Throwable => s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}".take(120)
            })
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  val goldenPath = "src/test/resources/golden_sf0.001.json"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus)
    val sums = checksums(spark, sfDir)
    val json = sums.toSeq.sorted
      .map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("src/test/resources"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(goldenPath), json)
    println(s"[golden] wrote ${sums.size} checksums to $goldenPath")
    spark.stop()
  }
}
