package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated key filter for local iteration;
    // the driver always calls with exactly (sfDir, outDir).
    val Array(sfDir, outDir) = args.take(2)
    val keyFilter = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => keyFilter.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // pre-delete the key's output INSIDE the per-key try: if the
      // build or write throws, a STALE dir from a previous run against
      // the same outDir must not survive to be graded as this run's
      // result (false pass) — and an undeletable dir must fail THIS
      // key, not abort the loop and strand every later key's cleanup
      try {
        graft.util.Scratch.deleteTree(s"$outDir/$name")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
