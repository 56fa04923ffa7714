package graft

import org.apache.spark.sql.SparkSession

import graft.util.Built

/** The graded bench. After one untimed warmup every key runs the same
  * fixed protocol: two timed passes with an untimed cleanup after each,
  * graded by the faster pass. No threshold, band or env var decides how
  * often a key runs. Output is one JSON object printed twice: the full
  * line with the per-key maps, then the digest without them as the final
  * stdout line, so a short tail capture still holds it whole. */
object Bench {
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** One key's outcome: its timed passes (one when pass 1 failed),
    * whether every pass succeeded, and its start offset from bench start
    * (a host stall shows as one band across alphabetical neighbours). */
  private[graft] final case class KeyResult(name: String, passes: Seq[Double],
      ok: Boolean, startOff: Double) {
    def firstPass: Double = passes.head
    // a fast failure never becomes the graded minimum
    def graded: Double = if (ok) passes.min else firstPass
  }

  /** The per-key protocol. Pass 2 runs only after a successful pass 1,
    * and first restores `Built` to the keys that existed before pass 1:
    * pass 2 then repeats pass 1's builds (a cold key rebuilds its index,
    * a key riding an earlier key's artifact stays warm), and later keys
    * amortize exactly as with a single pass. */
  private[graft] def runKey(name: String, startOff: Double, cleanup: () => Unit)(
      pass: () => (Double, Boolean)): KeyResult = {
    val before = Built.keys
    val (t1, ok1) = pass()
    cleanup()
    if (!ok1) KeyResult(name, Seq(t1), ok = false, startOff)
    else {
      Built.retainOnly(before)
      val (t2, ok2) = pass()
      cleanup()
      KeyResult(name, Seq(t1, t2), ok2, startOff)
    }
  }

  /** Untimed, between every pass: measure each key against a clean block
    * manager. The dedup keys pin localCheckpoint blocks that otherwise tax
    * the (alphabetically) later keys with GC and memory pressure (the r2
    * driver bench showed 3–10× inflation on the sorted tail). Built
    * artifacts live in `graft.util.Built` as driver data or parquet, never
    * as blocks, so every pinned RDD may go. Removal is blocking so it
    * completes before the next timed section starts. */
  private[graft] def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val pinned = spark.sparkContext.getPersistentRDDs.values
    pinned.foreach(_.unpersist(blocking = true))
    // A block-pinning key leaves a tenured heap the next key would pay
    // to collect inside its timed section (r5: llm_dedup_near 3.5→5.6 s
    // on unchanged code). Collect it here, but only when blocks were
    // pinned: an unconditional gc per key would tax the wall ~98×.
    if (pinned.nonEmpty) System.gc()
  }

  private def jsonStrArr(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def jsonMap(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The full line and the digest: the same object, the digest without
    * the per-key maps and with `failed` capped at 10 names. keys_run vs
    * keys_total makes a filtered run self-identifying, and
    * skipped_demo_quadratics a gated scale run. cpus and max_heap_mb
    * (the JVM's actual ceiling, not the env var) record the execution
    * protocol inside the artifact. */
  private[graft] def lines(results: Seq[KeyResult], keysTotal: Int,
      skipped: Seq[String], cpus: Int, heapMb: Long, sfDir: String): (String, String) = {
    val failed = results.collect { case r if !r.ok => r.name }
    def perKey(v: KeyResult => String) = jsonMap(results.map(r => r.name -> v(r)))
    val fields = Seq(
      "metric" -> "\"total\"",
      "value" -> f3(results.map(_.graded).sum),
      "unit" -> "\"sec\"",
      "errors" -> failed.size.toString,
      "failed" -> jsonStrArr(failed),
      "keys_run" -> results.size.toString,
      "keys_total" -> keysTotal.toString,
      "skipped_demo_quadratics" -> jsonStrArr(skipped),
      "cpus" -> cpus.toString,
      "max_heap_mb" -> heapMb.toString,
      "first_pass_sec" -> f3(results.map(_.firstPass).sum),
      "sf" -> ("\"" + sfDir + "\""),
      "starts" -> perKey(r => f3(r.startOff)),
      "passes" -> perKey(_.passes.map(f3).mkString("[", ",", "]")),
      "queries" -> perKey(r => f3(r.graded)))
    val digest = fields.collect {
      case ("failed", _) => "failed" -> jsonStrArr(failed.take(10))
      case f if !Set("starts", "passes", "queries")(f._1) => f
    }
    (jsonMap(fields), jsonMap(digest))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // df.count() would let Catalyst prune every unused projection,
    // window, and sort — projection-heavy keys would measure scan+count
    // only. toRdd runs the FULL final physical plan (all expressions,
    // sorts, windows) and only then counts the produced rows.
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.count()
    val benchStart = System.nanoTime()
    // Untimed warmup: JVM/codegen/session init otherwise lands on
    // whichever query happens to run first (~5s attribution noise).
    try exec(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // Optional comma-separated key filter for local iteration
    // (SPARK_GRAFT_KEYS=llm_dedup_minhash,llm_curation); driver sets none.
    val keyFilter = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).toSet)
    // Two keys are honest brute-force baselines with graded scale-safe
    // siblings (llm_dedup_embed → llm_semdedup, llm_dedup_near →
    // llm_dedup_near_prefix/minhash); at sf1 they were 28% of the total.
    // Above driver scale (any SF dir not named sf0.001/sf0.01/sf0.1) they
    // are skipped, and the skip is recorded in the JSON.
    val driverScale = Set("sf0.001", "sf0.01", "sf0.1")
      .contains(new java.io.File(sfDir).getName)
    val skipped = if (driverScale) Nil else Seq("llm_dedup_embed", "llm_dedup_near")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keyFilter.forall(_.contains(n)) && !skipped.contains(n) }
      .map { case (name, fn) =>
        val startOff = (System.nanoTime() - benchStart) / 1e9
        runKey(name, startOff, () => cleanup(spark)) { () =>
          val t0 = System.nanoTime()
          // a key that crashes must not masquerade as a fast one
          val ok = try { exec(fn(spark, sfDir)); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
      }
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val (full, digest) =
      lines(results, SparkEntry.queries.size, skipped, cpus, heapMb, sfDir)
    println(full)
    println(digest)
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
