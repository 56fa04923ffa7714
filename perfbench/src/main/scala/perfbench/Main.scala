package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** The benchmark's JVM. `run.py` builds it, prepares the data and
  * starts one JVM per run:
  *
  *   run     --workload W --seed N --seconds S --trace 0|1 --data DIR
  *           --scratch DIR --spans FILE [--smoke]
  *   prepare --data DIR --scale sfX       (DataGen tables, once per scale)
  *   record  --data DIR --scale sfX --scratch DIR --out FILE
  *                                        (expected rows and checksums)
  *
  * One driver thread issues one operation at a time (closed loop). The
  * last line of a run's standard output is the result JSON. */
object Main {
  val workloads: Seq[Workload] = Seq(SnapshotCycle, QueryMix, LlmPipeline)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "KvSnapshots.create.s" -> "s", "KvSnapshots.create.cells_s" -> "cells/s",
    "KvSnapshots.create_incremental.s" -> "s",
    "KvSnapshots.create_incremental.shared_ratio" -> "ratio",
    "KvSnapshots.export.s" -> "s", "KvSnapshots.export.files" -> "count",
    "KvSnapshots.export_resume.s" -> "s", "KvSnapshots.export_resume.skip_ratio" -> "ratio",
    "KvSnapshots.verify.s" -> "s", "KvConnector.scan.s" -> "s",
    "KvConnector.scan.cells_s" -> "cells/s", "KvCompaction.compact.s" -> "s",
    "KvCompaction.compact.rewrite_ratio" -> "ratio",
    "create_mb_s" -> "MB/s", "export_mb_s" -> "MB/s", "restore_mb_s" -> "MB/s",
    "stored_bytes_ratio" -> "ratio", "key_p50_s" -> "s", "key_p75_s" -> "s",
    "entry.build_s" -> "s", "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "exec_s" -> "s",
    "Aggregations.s" -> "s", "Joins.s" -> "s", "Filters.s" -> "s", "Windows.s" -> "s",
    "Scans.s" -> "s", "SetOps.s" -> "s", "Scalars.s" -> "s", "Graph.s" -> "s",
    "TimeSeries.s" -> "s",
    "LlmText.curation.s" -> "s", "LlmDedup.minhash.s" -> "s",
    "LlmText.entropy_filter.s" -> "s", "LlmText.decontaminate.s" -> "s",
    "LlmText.pack.s" -> "s", "LlmVector.ivf_build.s" -> "s", "LlmVector.pq_build.s" -> "s",
    "LlmVector.ivfpq_search.s" -> "s",
    "curate_docs_s" -> "docs/s", "ann_build_s" -> "s", "ann_search_qps" -> "queries/s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.core_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio",
    "host.steal_share" -> "ratio")

  private def parse(args: Array[String]): (String, Map[String, String]) = {
    val flags = mutable.Map.empty[String, String]
    var i = 1
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument $a")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        flags(a.drop(2)) = args(i + 1); i += 2
      } else { flags(a.drop(2)) = "true"; i += 1 }
    }
    (args.headOption.getOrElse("run"), flags.toMap)
  }

  def main(args: Array[String]): Unit = {
    val (mode, f) = parse(args)
    def path(k: String): Path = Paths.get(f.getOrElse(k, sys.error(s"--$k is required")))
    mode match {
      case "prepare" => prepare(path("data"), f("scale"))
      case "record" => record(path("data"), f("scale"), path("scratch"), path("out"))
      case "run" =>
        val w = workloads.find(_.name == f("workload"))
          .getOrElse(sys.error(s"unknown workload ${f("workload")}"))
        run(w, f("seed").toLong, f("seconds").toDouble, f("trace") == "1", path("data"),
          path("scratch"), path("spans"), f.contains("smoke"))
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Generate the DataGen tables of one scale into `data/<scale>`. */
  def prepare(data: Path, scale: String): Unit = {
    val sf = scale.stripPrefix("sf").toDouble
    val tmp = data.resolve(s".$scale.tmp")
    graft.util.Scratch.deleteTree(tmp.toString)
    val spark = Session.build(tmp.resolve(".spark"))
    try graft.DataGen.generate(spark, tmp.toString, sf)
    finally spark.stop()
    graft.util.Scratch.deleteTree(tmp.resolve(".spark").toString)
    Files.move(tmp, data.resolve(scale))
  }

  /** Row counts and checksums of every key the benchmark runs, on one
    * scale: the values the runs check against. */
  def record(data: Path, scale: String, scratch: Path, out: Path): Unit = {
    val spark = Session.build(scratch)
    val dir = data.resolve(scale).toString
    val keys = (QueryMix.keys ++ LlmPipeline.chain ++ LlmPipeline.builds :+
      LlmPipeline.search :+ LlmPipeline.recall).distinct
    val lines = keys.map { k =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(k)(spark, dir)
      val rows = df.queryExecution.toRdd.count()
      System.err.println(f"[perfbench] $k%-28s $rows%8d rows ${(System.nanoTime() - t0) / 1e9}%.3f s")
      s"$scale\t$k\t$rows\t${graft.GoldenDump.checksum(graft.SparkEntry.queries(k)(spark, dir))}"
    }
    spark.stop()
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, data: Path,
      scratch: Path, spansOut: Path, smoke: Boolean): Unit = {
    Files.createDirectories(scratch)
    val runId = s"${w.name}-$seed-${java.util.UUID.randomUUID().toString.take(8)}"
    val untraced = new Tracer(runId, enabled = false)
    // Set-up and round times are reported with the CPU time the
    // hypervisor stole taken out (Stats.unstolen): on a shared host that
    // is most of the run-to-run spread. The raw times are printed too.
    val setups = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: org.apache.spark.sql.SparkSession = null
    (1 to Setups).foreach { i =>
      val (_, secs, steal) = Jvm.timed {
        if (spark != null) spark.stop()
        spark = Session.build(scratch)
        w.warmup(new Ctx(spark, untraced, seed, scratch, data, smoke))
      }
      // the first set-up counts from JVM start
      val sinceStart = (System.currentTimeMillis() - Jvm.startMs) / 1e3
      setups += ((if (i == 1) sinceStart else secs, steal))
    }
    val tracer = new Tracer(runId, trace)
    val ctx = new Ctx(spark, tracer, seed, scratch, data, smoke)
    w.prepare(ctx)
    val engine = new Engine
    if (trace) spark.sparkContext.addSparkListener(engine)

    val gc0 = Jvm.gcSeconds
    Jvm.resetHeapPeaks()
    val walls = mutable.ArrayBuffer.empty[(Double, Double)]
    val (c0, t0) = (Jvm.cpuTicks, System.nanoTime())
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minRounds = if (smoke) 1 else w.minRounds
    while (walls.size < minRounds || (walls.size < w.maxRounds && elapsed < seconds)) {
      ctx.round = walls.size
      val (_, secs, steal) = Jvm.timed(tracer.span("round")(w.round(ctx)))
      walls += ((secs, steal))
    }
    val timedWall = elapsed
    val timedSteal = Stats.stealShare(c0, Jvm.cpuTicks)
    val jvmGc = Jvm.gcSeconds - gc0
    val heapPeak = Jvm.heapPeakMb
    spark.stop() // drains the listener bus
    val rss = Jvm.peakRssMb

    val attempted = ctx.ops.size
    val failed = ctx.failed
    val lat = ctx.latencies
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var complete = true
    if (!trace) {
      metrics("setup_s") = Stats.median(setups.map { case (t, st) => Stats.unstolen(t, st) }.toSeq)
      // a run of several rounds leaves its first, cold-JIT round out
      val counted = if (walls.size > 2) walls.drop(1) else walls
      metrics("wall_s") = Stats.median(counted.map { case (t, st) => Stats.unstolen(t, st) }.toSeq)
      metrics("peak_rss_mb") = rss
    } else {
      // layers a workload does not exercise read 0
      perLayer.foreach { case (n, _) => metrics(n) = 0.0 }
      try w.layerMetrics(ctx).foreach { case (n, v) => metrics(n) = v }
      catch {
        case e: Exception =>
          complete = false
          System.err.println(s"[perfbench] layer metrics incomplete: $e")
      }
      def spanMedian(name: String): Double = tracer.selfSeconds(name) match {
        case Seq() => 0.0
        case s => Stats.median(s)
      }
      // in the workloads that read DataGen tables every operation is a graded key
      if (w.scale.isDefined && lat.nonEmpty) {
        metrics("key_p50_s") = Stats.percentile(lat, 50)
        metrics("key_p75_s") = Stats.percentile(lat, 75)
      }
      metrics("entry.build_s") = spanMedian("entry.build")
      metrics("exec_s") = spanMedian("exec")
      Seq("analysis", "optimization", "planning").foreach { p =>
        ctx.samples.get(s"catalyst.${p}_s").foreach(s => metrics(s"catalyst.${p}_s") = Stats.median(s.toSeq))
      }
      val t = engine.totals
      val n = math.max(1, attempted).toDouble
      metrics("spark.jobs") = t.jobs / n
      metrics("spark.stages") = t.stages / n
      metrics("spark.tasks") = t.tasks / n
      metrics("spark.scheduler_delay_s") = t.schedulerDelayMs / 1e3 / n
      metrics("spark.executor_run_s") = t.runMs / 1e3 / n
      metrics("spark.executor_cpu_s") = t.cpuNs / 1e9 / n
      metrics("spark.core_util") = t.runMs / 1e3 / (timedWall * Session.cpus)
      metrics("spark.shuffle_write_mb") = t.shuffleWriteBytes / 1e6 / n
      metrics("spark.shuffle_read_mb") = t.shuffleReadBytes / 1e6 / n
      metrics("spark.spill_mb") = t.spillBytes / 1e6 / n
      metrics("spark.gc_s") = t.gcMs / 1e3 / n
      metrics("jvm.gc_s") = jvmGc
      metrics("jvm.heap_peak_mb") = heapPeak
      // tracing cost: span bookkeeping on the driver thread plus the
      // listener's callbacks; the untraced wall is the rest
      val costS = (tracer.costNs + engine.callbackNs) / 1e9
      metrics("trace.overhead_ratio") = timedWall / (timedWall - costS)
      metrics("host.steal_share") = timedSteal
      tracer.write(spansOut)
    }

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(f"[perfbench] workload=${w.name} seed=$seed trace=${if (trace) 1 else 0} " +
      s"cpus=${Session.cpus} max_heap_mb=$heapMb rounds=${walls.size} ops=$attempted " +
      s"failed=$failed error_rate=${Stats.errorRate(math.max(1, attempted), failed)} " +
      s"latency_samples=${lat.size} beyond_p75=${if (lat.isEmpty) 0 else Stats.rankedBeyond(lat.size, 75)} " +
      s"setups_s=${fmt(setups)} rounds_s=${fmt(walls)} (raw seconds/steal share) " +
      f"timed_s=$timedWall%.3f steal=$timedSteal%.3f")
    val units = (endToEnd ++ perLayer).toMap
    val body = metrics.map { case (n, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "${units(n)}"}"""
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0 && complete
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": """ +
      s"""${if (attempted == 0) 1 else failed}, "metrics": {$body}}""")
    graft.util.Scratch.deleteTree(scratch.toString)
  }

  private def fmt(xs: Iterable[(Double, Double)]): String =
    xs.map { case (t, st) => f"$t%.3f/$st%.3f" }.mkString(",")

  /** A JSON number with all its digits; non-finite values become 0. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
