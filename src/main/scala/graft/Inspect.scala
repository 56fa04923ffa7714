package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Plan and run inspector for `SparkEntry.queries` keys, on the session
  * Bench runs (`GraftSession`, `SPARK_GRAFT_CPUS` wide). For each key
  * (every key when none are named) it prints the formatted physical plan;
  * a key whose plan fails prints `PLAN FAILED` and the rest go on. With
  * `--runs N` it then runs the full plan N times (Bench's `toRdd.count()`
  * protocol) and prints, from one `SparkListener`:
  *  - one `[stage]` line per completed stage, naming the key and run
  *    (0 is the planning pass) that started its job: task count,
  *    executor run, CPU and GC time, shuffle read/write and spill bytes;
  *  - one `[progress]` line per streaming trigger: the `durationMs`
  *    breakdown and each state operator's rows and commit times
  *    (streaming keys run their query while the frame is built);
  *  - the wall seconds of each run;
  *  - after the session stops (which drains the listener), one
  *    `[jobs] <key> run=<i> jobs=<n> stages=<m>` line per key and run.
  * The key and run reach the listener as a job local property, so a
  * key's stages are its own even when they print after the next key's
  * header.
  *
  * Usage: `runMain graft.Inspect <sfDir> [--runs N] [key...]`
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Inspect <sfDir> [--runs N] [key...]"
    require(args.nonEmpty, usage)
    val sfDir = args(0)
    val rest = args.drop(1).toSeq
    val at = rest.indexOf("--runs")
    val runs = if (at < 0) 0 else rest.lift(at + 1).flatMap(_.toIntOption)
      .filter(_ >= 0).getOrElse(sys.error(s"--runs takes a non-negative integer; $usage"))
    val named = if (at < 0) rest else rest.patch(at, Nil, 2)
    val keys = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    val spark = GraftSession.local(GraftSession.cpus)
    val sc = spark.sparkContext
    // written by the listener thread only; read after spark.stop() joins it
    val stageRun = mutable.Map.empty[Int, String]
    val counts = mutable.Map.empty[String, (Int, Int)].withDefaultValue((0, 0))
    if (runs > 0) sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val run = Option(js.properties).flatMap(p => Option(p.getProperty(RunProp))).getOrElse(Untagged)
        js.stageIds.foreach(stageRun.getOrElseUpdate(_, run))
        val (jobs, stages) = counts(run)
        counts(run) = (jobs + 1, stages)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val sr = tm.shuffleReadMetrics
        val run = stageRun.getOrElse(si.stageId, Untagged)
        val (jobs, stages) = counts(run)
        counts(run) = (jobs, stages + 1)
        println(f"[stage ${si.stageId}%4d] $run tasks=${si.numTasks}%3d " +
          f"run=${tm.executorRunTime / 1000.0}%8.1fs cpu=${tm.executorCpuTime / 1e9}%8.1fs " +
          f"gc=${tm.jvmGCTime / 1000.0}%7.1fs " +
          f"shRead=${(sr.localBytesRead + sr.remoteBytesRead) / 1e6}%9.1fMB " +
          f"shWrite=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
          f"spill=${tm.diskBytesSpilled / 1e6}%9.1fMB  ${si.name.takeWhile(_ != '\n').take(60)}")
      }
      // streaming progress reaches the context's listener bus from every
      // session, including the child sessions the streaming keys run on
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: QueryProgressEvent =>
          val p = e.progress
          val state = p.stateOperators.map { s =>
            s"op=${s.operatorName} rowsTotal=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
              s"commitMs=${s.allUpdatesTimeMs}/${s.allRemovalsTimeMs}/${s.commitTimeMs} " +
              s"memUsed=${s.memoryUsedBytes} shards=${s.numShufflePartitions} " +
              s"loadedProviders=${s.numStateStoreInstances}"
          }.mkString(" | ")
          println(s"[progress] ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${new java.util.TreeMap[String, java.lang.Long](p.durationMs)} $state")
        case _ => ()
      }
    })
    val ran = mutable.ArrayBuffer.empty[String]
    def tagged[A](key: String, run: Int)(body: => A): A = {
      ran += s"$key run=$run"
      sc.setLocalProperty(RunProp, ran.last)
      body
    }
    keys.foreach { key =>
      println(s"===== $key =====")
      val planned = try {
        tagged(key, 0)(SparkEntry.queries(key)(spark, sfDir).explain("formatted")); true
      } catch { case e: Throwable => println(s"PLAN FAILED: ${e.getMessage}"); false }
      if (planned) (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        try tagged(key, i)(SparkEntry.queries(key)(spark, sfDir).queryExecution.toRdd.count())
        catch { case e: Throwable => println(s"RUN FAILED: ${e.getMessage}") }
        println(f"[run] $key $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
    if (runs > 0) ran.foreach { run =>
      val (jobs, stages) = counts(run)
      println(s"[jobs] $run jobs=$jobs stages=$stages")
    }
  }

  /** The job local property naming the key and run a job belongs to. */
  private val RunProp = "graft.inspect.run"
  private val Untagged = "- run=-"
}
