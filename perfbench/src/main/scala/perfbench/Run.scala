package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: a graded key, a snapshot action or an LLM key.
  * `group` is the layer or module the operation belongs to. */
final case class Op(name: String, group: String, round: Int, seconds: Double, ok: Boolean)

/** What a workload is given: the session, the tracer, the seed and the
  * run's scratch root; it reports its operations through [[op]]. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val scratch: Path, val dataDir: Path, val smoke: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Per-layer samples a workload records itself (name -> values). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var round = 0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time `body` as one operation. It fails when it throws or returns
    * false; a failed operation is counted, never timed as a fast one. */
  def op(name: String, group: String)(body: => Boolean): Boolean = {
    if (tracer.enabled) spark.sparkContext.setLocalProperty(Engine.OpKey, name)
    val t0 = System.nanoTime()
    val ok =
      try tracer.span(name)(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) spark.sparkContext.setLocalProperty(Engine.OpKey, null)
    if (!ok) System.err.println(s"[perfbench] $name: wrong output or error")
    ops += Op(name, group, round, secs, ok)
    ok
  }

  /** Mark the latest operation as failed (an output check that runs
    * after its timed section). */
  def failLast(reason: String): Unit = {
    System.err.println(s"[perfbench] ${ops.last.name}: $reason")
    ops(ops.size - 1) = ops.last.copy(ok = false)
  }

  def opSeconds(name: String): Seq[Double] =
    ops.filter(o => o.name == name && o.ok).map(_.seconds).toSeq

  def failed: Int = ops.count(!_.ok)

  /** Latency samples: successful operations only. */
  def latencies: Seq[Double] = ops.filter(_.ok).map(_.seconds).toSeq
}

/** A benchmark workload. `round` does one fixed unit of work; the run
  * does at least `minRounds` and repeats while the time budget lasts,
  * up to `maxRounds`. */
trait Workload {
  def name: String
  /** Data scale (DataGen sf) the workload reads, if any. */
  def scale: Option[String]
  def warmup(ctx: Ctx): Unit
  /** Untimed preparation after set-up, outside every metric. */
  def prepare(ctx: Ctx): Unit = ()
  def minRounds: Int = 1
  def maxRounds: Int = Int.MaxValue
  def round(ctx: Ctx): Unit
  /** Per-layer metrics of this workload (name -> value), traced runs. */
  def layerMetrics(ctx: Ctx): Map[String, Double]
}

object Session {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session the graded Bench builds: graft extensions installed,
    * shuffle partitions equal to cores, UTC, UI off. Spark's own
    * scratch and warehouse dirs stay under the run's scratch root. */
  def build(scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong * 1024 / 1e6
  }

  /** Milliseconds since the epoch at which this JVM started. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** (steal, total) CPU time of the whole machine, in clock ticks, from
    * the aggregate line of /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  /** Run `body`; return its result, its wall seconds and the share of
    * the machine's CPU time stolen meanwhile. */
  def timed[T](body: => T): (T, Double, Double) = {
    val (c0, t0) = (cpuTicks, System.nanoTime())
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, Stats.stealShare(c0, cpuTicks))
  }
}
