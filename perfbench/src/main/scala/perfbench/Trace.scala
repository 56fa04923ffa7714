package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span; every
  * span of a run carries the run's id. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, run: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory and written out when the run ends. The
  * benchmark drives the program from one thread, so the open-span stack
  * needs no locking. With tracing off `span` only runs its body. */
final class Tracer(val run: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  /** Driver-thread time spent on span bookkeeping. */
  private var bookkeepingNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = System.nanoTime()
      bookkeepingNs += start - t0
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        done += Span(id, parent, name, run, start, end)
        bookkeepingNs += System.nanoTime() - end
      }
    }

  def spans: Seq[Span] = done.toSeq
  def costNs: Long = bookkeepingNs

  /** Self time of every span, by span id. */
  def selfTimes: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map(s => s.id -> Stats.selfTime(s.start, s.end,
      kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).toMap
  }

  /** Self seconds of the spans with this name. */
  def selfSeconds(name: String): Seq[Double] = {
    val self = selfTimes
    done.filter(_.name == name).map(s => self(s.id) / 1e9).toSeq
  }

  def write(path: Path): Unit = {
    val self = selfTimes
    val lines = done.sortBy(_.start).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark engine counters for the benchmark's timed operations. Jobs
  * carry the operation's name in the local property [[Engine.OpKey]];
  * work started outside a timed operation (warm-up, output checks) is
  * not counted. Read the totals only after the listener bus has
  * drained, i.e. after the session stopped. */
final class Engine extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var schedulerDelayMs, runMs, cpuNs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  }
  private val stageTimed = mutable.Map.empty[Int, Boolean]
  val totals = new Totals
  /** Time spent inside this listener's callbacks on the bus thread. */
  @volatile var callbackNs = 0L

  private def timed(e: SparkListenerJobStart): Boolean =
    Option(e.properties).flatMap(p => Option(p.getProperty(Engine.OpKey))).exists(_.nonEmpty)

  private def counting(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = counting {
    val t = timed(e)
    if (t) totals.jobs += 1
    e.stageIds.foreach(stageTimed(_) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counting {
    if (stageTimed.getOrElse(e.stageInfo.stageId, false)) totals.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counting {
    val m = e.taskMetrics
    if (stageTimed.getOrElse(e.stageId, false) && m != null) {
      val info = e.taskInfo
      totals.tasks += 1
      // the scheduler delay as Spark's UI derives it
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      val delay = info.duration - m.executorRunTime - overhead - info.gettingResultTime
      totals.schedulerDelayMs += math.max(0L, delay)
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      totals.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object Engine {
  val OpKey = "perfbench.op"
}
