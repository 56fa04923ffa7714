package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.percentile(Seq(3.0), 75) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("p75 has at least 10 samples beyond it from 40 samples on") {
    assert(Stats.rankedBeyond(40, 75) == 10)
    assert(Stats.rankedBeyond(39, 75) == 9)
    val xs = (1 to 40).map(_.toDouble)
    assert(xs.count(_ > Stats.percentile(xs, 75)) == 10)
    // the 32-key relational mix leaves 8 samples beyond its p75
    assert(Stats.rankedBeyond(QueryMix.keys.size, 75) == 8)
    assert(QueryMix.keys.distinct.size == QueryMix.keys.size)
  }

  test("MB/s counts 10^6 bytes per second") {
    assert(Stats.mbPerSec(50000000L, 2.0) == 25.0)
    assertThrows[IllegalArgumentException](Stats.mbPerSec(1L, 0.0))
  }

  test("steal share and the unstolen wall") {
    assert(Stats.stealShare((10L, 1000L), (60L, 1500L)) == 0.1)
    assert(Stats.stealShare((10L, 1000L), (10L, 1000L)) == 0.0)
    assert(Stats.unstolen(20.0, 0.25) == 15.0)
    assert(Stats.unstolen(20.0, 0.0) == 20.0)
    assertThrows[IllegalArgumentException](Stats.unstolen(1.0, 1.0))
    val (steal, total) = Jvm.cpuTicks
    assert(total > 0 && steal >= 0 && steal <= total)
  }

  test("self time subtracts the union of child intervals") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L))) == 60)
    // children are clipped to the parent
    assert(Stats.selfTime(10, 20, Seq((0L, 15L), (18L, 30L))) == 3)
    assert(Stats.coveredLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3)
  }

  test("tracer self times follow the span tree") {
    val t = new Tracer("r", enabled = true)
    t.span("outer") { t.span("inner")(Thread.sleep(20)); Thread.sleep(5) }
    val outer = t.spans.find(_.name == "outer").get
    val inner = t.spans.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    val self = t.selfTimes
    assert(self(outer.id) == (outer.end - outer.start) - (inner.end - inner.start))
    assert(self(inner.id) == inner.end - inner.start)
    val off = new Tracer("r", enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("error rate counts failures against attempts") {
    assert(Stats.errorRate(40, 0) == 0.0)
    assert(Stats.errorRate(40, 10) == 0.25)
    assertThrows[IllegalArgumentException](Stats.errorRate(0, 0))
    assertThrows[IllegalArgumentException](Stats.errorRate(3, 4))
  }

  test("the metric lists match BENCHMARK.json") {
    val spec = scala.io.Source.fromFile("../BENCHMARK.json").mkString
    def names(section: String): Seq[(String, String)] = {
      val body = spec.split("\"" + section + "\"")(1).split("]")(0)
      """"name": "([^"]+)", "unit": "([^"]+)"""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(names("end_to_end") == Main.endToEnd)
    assert(names("per_layer") == Main.perLayer)
    val workloads = """"name": "([a-z_]+)", "why"""".r.findAllMatchIn(spec).map(_.group(1)).toSeq
    assert(workloads == Main.workloads.map(_.name))
  }
}
