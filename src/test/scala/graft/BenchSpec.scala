package graft

import org.scalatest.funsuite.AnyFunSuite

/** The band-aware rerun rule (r13 verdict task 6): a first pass either
  * inside the flat budget OR grossly above its own recorded band gets
  * one damping rerun; honestly expensive keys inside their band are
  * never re-paid. */
class BenchSpec extends AnyFunSuite {

  test("shouldRerun decision table") {
    // failed first run: never rerun (the key is already proven broken)
    assert(!Bench.shouldRerun(ok1 = false, t1 = 0.1, rerunMax = 3.0, band = Some(0.1)))
    // fast key inside the flat budget: rerun (the r12 rule, unchanged)
    assert(Bench.shouldRerun(ok1 = true, t1 = 1.2, rerunMax = 3.0, band = None))
    assert(Bench.shouldRerun(ok1 = true, t1 = 2.99, rerunMax = 3.0, band = Some(2.0)))
    // slow key with NO band (new this round): not re-paid
    assert(!Bench.shouldRerun(ok1 = true, t1 = 5.0, rerunMax = 3.0, band = None))
    // the r13 spike class: 4.23 s against a 0.28 s band -> rerun
    assert(Bench.shouldRerun(ok1 = true, t1 = 4.23, rerunMax = 3.0, band = Some(0.28)))
    // honestly expensive key inside 3x its band: never re-paid
    // (ivfpq-style ~5 s training with a ~4.6 s band)
    assert(!Bench.shouldRerun(ok1 = true, t1 = 5.2, rerunMax = 3.0, band = Some(4.6)))
    // 3x band below rerunMax must not shrink the threshold under the
    // flat budget: 2.5 s with a 0.5 s band is above 3x band but still
    // <= rerunMax, so it reruns via the flat rule (and max() keeps the
    // boundary honest just above it)
    assert(Bench.shouldRerun(ok1 = true, t1 = 2.5, rerunMax = 3.0, band = Some(0.5)))
    assert(Bench.shouldRerun(ok1 = true, t1 = 3.1, rerunMax = 3.0, band = Some(0.5)))
    // exactly at 3x band: NOT a spike (strict >)
    assert(!Bench.shouldRerun(ok1 = true, t1 = 12.0, rerunMax = 3.0, band = Some(4.0)))
  }

  test("synthetic stall: escalation fires only when the stall spans both passes") {
    // The r15 driver artifact: sql_q12_priority_class recorded
    // min(38.2, ~37.9) on a ~0.5 s band — a stall window covering both
    // passes. The escalation rule grants exactly one more rerun there...
    assert(Bench.shouldRerun(ok1 = true, t1 = 38.2, rerunMax = 3.0, band = Some(0.5)))
    assert(Bench.shouldEscalate(lo = 37.9, band = Some(0.5)))
    // ...but NOT when the second pass already damped the spike,
    assert(!Bench.shouldEscalate(lo = 0.51, band = Some(0.5)))
    // ...not for an honestly slowed key inside 10x its band (a real 3-9x
    // regression must re-record its honest new time, not be re-paid),
    assert(!Bench.shouldEscalate(lo = 4.2, band = Some(0.5)))
    // ...and never without a band (new keys / scale runs keep two passes).
    assert(!Bench.shouldEscalate(lo = 100.0, band = None))
    // boundary: strictly greater than 10x
    assert(!Bench.shouldEscalate(lo = 5.0, band = Some(0.5)))
  }

  test("mainLine and summaryLine both parse and agree on the digest (r16 task 3)") {
    import Bench.KeyResult
    // a synthetic stalled run: one fast key, one key whose escalation
    // rerun caught a both-pass stall, one failed key after a long gap
    val rs = Seq(
      KeyResult("a_first", 0.5, ok = true, 0.6, None, 5.0),
      KeyResult("b_stalled", 2.0, ok = true, 41.0, Some(Seq(41.0, 40.0, 2.0)), 5.7),
      KeyResult("c_failed", 0.1, ok = false, 0.1, None, 90.0))
    val skipped = Seq("llm_dedup_embed")
    val mainL = Bench.mainLine(rs, 288, skipped, 32, 8192L, "/root/testdata/sf1", 2)
    val sumL = Bench.summaryLine(rs, 288, skipped, 32, 8192L, "/root/testdata/sf1", 2)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = om.readTree(mainL)
    val s = om.readTree(sumL)
    assert(m.get("metric").asText == "total")
    assert(s.get("metric").asText == "summary")
    // digest agreement: either line alone carries the verdict-relevant
    // protocol + totals, whatever direction a capture truncates
    for (f <- Seq("value", "errors", "keys_run", "keys_total", "cpus",
        "max_heap_mb", "first_pass_sec", "reruns", "sf"))
      assert(m.get(f) == s.get(f), s"field $f differs between lines")
    assert(m.get("value").asDouble == 2.6)
    assert(m.get("queries").get("b_stalled").asDouble == 2.0)
    // the summary alone localizes the stall: the largest start-offset
    // gap is the stalled key's full wall (5.7 -> 90.0 = 84.3 s), and
    // the spike pair that damped it is preserved
    assert(s.get("top_start_gaps").get("b_stalled").asDouble == 84.3)
    assert(s.get("spikes_top").get("b_stalled").get(2).asDouble == 2.0)
    assert(s.get("failed_top").get(0).asText == "c_failed")
    // compactness: 10 gaps + 10 spike pairs bound the line, so a 4 KB
    // tail capture keeps it whole even at full surface
    assert(sumL.length < 2048)
  }

  test("queries_partN lines are each ≤2 KB, parseable, and jointly lossless (r18 task 1b)") {
    import Bench.KeyResult
    // full-surface-sized synthetic run: names at the real surface's
    // length scale so the 2 KB bound is tested against realistic bytes
    val rs = (1 to 288).map(i =>
      KeyResult(f"llm_ann_ivfpq_res_recall_$i%03d", i / 100.0, ok = true,
        i / 100.0, None, i.toDouble)).sortBy(_.name)
    val lines = Bench.queryPartLines(rs, "/root/testdata/sf0.1")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(lines.size == math.ceil(288.0 / Bench.QueriesPerPart).toInt)
    // each line is an independent, complete JSON document under 2 KB —
    // whatever subset of lines a truncated capture keeps stays parseable
    lines.foreach(l => assert(l.length < 2048, s"part line ${l.length} B exceeds 2 KB"))
    val parsed = lines.map(om.readTree)
    parsed.zipWithIndex.foreach { case (p, i) =>
      assert(p.get("metric").asText == s"queries_part${i + 1}")
      assert(p.get("part").asInt == i + 1 && p.get("parts").asInt == lines.size)
    }
    // jointly lossless and alphabetical: concatenating the parts in
    // order reproduces the full per-key map in run (sorted) order
    val keysInOrder = parsed.flatMap { p =>
      val it = p.get("data").fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null).takeWhile(_ != null).toSeq
    }
    assert(keysInOrder == rs.map(_.name))
    val vals = parsed.flatMap { p =>
      val d = p.get("data")
      val it = d.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null).takeWhile(_ != null)
        .map(k => k -> d.get(k).asDouble).toSeq
    }.toMap
    assert(vals("llm_ann_ivfpq_res_recall_288") == 2.88)
    // every part carries the run total, so a single surviving line still
    // cross-checks against the digest lines
    parsed.foreach(p => assert(math.abs(p.get("value").asDouble - rs.map(_.graded).sum) < 0.01))
  }

  test("bands resource parses, is positive, and covers the graded surface") {
    // the recorded-scale dir: bands must load here and auto-disable
    // anywhere else (ADVICE r14 — a forgotten SPARK_GRAFT_BANDS=off on
    // a scale run would trip the 3×band rule on every key)
    assert(!Bench.bandsEnabled("/tmp/graft_data/sf1"), "bands must auto-disable off-scale")
    assert(Bench.loadBands("/tmp/graft_data/sf1").isEmpty)
    assert(Bench.bandsEnabled("/root/testdata/sf0.1"))
    val bands = Bench.loadBands("/root/testdata/sf0.1")
    assert(bands.nonEmpty, "bench_bands.json missing from resources")
    assert(bands.values.forall(_ > 0.0))
    // every band key must be a real graded key (no orphaned bands), and
    // coverage must stay near-total so the rule actually protects the
    // surface; keys newer than the last band regeneration are the only
    // allowed gap
    val keys = SparkEntry.queries.keySet
    val orphans = bands.keySet -- keys
    assert(orphans.isEmpty, s"bands for nonexistent keys: $orphans")
    val uncovered = keys -- bands.keySet
    assert(uncovered.size <= 20,
      s"too many keys without a band (${uncovered.size}) — run tools/make_bands.py " +
        s"on the latest BENCH_LOCAL pair: $uncovered")
  }

  test("bands file is self-describing and its sources passed the clean gate (r17 task 3)") {
    // bands feed the 3×-band rerun trigger; regenerating them from an
    // elevated-host pair raises every threshold by the elevation factor
    // (the r17 mistake). make_bands.py now refuses sources above the
    // clean s/key gate and records gate + sources INSIDE the file as
    // string-valued meta keys; this pins both that the meta is present
    // (the artifact names its own evidence) and that loadBands' numeric
    // regex never turns the meta into a band.
    val in = getClass.getResourceAsStream("/bench_bands.json")
    assert(in != null, "bench_bands.json missing from resources")
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(txt)
    val gateField = n.get("_gate")
    assert(gateField != null && gateField.isTextual, "bands file lacks the _gate meta")
    val gate = gateField.asText.stripPrefix("max_s_per_key=").toDouble
    assert(gate <= 1.2, s"band gate $gate exceeds the documented clean ceiling (1.2 s/key)")
    val srcField = n.get("_sources")
    assert(srcField != null && srcField.isTextual && srcField.asText.nonEmpty,
      "bands file lacks the _sources meta naming its clean source runs")
    val bands = Bench.loadBands("/root/testdata/sf0.1")
    assert(!bands.contains("_gate") && !bands.contains("_sources"),
      "string meta keys must never parse as numeric bands")
  }

  test("GraftSession CPU parse rejects non-integer, zero and negative counts") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("32")) == 32)
    for (bad <- Seq("local[*]", "4.5", "", "0", "-2")) {
      val e = intercept[RuntimeException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        s"unhelpful message for '$bad': ${e.getMessage}")
    }
  }
}
