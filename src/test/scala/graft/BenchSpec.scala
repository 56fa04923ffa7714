package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.util.Built

/** Bench's fixed per-key protocol and its two output lines: every key
  * gets two timed passes, graded by the faster one only when both
  * succeeded, and the digest is the full line minus its per-key maps. */
class BenchSpec extends AnyFunSuite {
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Runs the protocol on a fake pass replaying scripted (seconds, ok)
    * outcomes; returns the result and how many passes ran. */
  private def run(name: String, outcomes: (Double, Boolean)*): (Bench.KeyResult, Int) = {
    val it = outcomes.iterator
    var calls = 0
    val r = Bench.runKey(name, 0.0, () => ())(() => { calls += 1; it.next() })
    (r, calls)
  }

  private def parse(results: Seq[Bench.KeyResult]): (JsonNode, JsonNode, String) = {
    val (full, digest) = Bench.lines(results, 288, Nil, 4, 8192L, "/data/sf0.1")
    (om.readTree(full), om.readTree(digest), digest)
  }

  test("the graded time is the min of two passes, both passes are recorded") {
    val (slowFirst, n1) = run("a_key", 2.0 -> true, 1.5 -> true)
    val (fastFirst, n2) = run("b_key", 0.4 -> true, 0.9 -> true)
    assert(n1 == 2 && n2 == 2)
    assert(slowFirst.ok && slowFirst.graded == 1.5 && slowFirst.passes == Seq(2.0, 1.5))
    assert(fastFirst.graded == 0.4)
    val (full, _, _) = parse(Seq(slowFirst, fastFirst))
    assert(full.get("value").asDouble == 1.9)
    assert(full.get("first_pass_sec").asDouble == 2.4, "first_pass_sec must be the sum of pass 1")
    assert(full.get("queries").get("a_key").asDouble == 1.5)
    assert(full.get("passes").get("a_key").get(0).asDouble == 2.0)
    assert(full.get("passes").get("a_key").get(1).asDouble == 1.5)
    assert(full.get("errors").asInt == 0)
  }

  test("pass 2 is skipped after a failed pass 1; a failed pass 2 fails the key at t1") {
    val (failedFirst, n1) = run("a_key", 0.1 -> false, 0.05 -> true)
    assert(n1 == 1, "pass 2 ran after pass 1 failed")
    assert(!failedFirst.ok && failedFirst.passes == Seq(0.1) && failedFirst.graded == 0.1)

    // a fast failing pass 2 must not become the graded minimum
    val (failedSecond, n2) = run("b_key", 0.8 -> true, 0.2 -> false)
    assert(n2 == 2)
    assert(!failedSecond.ok && failedSecond.graded == 0.8)
    val (full, _, _) = parse(Seq(failedFirst, failedSecond))
    assert(full.get("errors").asInt == 2)
    assert(full.get("failed").get(1).asText == "b_key")
    assert(full.get("passes").get("a_key").size == 1)
  }

  test("pass 2 repeats pass 1's builds; a pre-existing Built key is not rebuilt") {
    val warmKey = s"benchspec#${java.util.UUID.randomUUID()}"
    val coldKey = s"benchspec#${java.util.UUID.randomUUID()}"
    var warmBuilds = 0
    var coldBuilds = 0
    Built(warmKey)(warmBuilds += 1)
    val r = Bench.runKey("built_key", 0.0, () => ()) { () =>
      Built(warmKey)(warmBuilds += 1)
      Built(coldKey)(coldBuilds += 1)
      (0.1, true)
    }
    assert(r.ok && r.passes.size == 2)
    assert(coldBuilds == 2, "pass 2 rode pass 1's build instead of repeating it")
    assert(warmBuilds == 1, "an artifact built before pass 1 was rebuilt")
    assert(Built.keys(coldKey), "pass 2's build must stay for later keys")
  }

  test("both lines parse; the digest is the full line minus its per-key maps and stays small") {
    val rs = Seq(
      Bench.KeyResult("a_first", Seq(0.6, 0.5), ok = true, 5.0),
      Bench.KeyResult("c_failed", Seq(0.1), ok = false, 90.0))
    val (full, digest, _) = parse(rs)
    assert(full.get("metric").asText == "total" && digest.get("metric").asText == "total")
    assert(full.get("starts").get("c_failed").asDouble == 90.0)
    val stripped = full.deepCopy[ObjectNode]()
    stripped.remove(java.util.Arrays.asList("queries", "passes", "starts"))
    assert(digest == stripped)

    // the worst case: every key failed with a long name
    val allFailed = (1 to 288).map(i =>
      Bench.KeyResult(f"k$i%03d".padTo(40, 'x'), Seq(1.0), ok = false, i.toDouble))
    val (fullF, digestF, digestLine) = parse(allFailed)
    assert(digestLine.length < 1800, s"digest is ${digestLine.length} chars")
    assert(digestF.get("errors").asInt == 288 && digestF.get("failed").size == 10)
    assert(fullF.get("failed").size == 288)
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
