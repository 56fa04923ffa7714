package graft.operators

import graft.SparkSpec

/** The large-star/small-star component resolver must label components by
  * their min id AND converge in logarithmic rounds — the whole point of
  * replacing label propagation (O(diameter)) for 100 TB chain-shaped
  * dup graphs.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def ccOf(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (labels, rounds) = LlmDedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("63-diameter chain resolves in logarithmic rounds") {
    val n = 64L
    val (labels, rounds) = ccOf((0L until n - 1).map(i => (i, i + 1)))
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L), "all chain nodes must label to the min")
    assert(rounds <= 10, s"took $rounds rounds for a ${n - 1}-diameter chain (propagation would take ~${n - 1})")
  }

  test("components are labeled independently by their own min") {
    val (labels, _) = ccOf(Seq((5L, 1L), (5L, 3L), (10L, 12L), (20L, 21L)))
    assert(labels == Map(1L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("an already-star graph converges in one confirming round") {
    val (labels, rounds) = ccOf(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    assert(rounds == 1)
  }
}
