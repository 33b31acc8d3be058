package graft.operators

import graft.SparkSpec

/** Alternating large-star/small-star CC (Kiveris SoCC'14) vs min-label
  * propagation:
  *  (1) identical labels on the real LSH pair graph (the shared-oracle
  *      premise made operational),
  *  (2) the round-count separation the algorithm exists for: a planted
  *      64-edge chain converges in ≤ 8 star rounds to ONE cluster,
  *      while min-label at a 16-round cap provably hasn't finished
  *      (labels still split) and needs the full diameter to match,
  *  (3) degenerate graphs: a pair, a self-loop-only node, an empty
  *      edge set.
  */
class CcStarSpec extends SparkSpec {

  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star labels equal min-label labels on the fixture pair graph") {
    val star = graft.SparkEntry.queries("dedup_cluster_cc_star")(spark, sf())
      .collect().toSeq
    val minl = graft.SparkEntry.queries("dedup_cluster_cc")(spark, sf())
      .collect().toSeq
    assert(star == minl, "two CC algorithms must canonicalize identically")
    assert(star.nonEmpty)
  }

  test("planted 64-chain: star is diameter-free, min-label is diameter-bound") {
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("u", "v")
    val (starLabels, rounds) = ConnectedComponents.runStar(chain)
    val sl = labelsOf(starLabels)
    assert(sl.size == 65 && sl.values.forall(_ == 0L),
      s"chain must collapse to one cluster rooted at 0: $sl")
    assert(rounds <= 8,
      s"star rounds must be ~log(n) on a 64-chain, took $rounds")

    // min-label at the same sub-diameter budget has NOT converged —
    // the label can only have travelled 16 hops
    val capped = labelsOf(ConnectedComponents.run(chain, maxIter = 16))
    assert(capped.values.toSet.size > 1,
      "min-label within 16 rounds cannot finish a 64-diameter chain")
    // given the full diameter it matches star exactly
    val full = labelsOf(ConnectedComponents.run(chain, maxIter = 100))
    assert(full == sl)
  }

  test("degenerate graphs: pair, self-loop, empty") {
    val (pair, _) = ConnectedComponents.runStar(Seq((7L, 3L)).toDF("u", "v"))
    assert(labelsOf(pair) == Map(3L -> 3L, 7L -> 3L))

    val (self, _) = ConnectedComponents.runStar(Seq((5L, 5L)).toDF("u", "v"))
    assert(labelsOf(self) == Map(5L -> 5L),
      "a self-loop-only node labels itself")

    val (empty, _) = ConnectedComponents.runStar(
      Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(empty.collect().isEmpty)
  }
}
