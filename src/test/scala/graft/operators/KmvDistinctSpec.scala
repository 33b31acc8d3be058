package graft.operators

import org.apache.spark.sql.functions._

import graft.{H60, SparkSpec}

/** KmvDistinctAgg invariants:
  *
  *  - the MERGE LAW bottomKDistinct(A ∪ B) =
  *    bottomKDistinct(bottomKDistinct(A) ∪ bottomKDistinct(B)) over
  *    arbitrary splits, plus merge commutativity and input-order
  *    independence — the mergeable-summaries contract;
  *  - DISTINCT semantics: duplicated rows leave the sketch (and the
  *    estimate) bit-identical — it counts values, not rows;
  *  - exact-identity below k distinct tags; hard k-bound and correct
  *    k-smallest-distinct membership above;
  *  - Spark-side partitioning invariance (1 vs 13 partitions →
  *    bit-identical sketches) and map-side partial aggregation;
  *  - estimator accuracy: on deterministic md5 tags the measured
  *    relative error stays inside the ~3/√(k−2) band.
  */
class KmvDistinctSpec extends SparkSpec {

  private def direct(xs: Seq[Long], k: Int): Seq[Long] = {
    val agg = KmvDistinctAgg(k)
    agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
  }

  private val rnd = new scala.util.Random(11)
  private val baseTags: Seq[Long] = (0 until 400).map(i => H60(s"v:$i"))
  // duplicates: every tag appears 1–3 times, shuffled
  private val data: Seq[Long] =
    rnd.shuffle(baseTags.flatMap(t => Seq.fill(1 + (t % 3).toInt)(t)).toList)

  test("merge law over arbitrary splits; commutative; order-independent") {
    val agg = KmvDistinctAgg(32)
    val whole = direct(data, 32)
    Seq(1, 13, 200, 700).foreach { cut =>
      val (a, b) = data.splitAt(cut)
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(agg.merge(bufA, bufB)) == whole, s"split at $cut")
      assert(agg.finish(agg.merge(bufB, bufA)) == whole, s"commute at $cut")
    }
    assert(direct(rnd.shuffle(data.toList), 32) == whole, "input order leaked")
  }

  test("distinct semantics: duplication leaves sketch and estimate unchanged") {
    val once = direct(baseTags, 32)
    assert(direct(data, 32) == once, "row multiplicity leaked into the sketch")
    assert(KmvDistinctAgg.estimate(direct(data, 32), 32) ==
      KmvDistinctAgg.estimate(once, 32))
  }

  test("below k distinct the sketch is exact; above it keeps the k smallest") {
    val small = baseTags.take(20)
    assert(direct(rnd.shuffle(small.toList), 32) == small.sorted)
    assert(KmvDistinctAgg.estimate(direct(small, 32), 32) == 20.0)
    val sk = direct(data, 64)
    assert(sk.size == 64)
    assert(sk == baseTags.distinct.sorted.take(64), "k-smallest-distinct membership")
  }

  test("spark partitioning invariance and map-side partial aggregation") {
    import spark.implicits._
    val df = data.toDF("tag").withColumn("g", pmod(col("tag"), lit(3)))
    val kmv = udaf(KmvDistinctAgg(16))
    def run(parts: Int): Seq[(Long, Seq[Long])] =
      df.repartition(parts).groupBy(col("g"))
        .agg(kmv(col("tag")).as("tags"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
        .sortBy(_._1)
    val one = run(1)
    assert(one == run(13), "sketch must not depend on partitioning")
    val plan = df.groupBy(col("g")).agg(kmv(col("tag")).as("tags"))
    plan.collect()
    assert(plan.queryExecution.executedPlan.toString
      .contains("partial_kmvdistinctagg"),
      plan.queryExecution.executedPlan.toString.take(2000))
  }

  test("estimator error stays in the ~3/sqrt(k-2) band on md5 tags") {
    // deterministic tags ⇒ a fixed, replayable error — this asserts the
    // MEASURED error of the shipped recipe, not a probabilistic claim
    Seq(2000, 20000).foreach { n =>
      val ts = (0 until n).map(i => H60(s"acc:$i"))
      Seq(64, 256).foreach { k =>
        val est = KmvDistinctAgg.estimate(direct(ts, k), k)
        val rel = math.abs(est - n) / n
        val band = 3.0 / math.sqrt(k - 2.0)
        assert(rel <= band, s"n=$n k=$k relErr=$rel > $band (est=$est)")
      }
    }
  }

  test("capacity must be positive") {
    intercept[IllegalArgumentException](KmvDistinctAgg(0))
  }
}
