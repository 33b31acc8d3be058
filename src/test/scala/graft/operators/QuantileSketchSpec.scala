package graft.operators

import org.apache.spark.sql.functions._

import graft.{H60, SparkSpec}

/** QuantileSketchAgg invariants:
  *
  *  - the MERGE LAW bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))
  *    over arbitrary splits, plus merge commutativity and input-order
  *    independence — the mergeable-summaries contract;
  *  - Spark-side partitioning invariance (1 vs 13 partitions →
  *    bit-identical sketches) — the property KLL/t-digest lack;
  *  - exact-identity on n ≤ k groups, hard k-bound and correct
  *    bottom-k-by-tag membership on n > k groups;
  *  - quantile() accuracy on a deterministic md5-tag sample: the rank
  *    of the estimated tercile cutoff stays within the O(1/√k) band;
  *  - the aggregation is partial (map-side) before the exchange.
  */
class QuantileSketchSpec extends SparkSpec {

  import QuantileSketchAgg.In

  private def direct(xs: Seq[In], k: Int): Seq[Double] = {
    val agg = QuantileSketchAgg(k)
    agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
  }

  private val rnd = new scala.util.Random(7)
  private val data: Seq[In] =
    (0 until 500).map(i => In(rnd.nextDouble() * 100, H60(s"t:$i")))

  test("merge law over arbitrary splits; commutative; order-independent") {
    val agg = QuantileSketchAgg(32)
    val whole = direct(data, 32)
    Seq(1, 7, 100, 499).foreach { cut =>
      val (a, b) = data.splitAt(cut)
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(agg.merge(bufA, bufB)) == whole, s"split at $cut")
      assert(agg.finish(agg.merge(bufB, bufA)) == whole, s"commute at $cut")
    }
    assert(direct(rnd.shuffle(data), 32) == whole, "input order leaked")
  }

  test("n <= k is the identity sketch; n > k keeps the k smallest tags") {
    val small = data.take(20)
    assert(direct(small, 32) == small.map(_.value).sorted)
    val sk = direct(data, 64)
    assert(sk.size == 64)
    val expect = data.sortBy(x => (x.tag, x.value)).take(64).map(_.value).sorted
    assert(sk == expect, "bottom-k-by-tag membership")
  }

  test("spark partitioning invariance and map-side partial aggregation") {
    import spark.implicits._
    val df = data.toDF("value", "tag")
      .withColumn("g", pmod(col("tag"), lit(3)))
    val sketch = udaf(QuantileSketchAgg(16))
    def run(parts: Int): Seq[(Long, Seq[Double])] =
      df.repartition(parts).groupBy(col("g"))
        .agg(sketch(col("value"), col("tag")).as("samp"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
        .sortBy(_._1)
    val one = run(1)
    assert(one == run(13), "sketch must not depend on partitioning")
    val plan = df.groupBy(col("g"))
      .agg(sketch(col("value"), col("tag")).as("samp"))
    plan.collect()
    assert(plan.queryExecution.executedPlan.toString
      .contains("partial_quantilesketchagg"),
      plan.queryExecution.executedPlan.toString.take(2000))
  }

  test("tercile cutoff rank error stays in the O(1/sqrt(k)) band") {
    // deterministic md5 tags ⇒ a fixed sample ⇒ a fixed, replayable
    // error — this asserts the MEASURED error of the shipped recipe,
    // not a probabilistic claim
    val n = 5000
    val xs = (0 until n).map(i => In(i.toDouble, H60(s"acc:$i")))
    Seq(64, 256).foreach { k =>
      val sk = direct(rnd.shuffle(xs.toList), k)
      Seq(1.0 / 3, 2.0 / 3).foreach { p =>
        val est = QuantileSketchAgg.quantile(sk, p)
        val rankErr = math.abs(est / n - p)
        val band = 3.0 / math.sqrt(k) // ~3σ of the bottom-k rank error
        assert(rankErr <= band, s"k=$k p=$p rankErr=$rankErr > $band")
      }
    }
  }

  test("quantile() follows the ceil(p*m) order-statistic rule") {
    val s = Seq(1.0, 2.0, 3.0, 4.0)
    assert(QuantileSketchAgg.quantile(s, 0.25) == 1.0)
    assert(QuantileSketchAgg.quantile(s, 0.26) == 2.0)
    assert(QuantileSketchAgg.quantile(s, 1.0) == 4.0)
    intercept[IllegalArgumentException](QuantileSketchAgg.quantile(Nil, 0.5))
    intercept[IllegalArgumentException](QuantileSketchAgg.quantile(s, 0.0))
  }

  test("capacity must be positive") {
    intercept[IllegalArgumentException](QuantileSketchAgg(0))
  }
}
