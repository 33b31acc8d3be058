package graft.operators

import org.apache.spark.sql.functions._

import graft.{H60, SparkSpec}

/** AmsSketchAgg invariants:
  *
  *  - the MERGE LAW (cell-wise addition) over arbitrary splits, plus
  *    merge commutativity and input-order independence;
  *  - counter mass: Σ_j |c_j| parity — each occurrence adds ±1 to every
  *    counter, so c_j ≡ N (mod 2) for all j;
  *  - estimator accuracy on deterministic md5 tags: the measured
  *    relative error stays inside the ~3·√(2/k) band on both a uniform
  *    and a heavily-skewed frequency profile (F₂ is skew-sensitive —
  *    that is its job);
  *  - Spark-side partitioning invariance (1 vs 13 partitions →
  *    bit-identical counters) and map-side partial aggregation;
  *  - k bounds (1 ≤ k ≤ 60 — the h60 tag has 60 sign bits).
  */
class AmsSketchSpec extends SparkSpec {

  private val K = 60

  private def direct(xs: Seq[Long], k: Int = K): Array[Long] = {
    val agg = AmsSketchAgg(k)
    xs.foldLeft(agg.zero)(agg.reduce)
  }

  private val rnd = new scala.util.Random(3)
  // uniform profile: 300 keys × 3 occurrences
  private val uniform: Map[String, Long] =
    (0 until 300).map(i => s"u$i" -> 3L).toMap
  // skewed profile: one key with 500 occurrences over a 100-key tail
  private val skewed: Map[String, Long] =
    Map("hot" -> 500L) ++ (0 until 100).map(i => s"t$i" -> 2L).toMap

  private def stream(profile: Map[String, Long]): Seq[Long] = rnd.shuffle(
    profile.toSeq.flatMap { case (t, f) =>
      Seq.fill(f.toInt)(H60(s"f2:$t")) }.toList)

  test("merge law over arbitrary splits; commutative; order-independent") {
    val agg = AmsSketchAgg(K)
    val data = stream(uniform)
    val whole = direct(data).toSeq
    Seq(1, 13, 450).foreach { cut =>
      val (a, b) = data.splitAt(cut)
      assert(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce)).toSeq == whole, s"split $cut")
      assert(agg.merge(
        b.foldLeft(agg.zero)(agg.reduce),
        a.foldLeft(agg.zero)(agg.reduce)).toSeq == whole, s"commute $cut")
    }
    assert(direct(rnd.shuffle(data.toList)).toSeq == whole, "order leaked")
    // each occurrence adds ±1 to every counter: c_j ≡ N (mod 2)
    whole.foreach(c => assert(((c - data.size) % 2 + 2) % 2 == 0))
  }

  test("estimator accuracy inside 3*sqrt(2/k) on uniform and skewed profiles") {
    Seq(uniform, skewed).foreach { profile =>
      val f2 = profile.values.map(f => f * f).sum.toDouble
      val est = AmsSketchAgg.estimate(direct(stream(profile)), K)
      val rel = math.abs(est - f2) / f2
      val band = 3.0 * math.sqrt(2.0 / K)
      assert(rel <= band, s"relErr $rel > $band (est=$est, f2=$f2)")
    }
  }

  test("spark partitioning invariance and map-side partial aggregation") {
    import spark.implicits._
    val df = stream(skewed).toDF("tag")
      .withColumn("g", pmod(col("tag"), lit(2)))
    val ams = udaf(AmsSketchAgg(16))
    def run(parts: Int): Seq[(Long, Seq[Long])] =
      df.repartition(parts).groupBy(col("g"))
        .agg(ams(col("tag")).as("counters"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
        .sortBy(_._1)
    val one = run(1)
    assert(one == run(13), "counters must not depend on partitioning")
    val plan = df.groupBy(col("g")).agg(ams(col("tag")).as("counters"))
    plan.collect()
    assert(plan.queryExecution.executedPlan.toString
      .contains("partial_amssketchagg"),
      plan.queryExecution.executedPlan.toString.take(2000))
  }

  test("k must be in [1, 60]") {
    intercept[IllegalArgumentException](AmsSketchAgg(0))
    intercept[IllegalArgumentException](AmsSketchAgg(61))
  }
}
