package graft

import org.apache.spark.sql.functions._

import graft.queries.Round11bQueries

/** Round-11b operator invariants:
  *
  *  - sim_kmeans: Lloyd monotonicity (within-cluster SSE non-increasing
  *    per round), all K clusters alive on the fixture, zero-hashpartition
  *    assignment plan (the corpus never shuffles — only the broadcast
  *    centroid array and the output sort move), and kmeansUntil ≡ the
  *    unrolled form when driven the same number of rounds;
  *  - pipe_lr_train: log-loss strictly decreases across the returned
  *    p1→p2→p3 trajectory, final accuracy on the planted-separable
  *    labels ≥ 0.9, and training is partitioning-invariant (the exact-
  *    DECIMAL gradient pin: same weights from 3 vs 7 partitions);
  *  - sim_rp_project: JL distance preservation at R=16 (mean relative
  *    distortion of adjacent-pair squared distances ≤ 0.4 — theory says
  *    ≈ √(2/R) = 0.35), sign-matrix determinism across runs, and the
  *    same zero-hashpartition narrow-pass plan pin.
  */
class Round11bSpec extends SparkSpec {

  private def loss(rows: Seq[(Int, Double)]): Double = {
    val n = rows.size.toDouble
    rows.map { case (y, p) =>
      val pc = math.min(math.max(p, 1e-9), 1 - 1e-9)
      -(y * math.log(pc) + (1 - y) * math.log(1 - pc))
    }.sum / n
  }

  // ── k-means ────────────────────────────────────────────────────────

  test("sim_kmeans: Lloyd SSE is non-increasing and all 8 clusters live") {
    val sses = (1 to 3).map { it =>
      val out = Round11bQueries.kmeans(spark, sf(), it)
        .agg(sum(col("d2")), countDistinct(col("cluster"))).collect()(0)
      (out.getDouble(0), out.getLong(1))
    }
    assert(sses.last._2 == Round11bQueries.KmK.toLong,
      s"expected ${Round11bQueries.KmK} live clusters, got ${sses.last._2}")
    sses.sliding(2).foreach { case Seq((a, _), (b, _)) =>
      assert(b <= a + 1e-6, s"Lloyd SSE increased: $a -> $b")
    }
    // and the rounds genuinely refine: 3 rounds strictly better than 1
    assert(sses.last._1 < sses.head._1)
  }

  test("sim_kmeans: kmeansUntil matches the unrolled form round-for-round") {
    val (untilDf, rounds) = Round11bQueries.kmeansUntil(spark, sf(), 0.0, 3)
    assert(rounds == 3) // eps=0 ⇒ runs to maxIters
    val unrolled = Round11bQueries.kmeans(spark, sf(), 3).collect().toSeq
    assert(untilDf.collect().toSeq == unrolled)
    // a loose eps converges before the cap
    val (_, few) = Round11bQueries.kmeansUntil(spark, sf(), 1e3, 10)
    assert(few < 10, s"eps=1e3 should converge early, ran $few rounds")
  }

  test("sim_kmeans: the Lloyd mean update rejects a short vector and a null element") {
    val dim = Round11bQueries.Dim
    def means(bad: String) = Round11bQueries.lloydMeans(
      spark.range(3).selectExpr("cast(id % 2 as int) AS cluster",
        s"if(id = 2, $bad, array_repeat(1d, $dim)) AS v"),
      col("cluster")).orderBy(col("cluster"))
    // well-formed input: cluster 0 holds ids 0 and 2, cluster 1 holds id 1
    val ok = means(s"array_repeat(3d, $dim)").collect()
    assert(ok.map(_.getSeq[Double](1)).toSeq ==
      Seq(Seq.fill(dim)(2.0), Seq.fill(dim)(1.0)))
    Seq(
      "a short vector" -> s"array_repeat(1d, ${dim - 1})",
      "a null element" ->
        s"concat(array_repeat(1d, ${dim - 1}), array(cast(null AS double)))",
      "a null vector" -> "cast(null AS array<double>)").foreach { case (what, bad) =>
      val e = intercept[Exception](means(bad).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains(s"exactly $dim non-null elements")),
        s"$what: ${e.getMessage}")
    }
  }

  test("sim_kmeans: assignment plan never hash-shuffles the corpus") {
    val p = Round11bQueries.kmeans(spark, sf(), Round11bQueries.KmIters)
      .queryExecution.executedPlan.toString
    assert(p.contains("pq_argmin"), "assignment must use the codegen'd argmin")
    assert(!p.contains("hashpartitioning"),
      s"corpus was hash-shuffled in the final assignment pass:\n$p")
    assert(!p.contains("SortMergeJoin"), "centroid join must broadcast")
  }

  // ── logistic regression ────────────────────────────────────────────

  test("pipe_lr_train: loss decreases and accuracy lands >= 0.9") {
    val rows = queries.QueryDef.toQueriesMap(Round11bQueries.defs)(
      "pipe_lr_train")(spark, sf())
      .select(col("y"), col("p1"), col("p2"), col("p3"), col("correct"))
      .collect()
    val y = rows.map(_.getInt(0))
    val ls = (1 to 3).map(i => loss(rows.toSeq.map(r => (r.getInt(0), r.getDouble(i)))))
    assert(ls(1) < ls(0) && ls(2) < ls(1), s"log-loss not decreasing: $ls")
    // starting loss is ln 2 (w=0 ⇒ p=0.5); training must beat it clearly
    assert(ls(2) < 0.55, s"final loss ${ls(2)} barely moved from ln 2")
    val acc = rows.count(_.getBoolean(4)).toDouble / rows.length
    assert(acc >= 0.9, s"accuracy $acc below 0.9")
    assert(y.toSet == Set(0, 1), "both classes must be populated")
  }

  test("pipe_lr_train: gradient aggregation is partitioning-invariant") {
    val feats = Tables.load(spark, sf(), "documents")
      .select(
        col("doc_id"),
        expr(s"CASE WHEN length(text) >= ${Round11bQueries.LrThresh} THEN 1 ELSE 0 END").as("y"),
        expr(s"round((least(length(text), 2000) - ${Round11bQueries.LrThresh}) / 1000.0, 6)").as("x1"),
        expr("round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '')) AS DOUBLE)" +
          " / greatest(length(text), 1), 6)").as("x2"),
        expr(s"round((size(split(text, ' ')) - ${Round11bQueries.LrCenterTok}) / 100.0, 6)").as("x3"))
    val w3 = Round11bQueries.lrTrain(feats.repartition(3), 3, Round11bQueries.LrRate)
    val w7 = Round11bQueries.lrTrain(feats.repartition(7), 3, Round11bQueries.LrRate)
    assert(w3.map(_.toSeq) == w7.map(_.toSeq),
      "weights differ across partitionings — gradient sum is not exact")
  }

  // ── random projection ──────────────────────────────────────────────

  test("sim_rp_project: JL distortion at R=16 stays in the theory band") {
    val proj = queries.QueryDef.toQueriesMap(Round11bQueries.defs)(
      "sim_rp_project")(spark, sf())
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(k, proj))), x -> x.proj)").as("pv"))
    val orig = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val both = orig.join(proj, "vec_id").orderBy("vec_id").collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val rels = both.sliding(2).map { case Array((v1, p1), (v2, p2)) =>
      math.abs(d2(p1, p2) / d2(v1, v2) - 1)
    }.toSeq
    val mean = rels.sum / rels.size
    assert(mean <= 0.4, s"mean relative distortion $mean exceeds 0.4 (√(2/R) ≈ 0.35)")
  }

  test("sim_rp_project: deterministic and corpus never hash-shuffles") {
    val q = queries.QueryDef.toQueriesMap(Round11bQueries.defs)("sim_rp_project")
    val a = q(spark, sf()).collect().toSeq
    val b = q(spark, sf()).collect().toSeq
    assert(a == b, "projection must be bit-deterministic across runs")
    val p = q(spark, sf()).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      s"projection pass hash-shuffled the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }
}
