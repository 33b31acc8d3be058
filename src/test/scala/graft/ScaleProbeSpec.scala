package graft

/** The TPC-H scale harness must preserve join integrity: replicas shift
  * customer/orders/lineitem keys TOGETHER, so every fact row still finds
  * its parent in the same replica and per-group revenue is exactly m×
  * the base corpus (dims are shared; the decimal revenue sum is exact,
  * so m× holds to the cast-to-double ulp). A broken offset (one table
  * shifted, another not) would orphan fact rows and show up here as a
  * revenue shortfall, not just a noisy benchmark.
  */
class ScaleProbeSpec extends SparkSpec {

  test("scaleTpch x3: per-nation q_tpch05 revenue is exactly 3x the base corpus") {
    val m = 3
    val out = tmpDir("tpch-scale")
    ScaleProbe.scaleTpch(spark, sf(), out, m)

    def revenue(dir: String): Map[String, Double] =
      SparkEntry.queries("q_tpch05")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap

    val base = revenue(sf())
    val scaled = revenue(out)
    assert(base.nonEmpty, "fixture must produce revenue groups")
    assert(scaled.keySet == base.keySet, "same nation groups")
    for ((nation, rev) <- base.toSeq.sortBy(_._1)) {
      val got = scaled(nation)
      assert(math.abs(got - m * rev) <= math.abs(m * rev) * 1e-12,
        f"$nation: scaled revenue $got%.6f != $m x base $rev%.6f")
    }
  }

  test("scaleSuite x2: facts double with disjoint keys, dims and event-time horizon unchanged") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("suite-scale")
    ScaleProbe.scaleSuite(spark, sf(), out, 2)
    for (t <- Seq("documents", "embeddings", "lineitem", "orders", "customer", "events")) {
      val b = Tables.load(spark, sf(), t).count()
      assert(Tables.load(spark, out, t).count() == 2 * b, s"$t must replicate x2")
    }
    for (t <- Seq("nation", "region", "supplier", "part"))
      assert(Tables.load(spark, out, t).count() == Tables.load(spark, sf(), t).count(),
        s"dim $t must keep its real-world shape")
    // events: replicas get disjoint ids (volume doubles), but event TIME
    // is untouched — a busier topic, not a longer one, so watermark and
    // window semantics face 2x density at the same horizon
    val ev = Tables.load(spark, out, "events")
    assert(ev.select("event_id").distinct().count() == ev.count())
    val b = Tables.load(spark, sf(), "events").agg(min("ts"), max("ts")).head
    val s = ev.agg(min("ts"), max("ts")).head
    assert(s.getTimestamp(0) == b.getTimestamp(0) && s.getTimestamp(1) == b.getTimestamp(1),
      "event-time horizon must be unchanged")
  }

  test("scaleTpch key spaces are disjoint across replicas") {
    val out = tmpDir("tpch-scale-keys")
    ScaleProbe.scaleTpch(spark, sf(), out, 2)
    val base = Tables.load(spark, sf(), "orders").count()
    val scaled = Tables.load(spark, out, "orders")
    assert(scaled.count() == 2 * base)
    // key shift must keep replicas disjoint: distinct orderkeys double too
    assert(scaled.select("o_orderkey").distinct().count() == 2 * base)
  }

  test("annrecall corpus: every planted twin is a true tau=0.9 pair, ids disjoint") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("annrecall-scale")
    ScaleProbe.scaleAnnRecall(spark, sf(), out, 2)
    val vecs = spark.read.parquet(s"$out/embeddings.parquet")
    val base = vecs.filter(col("vec_id") < ScaleProbe.PlantOff)
    val twins = vecs.filter(col("vec_id") >= ScaleProbe.PlantOff)
    assert(twins.count() ==
      base.filter(pmod(col("vec_id"), lit(ScaleProbe.PlantEvery)) === 0).count(),
      "one twin per sampled base vector")
    // the ±20% deterministic perturbation pins planted cosine into
    // [sqrt(0.96), 1.0] analytically: cos(t) = (1+0.2t)/sqrt(1.04+0.4t)
    // over sign-mass imbalance t ∈ [−1,1] has its minimum sqrt(0.96) ≈
    // 0.9798 at t = −0.2 — the invariant the probe's no-oracle recall
    // measurement stands on (every planted pair is a τ=0.9 true pair)
    val pairs = base.as("a").join(twins.as("b"),
        col("b.vec_id") === col("a.vec_id") + ScaleProbe.PlantOff)
      .select(
        graft.queries.VectorOps.dot(
          graft.queries.VectorOps.toDouble(col("a.embedding")),
          graft.queries.VectorOps.toDouble(col("b.embedding")))
          .divide(
            graft.queries.VectorOps.norm(graft.queries.VectorOps.toDouble(col("a.embedding"))) *
            graft.queries.VectorOps.norm(graft.queries.VectorOps.toDouble(col("b.embedding"))))
          .as("cosine"))
    val stats = pairs.agg(min(col("cosine")), max(col("cosine"))).head
    assert(stats.getDouble(0) >= math.sqrt(0.96) - 1e-9,
      s"planted cosine floor violated: min = ${stats.getDouble(0)}")
    assert(stats.getDouble(1) <= 1.0 + 1e-9)
  }

  test("rotate corpus: signed permutation preserves within-replica dot products exactly") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("rot-scale")
    ScaleProbe.scaleRotate(spark, sf(), out, 3)
    val vecs = spark.read.parquet(s"$out/embeddings.parquet")
    val base = Tables.load(spark, sf(), "embeddings").count()
    assert(vecs.count() == 3 * base, "x3 replication")
    // within-replica invariance: dot(Pv, Pw) == dot(v, w) EXACTLY (the
    // same signed permutation applies to both sides — an orthogonal
    // transform; float elements are merely re-ordered and sign-flipped,
    // so even the IEEE sums match after the shared seq-fold order only
    // if we compare via sorted absolute element multisets; dot products
    // are compared with an exact-multiset argument instead: each
    // product term s_j v[p(j)] * s_j w[p(j)] = v_k w_k term-for-term,
    // so the DOUBLE seq-fold over j visits the same multiset — allow
    // 1 ulp-scale tolerance for the fold-order difference)
    val d = vecs.filter(col("vec_id") >= 10000000L && col("vec_id") < 10000005L)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val b = Tables.load(spark, sf(), "embeddings")
      .filter(col("vec_id") < 5).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (a2, b2) => a2.toDouble * b2.toDouble }.sum
    for (i <- b.indices; j <- b.indices if i < j) {
      val orig = dot(b(i)._2, b(j)._2)
      // replica-1 pair: same permutation/sign on both sides
      val rot = dot(d(i)._2, d(j)._2)
      assert(math.abs(rot - orig) <= math.abs(orig).max(1.0) * 1e-9,
        s"pair ($i,$j): rotated dot $rot != base $orig")
      // element multisets match up to sign (bijectivity witness)
      assert(d(i)._2.map(math.abs(_)).sorted.toSeq ==
        b(i)._2.map(math.abs(_)).sorted.toSeq, s"vec $i: not a signed permutation")
    }
  }
}
