package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, SketchQueries}

/** Round-15b operator invariants:
  *
  *  - pipe_priority_sample: full Scala replay of priorities, the top-k
  *    selection, the (k+1)-th-priority threshold, and the max(w, τ)
  *    estimates; the threshold path must BIND on the fixture; the
  *    subset-sum estimator must land near the true per-stratum totals
  *    (deterministic given the hash, so a fixed bound is safe); the
  *    per-language rank must compile to WindowGroupLimit;
  *  - graph_triangles: combinatorial replay of the whole count from the
  *    collected edge set, plus the orientation INVARIANT that makes the
  *    recipe scale — max out-degree ≪ max degree on the co-order graph;
  *  - pipe_distinct_kmv: full Scala replay of the per-event-type KMV
  *    sketch and estimate on BOTH paths — sf0.001 (15 users < k: the
  *    sketch IS the exact distinct count) and sf0.01 (150 users: the
  *    estimator binds); accuracy vs the exact distinct count
  *    (deterministic given the hash, so a fixed bound is safe);
  *  - pipe_kmv_overlap: full Scala replay of the sketch set algebra
  *    (combined bottom-k, |L ∩ A ∩ B|, Jaccard/union/intersection
  *    estimates) plus accuracy pins against the EXACT per-year-pair
  *    overlaps and a non-degeneracy guard (partial overlap must exist);
  *  - pipe_count_min: full Scala replay of the per-language d×w matrix
  *    and min-of-d estimates; est ≥ exact for every token and strictly
  *    greater somewhere (w=32 forces real collisions — the estimate
  *    path does work, not pass-through);
  *  - pipe_f2_ams: full Scala replay of the k signed counters and the
  *    mean-of-squares F₂ estimate; accuracy inside the ~3·√(2/k) band
  *    against the exact per-language self-join size;
  *  - graph_triangles_partitioned: bit-equality with the broadcast
  *    form plus the shuffle-hash plan pin on both degree joins.
  */
class Round15bSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  test("pipe_priority_sample: priority/threshold/estimate replay, threshold binds") {
    val out = run("pipe_priority_sample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)

    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val k = SketchQueries.PrioK
    val byLang = docs.groupBy(_._2)
    // every language must exceed k, or the τ/estimator path is untested
    assert(byLang.values.forall(_.length > k),
      "threshold path must bind for every language")

    byLang.foreach { case (lang, ds) =>
      val pri = ds.map { case (id, _, w) =>
        val u = ((H60(s"ps:$id") % 1000000) + 0.5) / 1000000.0
        (id, w, w.toDouble / u)
      }.sortBy { case (id, _, q) => (-q, id) }
      val tau = pri(k)._3
      val expected = pri.take(k).map { case (id, w, _) =>
        // HALF_UP to match Spark's round(), not math.rint's HALF_EVEN
        (id, lang, w, BigDecimal(math.max(w.toDouble, tau))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._1)
      val got = out.filter(_._2 == lang).sortBy(_._1).toSeq
      assert(got == expected.toSeq, s"$lang sample/estimates diverge")
      // Duffield-Lund-Thorup: Σ max(w_i, τ) over the sample estimates
      // the stratum total Σw. Deterministic given the hash, so a fixed
      // relative bound is a safe assert (k=32 ⇒ typical error ~1/√k).
      val est = got.map(_._4).sum
      val truth = ds.map(_._3).sum.toDouble
      assert(math.abs(est - truth) / truth < 0.35,
        s"$lang subset-sum estimate $est vs true $truth")
    }
  }

  test("priority rank prunes map-side: WindowGroupLimit in the plan") {
    val df = run("pipe_priority_sample")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "rn <= k+1 must compile to WindowGroupLimit:\n" + p.take(3000))
  }

  test("graph_triangles: combinatorial replay from the collected edge set") {
    val row = run("graph_triangles").collect().head
    val (nNodes, nEdges, nWedges, nTri, maxOut) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))

    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = sos.groupBy(_._1).values.flatMap { grp =>
      val sps = grp.map(_._2).distinct.sorted
      for (i <- sps.indices; j <- (i + 1) until sps.length)
        yield (sps(i), sps(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(nNodes == deg.size)
    assert(nEdges == edges.size)

    def orient(e: (Long, Long)): (Long, Long) = {
      val (a, b) = e
      if (deg(a) < deg(b) || (deg(a) == deg(b) && a < b)) (a, b) else (b, a)
    }
    val out = edges.toSeq.map(orient).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    assert(maxOut == out.values.map(_.size).max)

    val oriented = edges.map(orient)
    def ordLt(x: Long, y: Long): Boolean =
      deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    var wedges = 0L
    var tris = 0L
    out.values.foreach { nbrs =>
      val sorted = nbrs.sortWith(ordLt)
      for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
        wedges += 1
        if (oriented.contains((sorted(i), sorted(j)))) tris += 1
      }
    }
    assert(nWedges == wedges, "oriented wedge count")
    assert(nTri == tris, "triangle count")
    assert(nTri > 0, "fixture graph must contain triangles")
  }

  /** Replay the declared query against an in-Scala KMV over the raw
    * (event_type, user_id) pairs of `dir`, asserting the path named by
    * `wantEstimator` actually binds.
    */
  private def replayKmv(dir: String, wantEstimator: Boolean): Unit = {
    val out = SparkEntry.queries("pipe_distinct_kmv")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.nonEmpty)

    val k = SketchQueries.KmvK
    val users = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = users.groupBy(_._1)
    assert(byType.values.forall(us =>
      if (wantEstimator) us.length > k else us.length < k),
      s"wrong path for $dir — the fixture no longer exercises " +
        (if (wantEstimator) "the estimator" else "the exact small-group path"))

    byType.foreach { case (et, us) =>
      val distinctTags = us.map(u => H60(s"kmv:${u._2}")).distinct.sorted
      val sketch = distinctTags.take(k)
      val est =
        if (sketch.length < k) sketch.length.toDouble
        else BigDecimal(
          (k - 1).toDouble * graft.operators.KmvDistinctAgg.TagSpace /
            sketch.last.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = out.find(_._1 == et).get
      assert(got._2 == sketch.length, s"$et n_retained")
      assert(got._3 == est, s"$et estimate diverges from replay")
      // KMV accuracy: deterministic given the hash, fixed bound safe.
      // On the exact path this degenerates to equality (est == exact).
      val exact = distinctTags.length
      assert(math.abs(est - exact) / exact < 0.4,
        s"$et est $est vs exact $exact")
    }
  }

  test("pipe_distinct_kmv: exact path at sf0.001 (every group < k users)") {
    replayKmv(sf(), wantEstimator = false)
  }

  test("pipe_distinct_kmv: estimator path binds at sf0.01") {
    replayKmv(sf("sf0.01"), wantEstimator = true)
  }

  test("pipe_kmv_overlap: set-algebra replay, accuracy vs exact overlaps") {
    val k = SketchQueries.KmvK
    val out = run("pipe_kmv_overlap").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.nonEmpty)

    val cust = Tables.load(spark, sf(), "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
      .distinct().collect().map(r => (r.getInt(0), r.getLong(1)))
    val byYr: Map[Int, Set[Long]] =
      cust.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // per-year sketches must oversubscribe k, or the estimator is idle
    assert(byYr.values.forall(_.size > k), "estimator path must bind")
    val sketches: Map[Int, Seq[Long]] = byYr.view.mapValues(us =>
      us.toSeq.map(u => H60(s"ov:$u")).sorted.take(k)).toMap
    val tagSets: Map[Int, Set[Long]] =
      sketches.view.mapValues(_.toSet).toMap

    val yrs = byYr.keys.toSeq.sorted
    val expected = for (a <- yrs; b <- yrs if a < b) yield {
      val l = (sketches(a) ++ sketches(b)).distinct.sorted.take(k)
      val kBoth = l.count(t => tagSets(a)(t) && tagSets(b)(t))
      val jacc = kBoth.toDouble / l.length.toDouble
      val dUnion =
        if (l.length < k) l.length.toDouble
        else (k - 1).toDouble * graft.operators.KmvDistinctAgg.TagSpace /
          l.last.toDouble
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, l.length, kBoth, r4(jacc), r4(dUnion), r4(jacc * dUnion))
    }
    assert(out.toSeq == expected, "set-algebra replay diverges")

    // accuracy vs the EXACT overlaps (deterministic hash ⇒ fixed bounds
    // are safe): Jaccard within ±0.25 absolute, intersection within
    // ±40% relative — the ~1/√k regime for k=64
    out.foreach { case (a, b, _, _, jacc, _, common) =>
      val inter = (byYr(a) intersect byYr(b)).size.toDouble
      val union = (byYr(a) union byYr(b)).size.toDouble
      assert(math.abs(jacc - inter / union) < 0.25,
        s"$a/$b jaccard $jacc vs exact ${inter / union}")
      assert(math.abs(common - inter) / inter < 0.4,
        s"$a/$b est_common $common vs exact $inter")
    }
    // the fixture must have PARTIAL overlap, or the estimators are
    // trivially 1.0/union — pin that at least one pair is strictly
    // between 0.2 and 0.98
    assert(out.exists(o => o._5 > 0.2 && o._5 < 0.98),
      "degenerate fixture: no partial overlap")
  }

  test("pipe_count_min: sketch/estimate replay, overestimate invariant, real collisions") {
    import graft.operators.CmSketchAgg
    val (d, w) = (SketchQueries.CmD, SketchQueries.CmW)
    val out = run("pipe_count_min").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)

    def packed(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cm:$tok".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until d).map { j =>
        (java.lang.Long.parseLong(hex.substring(8 * j, 8 * j + 8), 16) % w) *
          math.pow(w, j).toLong
      }.sum
    }
    val toks = Tables.load(spark, sf(), "documents")
      .select(col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    toks.groupBy(_._1).foreach { case (lang, ts) =>
      val agg = CmSketchAgg(d, w)
      val sk = ts.map(t => packed(t._2)).foldLeft(agg.zero)(agg.reduce)
      val counts = ts.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val expected = counts.toSeq.sortBy(_._1).map { case (tok, n) =>
        val est = CmSketchAgg.estimate(sk, d, w, packed(tok))
        (lang, tok, n, est, est - n)
      }
      val got = out.filter(_._1 == lang).sortBy(_._2).toSeq
      assert(got == expected, s"$lang sketch/estimates diverge")
      assert(got.forall(r => r._4 >= r._3), s"$lang under-estimate")
    }
    // w=32 on the fixture vocabulary must produce real collisions, or
    // the min-of-d estimate path is idle
    assert(out.exists(_._5 > 0L), "no collision — overestimate path idle")
  }

  test("graph_degree_hist: binning replay, mass = 1, non-degenerate") {
    val out = run("graph_degree_hist").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.length >= 2, "fixture degrees must span multiple buckets")

    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = sos.groupBy(_._1).values.flatMap { grp =>
      val sps = grp.map(_._2).distinct.sorted
      for (i <- sps.indices; j <- (i + 1) until sps.length)
        yield (sps(i), sps(j))
    }.toSet
    val degs = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).values.map(_.size.toLong).toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = degs.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d))
      .toSeq.sortBy(_._1).map { case (b, ds) =>
        (b.toInt, ds.length.toLong, ds.min, ds.max,
          r6(ds.length.toDouble / degs.length.toDouble))
      }
    assert(out.toSeq == expected, "binning diverges from replay")
    // share mass sums to 1 within rounding granularity
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-4 * out.length)
    // buckets partition the degree range: min/max consistent, disjoint
    out.sliding(2).foreach {
      case Array(lo, hi) => assert(lo._4 < hi._3, "bucket overlap")
      case _ => ()
    }
  }

  test("pipe_f2_ams: counter/estimate replay, accuracy vs exact F2") {
    import graft.operators.AmsSketchAgg
    val k = SketchQueries.AmsK
    val out = run("pipe_f2_ams").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)

    val toks = Tables.load(spark, sf(), "documents")
      .select(col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    toks.groupBy(_._1).foreach { case (lang, ts) =>
      val agg = AmsSketchAgg(k)
      val counters = ts.map(t => H60(s"f2:${t._2}"))
        .foldLeft(agg.zero)(agg.reduce)
      val est = BigDecimal(AmsSketchAgg.estimate(counters, k))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val f2 = ts.groupBy(_._2).values.map(g => g.length.toLong)
        .map(f => f * f).sum
      val got = out.find(_._1 == lang).get
      assert(got._2 == f2, s"$lang exact F2")
      assert(got._3 == est, s"$lang estimate diverges from replay")
      // deterministic given the hash, fixed ~3*sqrt(2/k) band is safe
      assert(math.abs(est - f2.toDouble) / f2.toDouble <=
        3.0 * math.sqrt(2.0 / k), s"$lang est $est vs exact $f2")
    }
  }

  test("graph_triangles_partitioned: bit-identical to broadcast form, no degree broadcast") {
    val bcast = run("graph_triangles").collect().toSeq
    val part = run("graph_triangles_partitioned").collect().toSeq
    assert(part == bcast, "partitioned twin diverges from broadcast form")
    // plan pin on the UN-materialized oriented-edge build (the
    // checkpointed layout is a LogicalRDD leaf — the degree joins are
    // only visible here): the two degree joins must be shuffle-hash,
    // not broadcast (the node table beyond-budget path)
    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    val pairs = sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp").as("a"), col("y.sp").as("b"))
      .distinct()
    val (o, _) = GraphQueries.orientedFrom(pairs, bcast = false)
    o.count()
    val p = o.queryExecution.executedPlan.toString
    // both hinted degree joins must be shuffle-hash (the upstream
    // pair-generation self-join on ord is size-chosen by the planner
    // and may legitimately broadcast at fixture scale — it is not a
    // node-table join)
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      "both degree joins must shuffle-hash:\n" + p.take(3000))
    assert(!p.contains("BroadcastHashJoin [a#") &&
      !p.contains("BroadcastHashJoin [b#"),
      "a degree join was broadcast in the partitioned twin:\n" +
        p.take(3000))
  }

  test("graph_clustering_coeff: per-node LCC replay from the collected edge set") {
    val row = run("graph_clustering_coeff").collect().head
    val (nNodes, nTri, avgLcc, trans, shareZero, maxLcc) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3),
        row.getDouble(4), row.getDouble(5))

    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = sos.groupBy(_._1).values.flatMap { grp =>
      val sps = grp.map(_._2).distinct.sorted
      for (i <- sps.indices; j <- (i + 1) until sps.length)
        yield (sps(i), sps(j))
    }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // per-node triangle count: closed neighbor pairs (exact, unoriented)
    val nodes = adj.keys.toSeq.filter(n => adj(n).size >= 2)
    val tv: Map[Long, Long] = nodes.map { n =>
      val nb = adj(n).toSeq.sorted
      var c = 0L
      for (i <- nb.indices; j <- (i + 1) until nb.length)
        if (adj(nb(i)).contains(nb(j))) c += 1
      n -> c
    }.toMap
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lcc: Map[Long, Double] = nodes.map { n =>
      val d = adj(n).size.toLong
      n -> tv(n).toDouble / (d * (d - 1) / 2).toDouble
    }.toMap
    assert(nNodes == nodes.size)
    assert(nTri == tv.values.sum / 3, "triangle total via node attribution")
    val lccSum = nodes.map(n => BigDecimal(lcc(n))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(avgLcc == r(lccSum / nodes.size, 6), "avg LCC")
    val openWedges = nodes.map { n =>
      val d = adj(n).size.toLong; d * (d - 1) / 2 }.sum
    assert(trans == r(3.0 * (tv.values.sum / 3).toDouble /
      openWedges.toDouble, 6), "transitivity")
    assert(shareZero ==
      r(nodes.count(tv(_) == 0L).toDouble / nodes.size.toDouble, 6))
    assert(maxLcc == r(lcc.values.max, 6))
    // the metric must be non-degenerate on the fixture: some clustering
    // exists but the graph is not a clique
    assert(avgLcc > 0.0 && avgLcc < 1.0)
  }

  test("orientation bounds the wedge work: max outdeg well below max degree") {
    val row = run("graph_triangles").collect().head
    val (nEdges, maxOut) = (row.getLong(1), row.getLong(4))
    // the co-order graph is dense with hubs; the degree orientation
    // must cut the per-node fan-out sharply (the Σ outdeg² ≤ O(m^1.5)
    // scalability argument). Guard loosely so fixture drift can't flake:
    // max outdeg must stay below 3·√(2m) where a hub's raw degree is
    // typically far above it.
    assert(maxOut <= 3 * math.sqrt(2.0 * nEdges).toLong + 1,
      s"max_outdeg $maxOut vs edges $nEdges — orientation not binding")
  }
}
