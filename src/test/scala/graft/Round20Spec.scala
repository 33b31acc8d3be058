package graft

import org.apache.spark.sql.functions._

/** Round-20 rows: the bounded-load IVF-cell kNN graph (V24), the
  * NN-Descent refinement (V25), and the re-based production semantic
  * clusters (V12g/V12h).
  *
  * Discipline: the load-constant claim is pinned as ARITHMETIC (the
  * width rule's derived counts and the measured per-cell load, not
  * just prose), NN-Descent's defining invariant — a refinement round
  * can only improve the k-NN lists it re-ranks — is asserted per
  * query, and the new cluster rows get the same union-find closure
  * replay as every other member of the V12 family (SURVEY §5 note 14).
  */
class Round20Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  test("cellLoadWidth: count grows with n, load stays ~constant") {
    import graft.queries.KnnGraphQueries
    val E = KnnGraphQueries.KnnCellLoad
    Seq(20L, 500L, 50000L, 5000000L).foreach { n =>
      val w = KnnGraphQueries
        .cellLoadWidth(spark.range(n).toDF("vec_id"))
        .head
      val (fk, ck, fstride, cstride) =
        (w.getLong(1), w.getLong(2), w.getLong(3), w.getLong(4))
      assert(fk == math.max(4L, math.ceil(n.toDouble / E).toLong),
        s"n=$n fk=$fk")
      assert(ck == math.max(4L, math.ceil(n.toDouble / (E * E)).toLong),
        s"n=$n ck=$ck")
      // expected per-fine-cell load = n / (n / fstride) = fstride <= E:
      // the declared constant, at ANY n — the whole point vs K=ceil(sqrt n)
      assert(fstride >= 1 && fstride <= E, s"n=$n fstride=$fstride")
      assert(cstride >= 1 && cstride <= E.toLong * E, s"n=$n cstride=$cstride")
    }
  }

  test("sim_knn_graph_ivf_scaled: bounded load measured on the fixture") {
    import graft.queries.{Corpus, KnnGraphQueries}
    val (res, stages) = KnnGraphQueries.scaledGraph(Corpus.nvecs(spark, sf()))
    try {
      val out = res.collect()
      assert(out.nonEmpty, "fixture graph must be non-empty")
      // per-query candidate bound: <= nprobe * (max fine-cell pop).
      // Measure the home-cell load profile from the persisted stage:
      // its p99 must sit within a small multiple of the declared
      // expected load (hash-residue sampling is binomial, not exact).
      val cells = stages.head
      val loads = cells.select(expr("cells[0]").as("home"))
        .groupBy(col("home")).agg(count(lit(1)).as("load"))
        .agg(expr("CAST(percentile(load, 0.99) AS DOUBLE)").as("p99"),
          max(col("load")).as("mx"), count(lit(1)).as("ncells"))
        .head
      val n = cells.count()
      val expectedCells = n.toDouble / KnnGraphQueries.KnnCellLoad
      assert(loads.getLong(2) > expectedCells / 2,
        s"cell count ${loads.getLong(2)} must track n/load ~ $expectedCells")
      assert(loads.getDouble(0) <= 8.0 * KnnGraphQueries.KnnCellLoad,
        s"p99 home load ${loads.getDouble(0)} must stay near the " +
          s"declared constant ${KnnGraphQueries.KnnCellLoad}")
      // rank contiguity at the declared k
      out.groupBy(_.getLong(0)).values.foreach { rows =>
        val ranks = rows.map(_.getInt(1)).sorted
        assert(ranks.head == 1 && ranks.toSeq == (1 to ranks.length),
          s"ranks must be contiguous 1..k, got ${ranks.toSeq}")
        assert(ranks.length <= KnnGraphQueries.KnnK)
      }
    } finally stages.foreach(_.unpersist(false))
  }

  test("sim_knn_graph_nnd: each round only improves the k-NN lists") {
    // NN-Descent's defining invariant: round r's candidate set is a
    // SUPERSET of round r-1's edges, so after re-ranking, every
    // query's list is pointwise at-least-as-good (cosine at each rank
    // non-decreasing, lists only grow). A regression in the candidate
    // union or the re-rank breaks this before any oracle runs.
    import graft.queries.KnnGraphQueries
    val stages = KnnGraphQueries.trainedCoarseCells(
      graft.Tables.load(spark, sf(), "embeddings")
        .select(col("vec_id"),
          graft.queries.VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.queries.VectorOps.norm(col("v"))))
    locally {
      val g0 = KnnGraphQueries
        .cellGraphServe(stages.head, KnnGraphQueries.KnnNndWidth)
        .localCheckpoint(true)
      try {
        val corpus = stages.last
        val g1 = KnnGraphQueries.nndRound(corpus, g0)
        val g2 = KnnGraphQueries.nndRound(corpus, g1)
        def lists(df: org.apache.spark.sql.DataFrame)
            : Map[Long, Seq[Double]] =
          df.collect().groupBy(_.getLong(0)).view
            .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq)
            .toMap
        val Seq(l0, l1, l2) = Seq(g0, g1, g2).map(lists)
        Seq((l0, l1), (l1, l2)).foreach { case (prev, next) =>
          prev.foreach { case (q, pl) =>
            val nl = next.getOrElse(q, Seq.empty)
            assert(nl.length >= pl.length, s"query $q list shrank")
            pl.indices.foreach { i =>
              assert(nl(i) >= pl(i) - 1e-9,
                s"query $q rank ${i + 1}: ${nl(i)} < ${pl(i)}")
            }
          }
        }
        // and the declared row IS seed + KnnNndRounds rounds of this
        val declared = run("sim_knn_graph_nnd").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
          .sortBy(x => (x._1, x._2))
        val replay = g2.filter(col("rank") <= KnnGraphQueries.KnnK)
          .orderBy(col("vec_id"), col("rank")).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        assert(declared.toSeq == replay.toSeq,
          "declared row != seed + 2 unrolled rounds")
      } finally stages.foreach(_.unpersist(false))
    }
  }

  test("sim_semantic_clusters_ivf matches a union-find replay over its edges") {
    import graft.queries.Round13Queries
    // the oracle-split evidence chain (SURVEY §5 note 14), identical
    // to the V12/V12b/V12c arms: hash-green edge row == canonical
    // tau-projection of the declared kNN build, and the cluster row ==
    // union-find closure + singleton fill over exactly those edges
    val edgeRows = run("sim_semantic_edges_ivf").collect()
    val edges = edgeRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must yield some tau-edges")
    val fromKnn = run("sim_knn_graph_nnd").collect()
      .filter(_.getDouble(3) >= Round13Queries.SemClusterTau)
      .map(r => (math.min(r.getLong(0), r.getLong(2)),
        math.max(r.getLong(0), r.getLong(2)), r.getDouble(3))).toSet
    assert(edgeRows.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet == fromKnn,
      "sim_semantic_edges_ivf != canonical tau-projection of sim_knn_graph_nnd")
    val allIds = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val expected = CcReplay.labels(edges, allIds)
    val sizes = CcReplay.sizes(expected)
    val rows = run("sim_semantic_clusters_ivf").collect()
    assert(rows.length == allIds.length, "one row per vector")
    rows.foreach { r =>
      val (cid, vid, sz) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid == expected(vid), s"vec $vid: got $cid want ${expected(vid)}")
      assert(sz == sizes(expected(vid)), s"vec $vid cluster_size")
    }
    assert(sizes.values.max > 1, "no genuine merging on the fixture")
  }

  test("sim_knn_graph_ivf_hier at ZERO fine rounds is exactly the bounded-load build") {
    import graft.queries.{Corpus, KnnGraphQueries}
    // the scaffold pin: the hierarchical stage's fine INIT is V24's
    // residue sample homed to its coarse cell, and its (c2, f) identity
    // ranks fine cells by sampled vec_id within each coarse cell —
    // exactly V24's global-cid tiebreak restricted to the shared coarse
    // cell. So with no fine training the geometry, candidates, and
    // edges must be BIT-IDENTICAL to the declared V24 row; everything
    // the declared KnnFineIters rounds change is what training buys.
    def edges(res: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      res.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val base = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"),
        graft.queries.VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.queries.VectorOps.norm(col("v")))
    val hs = KnnGraphQueries.hierCells(base, fineIters = 0)
    val h0 = KnnGraphQueries.cellGraphServe(hs.head)
    val hierEdges = try edges(h0) finally hs.foreach(_.unpersist(false))
    val (v24, vs) = KnnGraphQueries.scaledGraph(Corpus.nvecs(spark, sf()))
    val scaledEdges = try edges(v24) finally vs.foreach(_.unpersist(false))
    assert(hierEdges.nonEmpty, "fixture graph must be non-empty")
    assert(hierEdges == scaledEdges,
      "hier(fineIters=0) edges != sim_knn_graph_ivf_scaled edges")
  }

  test("sim_knn_graph_ivf_hier: trained fine level keeps the load discipline") {
    import graft.queries.{Corpus, KnnGraphQueries}
    val (res, stages) = KnnGraphQueries.hierGraph(Corpus.nvecs(spark, sf()))
    try {
      val out = res.collect()
      assert(out.nonEmpty, "fixture graph must be non-empty")
      // training moves centroids, not the budget: the cell count must
      // still track n/load and the home-load p99 must stay near the
      // declared constant (Lloyd REBALANCES load toward the mean, so
      // the sampled build's bound holds a fortiori)
      val cells = stages.head
      val loads = cells.select(expr("cells[0]").as("home"))
        .groupBy(col("home")).agg(count(lit(1)).as("load"))
        .agg(expr("CAST(percentile(load, 0.99) AS DOUBLE)").as("p99"),
          count(lit(1)).as("ncells"))
        .head
      val n = cells.count()
      val expectedCells = n.toDouble / KnnGraphQueries.KnnCellLoad
      assert(loads.getLong(1) > expectedCells / 2,
        s"cell count ${loads.getLong(1)} must track n/load ~ $expectedCells")
      assert(loads.getDouble(0) <= 8.0 * KnnGraphQueries.KnnCellLoad,
        s"p99 home load ${loads.getDouble(0)} must stay near the " +
          s"declared constant ${KnnGraphQueries.KnnCellLoad}")
      // fine training must actually move the fine-level ASSIGNMENTS off
      // the init tiling (a no-op Lloyd round would silently degrade the
      // declared row back to V24). Edge-level gain is a probe-scale
      // property (at n=500 there are ~1.4 fine cells per coarse and 4
      // probed, so the fixture's top-k edges are saturated by coarse
      // probing alone — the recall sweeps price the gain where it
      // exists); what IS observable at any scale is the cell tiling.
      val base = graft.Tables.load(spark, sf(), "embeddings")
        .select(col("vec_id"),
          graft.queries.VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.queries.VectorOps.norm(col("v")))
      val zs = KnnGraphQueries.hierCells(base, fineIters = 0)
      val zeroCells = try zs.head.select(col("vec_id"), col("cells"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        finally zs.foreach(_.unpersist(false))
      val trainedCells = cells.select(col("vec_id"), col("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(trainedCells != zeroCells,
        "declared fine rounds left every cell assignment unchanged — " +
          "training is a no-op?")
      out.groupBy(_.getLong(0)).values.foreach { rows =>
        val ranks = rows.map(_.getInt(1)).sorted
        assert(ranks.head == 1 && ranks.toSeq == (1 to ranks.length),
          s"ranks must be contiguous 1..k, got ${ranks.toSeq}")
        assert(ranks.length <= KnnGraphQueries.KnnK)
      }
    } finally stages.foreach(_.unpersist(false))
  }

  test("sim_knn_graph_nnd_hier is seed + KnnNndRounds unrolled rounds") {
    import graft.queries.KnnGraphQueries
    val stages = KnnGraphQueries.hierCells(
      graft.Tables.load(spark, sf(), "embeddings")
        .select(col("vec_id"),
          graft.queries.VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.queries.VectorOps.norm(col("v"))))
    try {
      val corpus = stages.last
      var g = KnnGraphQueries
        .cellGraphServe(stages.head, KnnGraphQueries.KnnNndWidth)
        .localCheckpoint(true)
      for (_ <- 1 to KnnGraphQueries.KnnNndRounds)
        g = KnnGraphQueries.nndRound(corpus, g)
      val replay = g.filter(col("rank") <= KnnGraphQueries.KnnK)
        .orderBy(col("vec_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val declared = run("sim_knn_graph_nnd_hier").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      assert(declared.nonEmpty, "fixture graph must be non-empty")
      assert(declared.toSeq == replay.toSeq,
        "declared row != hier seed + unrolled rounds")
    } finally stages.foreach(_.unpersist(false))
  }

  test("sim_knn_graph_ivf_scaled: compiled two-level pass, keyed join, pruned top-k") {
    import graft.queries.{Corpus, KnnGraphQueries}
    val (res, stages) = KnnGraphQueries.scaledGraph(Corpus.nvecs(spark, sf()))
    try {
      res.collect()
      val p = res.queryExecution.executedPlan.toString
      assert(p.contains("pq_argmin_k"),
        "fine assignment must run the compiled pq_argmin_k:\n" + p.take(3000))
      assert(p.contains("WindowGroupLimit"),
        "the top-k rollup must carry the WindowGroupLimit prune:\n" +
          p.take(3000))
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("BroadcastHashJoin"),
        "candidates must come from a KEYED equi-join on the cell id:\n" +
          p.take(3000))
      assert(!p.contains("CartesianProduct"),
        "no cartesian anywhere in the serving tail:\n" + p.take(3000))
      // same accounting as the sim_knn_graph_ivf pin: only the serving
      // tail shuffles beyond the persisted cell stage
      val shuffles = PlanSpec.countShuffles(res.queryExecution.executedPlan)
      assert(shuffles <= 4,
        s"expected at most 4 shuffle exchanges beyond the cell stage, " +
          s"got $shuffles:\n" + p.take(3000))
    } finally stages.foreach(_.unpersist(false))
  }
}
