package graft

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.QuantileSketchAgg
import graft.queries.{GraphQueries, Round12Queries, SketchQueries}

/** Round-15 operator invariants:
  *
  *  - graph_butterflies_capped: exact combinatorial replay of the cap
  *    rule from the collected edge set, the cap genuinely binds on the
  *    fixture, and the capped count lower-bounds the exact count;
  *  - the capped rank prunes map-side (WindowGroupLimit in the plan);
  *  - graph_label_prop_partitioned / graph_modularity_partitioned are
  *    bit-identical to their broadcast forms (the join strategy cannot
  *    change exact integer counting);
  *  - one bcast=false LPA round plan: the label join is a shuffled hash
  *    join into the edges' checkpointed layout — no node-sized
  *    broadcast, no fact rescans, no extra exchange on the edge side;
  *  - pipe_ccnet_buckets_sketch: full Scala replay of the bottom-k
  *    sample, cutoffs and bucket assignment; the subsample (n > k)
  *    path is what the fixture exercises.
  */
class Round15Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  private def edgeSet(): Array[(Long, Long)] =
    Tables.load(spark, sf(), "lineitem")
      .join(Tables.load(spark, sf(), "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("graph_butterflies_capped: cap-rule replay, cap binds, lower-bounds exact") {
    val row = run("graph_butterflies_capped").collect().head
    val (bf, wedges, nPairs, maxW, kept, total) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5))

    val cs = edgeSet()
    val bySupp = cs.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted.take(GraphQueries.ButterflyCap)).toMap
    val pairCnt = scala.collection.mutable.Map[(Long, Long), Long]()
    bySupp.values.foreach { custs =>
      for (i <- custs.indices; j <- (i + 1) until custs.length)
        pairCnt((custs(i), custs(j))) =
          pairCnt.getOrElse((custs(i), custs(j)), 0L) + 1
    }
    assert(kept == bySupp.values.map(_.length).sum, "capped edge count")
    assert(total == cs.length, "total edge count")
    assert(kept < total, "the cap must BIND on the fixture — otherwise " +
      "this query is the exact twin and tests nothing")
    assert(nPairs == pairCnt.size)
    assert(wedges == pairCnt.values.sum)
    assert(maxW == pairCnt.values.max)
    assert(bf == pairCnt.values.map(w => w * (w - 1) / 2).sum,
      "capped butterfly replay")
    assert(bf > 0, "capped graph must still contain butterflies")

    val exact = run("graph_butterflies").collect().head.getLong(0)
    assert(bf <= exact, s"capped ($bf) must lower-bound exact ($exact)")
  }

  test("capped rank prunes map-side: WindowGroupLimit in the plan") {
    val (res, stages) = GraphQueries.cappedButterflies(spark, sf())
    try {
      res.collect()
      val p = res.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        "rn <= cap must compile to WindowGroupLimit (each map task " +
          "forwards at most cap rows per supplier):\n" + p.take(3000))
    } finally stages.foreach(_.unpersist(false))
  }

  test("co-partitioned LPA twins are bit-identical to the broadcast forms") {
    Seq("graph_label_prop", "graph_modularity").foreach { name =>
      val b = run(name).collect().toSeq
      val p = run(s"${name}_partitioned").collect().toSeq
      assert(b == p, s"$name partitioned twin diverged from broadcast form")
    }
  }

  test("bcast=false LPA round: shuffled-hash label join, edge side never re-exchanges") {
    val (df, stages) = GraphQueries.lpaOneRound(spark, sf())
    df.collect()
    // outer final plan only: the "Initial Plan" echo would double every
    // count, and the edge cache's EMBEDDED build plan contains broadcast
    // joins + parquet scans that are not this round's operators
    val p = outerPlan(df)
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"),
      "partitioned round must not broadcast the label table:\n" + p.take(3000))
    // the edge side reads the persisted HashPartitioning(src, N) layout
    assert(p.contains("Scan ExistingRDD"),
      "rounds must read the checkpointed partitioned edges:\n" + p.take(3000))
    // ... DIRECTLY: an Exchange above the edge cache means the edge side
    // re-shuffles every round (the pre-round-15 localCheckpoint bug —
    // AdaptiveSparkPlanExec reports UnknownPartitioning, so the
    // checkpoint's LogicalRDD lost the layout)
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(src") && l.contains("ENSURE_REQUIREMENTS")),
      "edge side re-exchanged into the label join:\n" + p.take(3000))
    stages.foreach(graft.operators.Layouts.releaseCheckpoint)
  }

  test("pipe_ccnet_buckets_sketch: full bottom-k sample + cutoff + bucket replay") {
    val out = run("pipe_ccnet_buckets_sketch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.nonEmpty)
    val scored = Round12Queries.ccnetScored(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.length == scored.length, "every scored doc gets a bucket")

    val byLang = scored.groupBy(_._2)
    // the fixture must exercise the SUBSAMPLE path, not just n <= k
    assert(byLang.values.exists(_.length > SketchQueries.SketchK),
      "no language exceeds k — the sketch path is untested")
    val cuts = byLang.map { case (lang, ds) =>
      val samp = ds.map(d => (H60(s"qsk:${d._1}"), d._3)).sorted
        .take(SketchQueries.SketchK).map(_._2).toIndexedSeq.sorted
      lang -> (QuantileSketchAgg.quantile(samp, 1.0 / 3),
        QuantileSketchAgg.quantile(samp, 2.0 / 3))
    }
    out.foreach { case (id, lang, score, bucket) =>
      val (c1, c2) = cuts(lang)
      val exp = if (score <= c1) "head"
        else if (score <= c2) "middle" else "tail"
      assert(bucket == exp, s"doc $id ($lang, $score): $bucket != $exp")
    }
    // terciles from a k=64 sample stay near 1/3 on the fixture —
    // deterministic given the md5 tags, so an exact-bound assert is safe
    byLang.foreach { case (lang, ds) =>
      val n = ds.length.toDouble
      val shares = out.filter(_._2 == lang).groupBy(_._4)
        .view.mapValues(_.length / n).toMap
      Seq("head", "middle", "tail").foreach { b =>
        val s = shares.getOrElse(b, 0.0)
        assert(math.abs(s - 1.0 / 3) <= 0.25,
          s"$lang/$b share $s too far from 1/3")
      }
    }
  }

  test("sim_semantic_clusters_scaled matches a union-find replay over scaled tau-edges") {
    import graft.queries.Round13Queries
    // oracle-split evidence chain (SURVEY §5 note 14): the hash-green
    // sim_semantic_edges_scaled row must equal the canonical
    // tau-projection of the scaled kNN row and union-find to the exact
    // cluster rows (the Round13Spec pattern at bits = KnnScaledBits)
    val edgeRows = run("sim_semantic_edges_scaled").collect()
    val edges = edgeRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must yield some tau-edges")
    val fromKnn = run("sim_knn_graph_scaled").collect()
      .filter(_.getDouble(3) >= Round13Queries.SemClusterTau)
      .map(r => (math.min(r.getLong(0), r.getLong(2)),
        math.max(r.getLong(0), r.getLong(2)), r.getDouble(3))).toSet
    assert(edgeRows.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet == fromKnn,
      "sim_semantic_edges_scaled != canonical tau-projection of sim_knn_graph_scaled")
    val allIds = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val expected = CcReplay.labels(edges, allIds)
    val sizes = CcReplay.sizes(expected)
    val rows = run("sim_semantic_clusters_scaled").collect()
    assert(rows.length == allIds.length, "one row per vector")
    rows.foreach { r =>
      val (cid, vid, sz) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid == expected(vid), s"vec $vid: got $cid want ${expected(vid)}")
      assert(sz == sizes(expected(vid)), s"vec $vid cluster_size")
    }
    assert(sizes.values.max > 1, "no genuine merging on the fixture")
  }
}
