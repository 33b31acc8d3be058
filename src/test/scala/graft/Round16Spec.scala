package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, Round16Queries}

/** Round-16 operator invariants:
  *
  *  - graph_kcore_partitioned is bit-identical to graph_kcore (exact
  *    integer peeling — the join strategy cannot change the survivor
  *    sets), so the two share one oracle;
  *  - the symmetry argument itself, replayed combinatorially: peeling
  *    via "surviving sources per dst" from the collected edge set
  *    reproduces the declared output row for row;
  *  - one co-partitioned peel round plan: survivors shuffle-hash into
  *    the persisted HashPartitioning(src) edge layout — no node-sized
  *    broadcast, and NO re-exchange of the edge side (the whole point
  *    of the twin; a dst-keyed semi-join would reshuffle the edges
  *    every round).
  */
class Round16Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  test("graph_kcore_partitioned: bit-identical to graph_kcore (shared oracle)") {
    val b = run("graph_kcore").collect().toSeq
    val p = run("graph_kcore_partitioned").collect().toSeq
    assert(b.nonEmpty, "empty kcore fixture output")
    assert(b == p, "partitioned twin diverged from broadcast form")
  }

  test("symmetry peel replay: surviving-source counts reproduce the declared row set") {
    val edges = GraphQueries.transactionEdges(spark, sf())
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val k = GraphQueries.KcoreK

    // round 1: full degrees
    var surv = edges.groupBy(_._1).view.mapValues(_.length).toMap
      .filter(_._2 >= k).keySet
    // rounds 2..KcorePeels: deg_i(v) = #{u in K : (u,v) in E}
    (2 to GraphQueries.KcorePeels).foreach { _ =>
      surv = edges.filter(e => surv(e._1)).groupBy(_._2).view
        .mapValues(_.length).toMap.filter(_._2 >= k).keySet
    }
    val expected = edges.filter(e => surv(e._1)).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
      .filter { case (v, _) => surv(v) }
      .map { case (v, d) =>
        (if (v % 2 == 0) s"c${v / 2}" else s"s${v / 2}") -> d
      }

    val got = run("graph_kcore_partitioned").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, "symmetry replay diverged from declared output")
  }

  test("co-partitioned peel round: shuffled-hash survivor join, edge side never re-exchanges") {
    val (df, stages) = GraphQueries.kcoreOnePeel(spark, sf())
    df.collect()
    val p = outerPlan(df)
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastHashJoin"),
      "partitioned peel must not broadcast the survivor set:\n" + p.take(3000))
    assert(p.contains("Scan ExistingRDD"),
      "peels must read the checkpointed partitioned edges:\n" + p.take(3000))
    // an Exchange above the edge cache means the edge side re-shuffles
    // every peel — the broadcast form's dst-join cost the twin exists
    // to avoid
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(src") &&
          l.contains("ENSURE_REQUIREMENTS")),
      "edge side re-exchanged into the survivor join:\n" + p.take(3000))
    stages.foreach(graft.operators.Layouts.releaseCheckpoint)
  }

  /** The id-oriented part co-order pair set (src < dst), collected. */
  private lazy val pairSet: Array[(Long, Long)] = {
    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp"), col("y.sp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  test("graph_triangles_capped: cap-rule replay, cap binds, lower-bounds exact") {
    val row = run("graph_triangles_capped").collect().head
    val (tri, wedges, kept, total, maxOut) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))

    val bysrc = pairSet.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val capped = bysrc.view.mapValues(_.take(GraphQueries.TriCap)).toMap
    val cappedSets = capped.view.mapValues(_.toSet).toMap
    var triExp = 0L
    var wedgeExp = 0L
    capped.values.foreach { dsts =>
      wedgeExp += dsts.length.toLong * (dsts.length - 1) / 2
      for (i <- dsts.indices; j <- (i + 1) until dsts.length)
        if (cappedSets.getOrElse(dsts(i), Set.empty).contains(dsts(j)))
          triExp += 1
    }
    assert(tri == triExp, "triangles")
    assert(wedges == wedgeExp, "n_wedges")
    assert(kept == capped.values.map(_.size.toLong).sum, "n_edges_kept")
    assert(total == pairSet.length.toLong, "n_edges_total")
    assert(maxOut == bysrc.values.map(_.length).max.toLong, "max_out")
    // the cap must bind, and the capped count must lower-bound the
    // exact degree-ordered count (capped edges are a subset)
    assert(maxOut > GraphQueries.TriCap, "cap never binds — weak fixture")
    val exact = run("graph_triangles").collect().head.getLong(3)
    assert(tri <= exact, s"capped $tri must lower-bound exact $exact")
    assert(tri > 0, "no capped triangles on the fixture")
  }

  test("sim_knn_graph_auto: in-plan width rule + full combinatorial replay") {
    import graft.queries.KnnGraphQueries
    val out = run("sim_knn_graph_auto").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val n = vecs.length.toLong
    // the width rule, independently: bits = clamp(bitlen(n-1), min, max)
    val bits = math.max(Round16Queries.KnnAutoMinBits,
      math.min(Round16Queries.KnnAutoMaxBits,
        64 - java.lang.Long.numberOfLeadingZeros(n - 1L)))
    assert(bits > Round16Queries.KnnAutoMinBits,
      "fixture too small — the derived width never leaves the floor")
    val mask = (1 << bits) - 1
    // sequential-fold dot (the DotProduct expression's order), exactly
    val tables = KnnGraphQueries.knnTables(Round16Queries.KnnAutoMaxBits)
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var k = 0
      while (k < a.length) { acc += a(k) * b(k); k += 1 }
      acc
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val sigs = vecs.map { case (id, v) =>
      val s = (0 to 1).map { t =>
        (0 until Round16Queries.KnnAutoMaxBits)
          .map(b => if (dot(v, tables(t)(b)) >= 0.0) 1 << b else 0).sum
      }
      (id, v, math.sqrt(dot(v, v)), s)
    }
    // corpus buckets per table (masked signature + table offset)
    val corpus = (0 to 1).flatMap { t =>
      sigs.map { case (id, _, _, s) => ((s(t) & mask) + t * (mask + 1), id) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byId = sigs.map(x => (x._1, (x._2, x._3))).toMap
    val expected = sigs.flatMap { case (qid, qv, qn, s) =>
      val cands = (0 to 1).flatMap { t =>
        val own = s(t) & mask
        (own +: (0 until bits).map(b => own ^ (1 << b)))
          .map(_ + t * (mask + 1))
          .flatMap(b => corpus.getOrElse(b, Set.empty))
      }.toSet - qid
      cands.toSeq
        .map { nid =>
          val (nv, nn) = byId(nid)
          (qid, nid, r6(dot(nv, qv) / (nn * qn)))
        }
        .sortBy { case (_, nid, cos) => (-cos, nid) }
        .take(KnnGraphQueries.KnnK)
        .zipWithIndex
        .map { case ((q, nid, cos), i) => (q, i + 1, nid, cos) }
    }.sortBy(x => (x._1, x._2)).toSeq
    assert(out == expected,
      s"auto kNN replay diverged (bits=$bits): got ${out.take(3)}... " +
        s"want ${expected.take(3)}...")
  }

  test("sim_semantic_clusters_auto matches a union-find replay over auto tau-edges") {
    import graft.queries.Round13Queries
    // the auto kNN output is itself combinatorially replayed by the
    // test above — here the oracle-split evidence chain (SURVEY §5
    // note 14): the hash-green edge row must equal the canonical
    // tau-projection of the kNN row AND union-find to the cluster rows
    val edgeRows = run("sim_semantic_edges_auto").collect()
    val edges = edgeRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must yield some tau-edges")
    val fromKnn = run("sim_knn_graph_auto").collect()
      .filter(_.getDouble(3) >= Round13Queries.SemClusterTau)
      .map(r => (math.min(r.getLong(0), r.getLong(2)),
        math.max(r.getLong(0), r.getLong(2)), r.getDouble(3))).toSet
    assert(edgeRows.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet == fromKnn,
      "sim_semantic_edges_auto != canonical tau-projection of sim_knn_graph_auto")
    val allIds = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val expected = CcReplay.labels(edges, allIds)
    val sizes = CcReplay.sizes(expected)
    val rows = run("sim_semantic_clusters_auto").collect()
    assert(rows.length == allIds.length, "one row per vector")
    rows.foreach { r =>
      val (cid, vid, sz) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid == expected(vid), s"vec $vid: got $cid want ${expected(vid)}")
      assert(sz == sizes(expected(vid)), s"vec $vid cluster_size")
    }
    assert(sizes.values.max > 1, "no genuine merging on the fixture")
  }

  test("dedup_embedding_ann_auto: width rule + radius-2 ball replay") {
    import graft.queries.{AnnQueries, DedupQueries, Round16Queries}
    val out = run("dedup_embedding_ann_auto").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.nonEmpty, "no ANN pairs on the fixture")
    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val n = vecs.length.toLong
    val bits = math.max(Round16Queries.KnnAutoMinBits,
      math.min(Round16Queries.AnnAutoMaxBits,
        64 - java.lang.Long.numberOfLeadingZeros(n - 1L)))
    val maskL = (1L << bits) - 1L
    val radius = DedupQueries.AnnProbeRadius
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var k = 0
      while (k < a.length) { acc += a(k) * b(k); k += 1 }
      acc
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val hp = (0 until DedupQueries.AnnTables).map(t =>
      AnnQueries.hyperplaneSet(t, Round16Queries.AnnAutoMaxBits))
    val sigs = vecs.map { case (id, v) =>
      (id, v, math.sqrt(dot(v, v)),
        hp.map(planes => (0 until Round16Queries.AnnAutoMaxBits)
          .map(b => if (dot(v, planes(b)) >= 0.0) 1L << b else 0L)
          .sum & maskL))
    }
    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (ia, va, na, sa) = sigs(i)
      (ib, vb, nb, sb) = sigs(j)
      (a, b) = if (ia < ib) (i, j) else (j, i)
      if sa.indices.exists(t =>
        java.lang.Long.bitCount(sigs(a)._4(t) ^ sigs(b)._4(t)) <= radius)
      cos = r6(dot(sigs(a)._2, sigs(b)._2) / (sigs(a)._3 * sigs(b)._3))
      if cos >= DedupQueries.CosineTau
    } yield (sigs(a)._1, sigs(b)._1, cos))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(out == expected,
      s"ANN-auto replay diverged (bits=$bits): got ${out.take(3)} " +
        s"want ${expected.take(3)}")
  }

  test("capped adjacency rank prunes map-side: WindowGroupLimit in the plan") {
    val sos = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    val e = sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp").as("src"), col("y.sp").as("dst")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst").asc)
    val capped = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GraphQueries.TriCap)
      .select(col("src"), col("dst"))
    capped.collect()
    val p = capped.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "rn <= cap must compile to WindowGroupLimit (each map task " +
        "forwards at most cap rows per node):\n" + p.take(3000))
  }
}
