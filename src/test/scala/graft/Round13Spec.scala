package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, KnnGraphQueries, QueryDef, Round13Queries}

/** Round-13 operator invariants:
  *
  *  - graph_label_prop: a full in-Scala replay of the synchronous
  *    4-round most-frequent-neighbor recursion on the collected edge
  *    list must reproduce every (node, community) row, and community
  *    sizes must be the actual label-group sizes;
  *  - ev_cusum / ev_cusum_trailing: an exact fixed-point replay of the
  *    Lindley recursion over the collected hourly series reproduces
  *    every cusum value; S ≥ 0 everywhere and the alarm flag is
  *    exactly (cusum > h);
  *  - text_zipf_fit: slope is negative on natural-ish text, R² ∈ (0, 1],
  *    and a direct OLS replay over the collected per-language counts
  *    matches to the rounding digit;
  *  - text_odds_ratio: counts conserve vs direct aggregation, output is
  *    |z|-descending, and every row's z matches a Scala replay;
  *  - pipe_l_diversity: n_users ≤ n_events, max_user_share ∈ (0, 1],
  *    l_diverse ≡ n_users ≥ 3, verified cell-by-cell against a direct
  *    distinct-user count;
  *  - sim_knn_graph: ranks contiguous from 1, cosine non-increasing per
  *    vector, no self-edges, and recall@5 vs the exact brute-force
  *    top-5 clears a measured floor on the fixture.
  */
class Round13Spec extends SparkSpec {

  private def q(name: String) =
    QueryDef.toQueriesMap(
      Round13Queries.defs ++ KnnGraphQueries.defs ++ GraphQueries.defs)(name)

  // ── label propagation ──────────────────────────────────────────────

  test("graph_label_prop matches an in-Scala replay of the recursion") {
    val rows = q("graph_label_prop")(spark, sf()).collect()
    assert(rows.nonEmpty)

    // rebuild the symmetric edge list exactly as the query does
    val orders = Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    var lbl: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    (1 to GraphQueries.LpaIters).foreach { _ =>
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    def str(x: Long) = if (x % 2 == 0) s"c${x / 2}" else s"s${x / 2}"
    val expected = lbl.map { case (n, l) => str(n) -> str(l) }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap

    assert(rows.length == expected.size, "one row per node")
    rows.foreach { r =>
      val (node, comm, sz) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(expected(node) == comm, s"$node: got $comm want ${expected(node)}")
      val lblId = lbl(lbl.keys.find(k => str(k) == node).get)
      assert(sz == sizes(lblId), s"$node community_size")
    }
    // communities genuinely merge: fewer labels than nodes
    assert(sizes.size < expected.size)
  }

  // ── CUSUM ──────────────────────────────────────────────────────────

  private def hourly(): Map[String, Seq[(Long, Long)]] =
    Tables.load(spark, sf(), "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(1),
        r.getTimestamp(0).toInstant.toEpochMilli, r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def checkCusum(name: String, yOf: (Seq[Long], Int) => Long): Unit = {
    val rows = q(name)(spark, sf()).collect()
    assert(rows.nonEmpty)
    val series = hourly()
    val got = rows.map { r =>
      (r.getString(1), r.getTimestamp(0).toInstant.toEpochMilli) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    }.toMap
    assert(got.size == series.values.map(_.size).sum, "one row per bucket")
    series.foreach { case (typ, buckets) =>
      val counts = buckets.map(_._2)
      var s = 0L
      buckets.zipWithIndex.foreach { case ((ms, n), i) =>
        s = math.max(0L, s + yOf(counts, i))
        val disp = r6(new java.math.BigDecimal(
          java.math.BigInteger.valueOf(s), 9).doubleValue())
        val (gn, gc, ga) = got((typ, ms))
        assert(gn == n, s"$typ@$ms count")
        assert(gc == disp, s"$name $typ@$ms: got $gc want $disp")
        assert(ga == (disp > Round13Queries.CusumH), s"$typ@$ms alarm flag")
        assert(gc >= 0.0, "one-sided CUSUM is never negative")
      }
    }
  }

  test("ev_cusum matches the exact fixed-point Lindley replay (global baseline)") {
    checkCusum("ev_cusum", { (counts, i) =>
      val tn = counts.length
      if (tn < 3) 0L
      else {
        val s1 = counts.sum
        val s2 = counts.map(c => c * c).sum
        val mu = s1.toDouble / tn
        val va = (s2 - s1.toDouble * s1 / tn) / (tn - 1)
        if (va <= 0) 0L
        else java.math.BigDecimal
          .valueOf((counts(i) - mu) / math.sqrt(va) - Round13Queries.CusumK)
          .setScale(9, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      }
    })
  }

  test("ev_cusum_trailing matches the streaming arithmetic (trailing baseline)") {
    checkCusum("ev_cusum_trailing", { (counts, i) =>
      graft.streaming.CusumStream.yUnscaled(
        counts(i), counts.take(i).takeRight(graft.streaming.CusumStream.TrailLen))
    })
  }

  // ── Zipf fit ───────────────────────────────────────────────────────

  test("text_zipf_fit: negative slope, R2 in (0,1], OLS replay matches") {
    val rows = q("text_zipf_fit")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val counts = Tables.load(spark, sf(), "documents")
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val (lang, n, slope, r2) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(slope < 0.0, s"$lang slope must be negative, got $slope")
      assert(r2 > 0.0 && r2 <= 1.0, s"$lang R2 out of range: $r2")
      val ranked = counts(lang).map(t => (t._3, t._2)).toSeq
        .sortBy { case (c, tok) => (-c, tok) }.zipWithIndex
      assert(n == ranked.size, s"$lang vocab size")
      def d9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val terms = ranked.map { case ((c, _), idx) =>
        val x = math.log(idx + 1.0); val y = math.log(c.toDouble)
        (d9(x), d9(y), d9(x * x), d9(x * y), d9(y * y))
      }
      val sx = terms.map(_._1).sum.toDouble
      val sy = terms.map(_._2).sum.toDouble
      val sxx = terms.map(_._3).sum.toDouble
      val sxy = terms.map(_._4).sum.toDouble
      val syy = terms.map(_._5).sum.toDouble
      val num = n * sxy - sx * sy
      val expSlope = r6(num / (n * sxx - sx * sx))
      val expR2 = r6(num * num / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
      assert(slope == expSlope, s"$lang slope: got $slope want $expSlope")
      assert(r2 == expR2, s"$lang r2: got $r2 want $expR2")
    }
  }

  // ── log-odds ratio ─────────────────────────────────────────────────

  test("text_odds_ratio: |z| descending, counts conserve, z replay matches") {
    val rows = q("text_odds_ratio")(spark, sf()).collect()
    assert(rows.nonEmpty && rows.length <= Round13Queries.OddsTopK)
    val zs = rows.map(r => math.abs(r.getDouble(4)))
    assert(zs.sameElements(zs.sorted.reverse), "|z| must be non-increasing")

    val toks = Tables.load(spark, sf(), "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val aSrc = toks.map(_._1).min
    val byTok = toks.groupBy(_._2).view.mapValues { xs =>
      (xs.count(_._1 == aSrc).toLong, xs.count(_._1 != aSrc).toLong)
    }.toMap.filter { case (_, (a, b)) => a + b >= Round13Queries.OddsMinCount }
    val na = byTok.values.map(_._1).sum.toDouble
    val nb = byTok.values.map(_._2).sum.toDouble
    val nt = na + nb
    val a0 = Round13Queries.OddsAlpha0
    rows.foreach { r =>
      val (tok, ca, cb, z) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(byTok(tok) == ((ca, cb)), s"$tok counts")
      val aw = a0 * (ca + cb) / nt
      val delta = math.log((ca + aw) / (na + a0 - ca - aw)) -
        math.log((cb + aw) / (nb + a0 - cb - aw))
      val expZ = r6(delta / math.sqrt(1.0 / (ca + aw) + 1.0 / (cb + aw)))
      assert(z == expZ, s"$tok z: got $z want $expZ")
    }
  }

  // ── l-diversity ────────────────────────────────────────────────────

  test("pipe_l_diversity: cell-by-cell distinct-user replay") {
    val rows = q("pipe_l_diversity")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val direct = Tables.load(spark, sf(), "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .collect().map(r => ((r.getString(0), r.getDate(1).toString), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(rows.length == direct.size, "one row per QI cell")
    rows.foreach { r =>
      val key = (r.getString(0), r.getDate(1).toString)
      val (nEvents, nUsers, share, lDiv) =
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))
      val users = direct(key)
      assert(nEvents == users.size, s"$key n_events")
      assert(nUsers == users.distinct.size, s"$key n_users")
      assert(nUsers <= nEvents)
      assert(share > 0.0 && share <= 1.0)
      val maxCnt = users.groupBy(identity).values.map(_.size).max
      assert(share == r6(maxCnt.toDouble / users.size), s"$key share")
      assert(lDiv == (nUsers >= Round13Queries.LDiversity), s"$key flag")
    }
  }

  // ── kNN graph ──────────────────────────────────────────────────────

  test("sim_knn_graph: contiguous ranks, monotone cosine, recall floor vs brute") {
    val rows = q("sim_knn_graph")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val byVec = rows.map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    byVec.foreach { case (v, ns) =>
      val sorted = ns.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1 to sorted.length), s"$v ranks")
      assert(sorted.forall(_._3 != v), s"$v self edge")
      val cs = sorted.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"$v monotone")
      assert(cs.forall(c => c >= -1.000001 && c <= 1.000001))
    }

    // recall@k vs exact brute-force per-vector top-k
    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val k = KnnGraphQueries.KnnK
    var hit = 0; var tot = 0
    vecs.foreach { case (v, av) =>
      val brute = vecs.filter(_._1 != v)
        .map { case (u, bu) => (u, cos(av, bu)) }
        .sortBy { case (u, c) => (-c, u) }.take(k).map(_._1).toSet
      val got = byVec.getOrElse(v, Array.empty).map(_._3).toSet
      hit += brute.intersect(got).size
      tot += k
    }
    // near-random 64-dim fixture: no planted structure, so this is a
    // regression tripwire (two-table multiprobe measured 0.233; one
    // table measured 0.149) — the planted-pair test below carries the
    // actual quality claim
    val recall = hit.toDouble / tot
    assert(recall > 0.18, s"recall@$k vs brute too low: $recall")
  }

  test("sim_knn_graph finds planted near-duplicates at rank 1") {
    val d = tmpDir("knn-planted")
    val rng = new scala.util.Random(4242)
    val base = (0 until 300).map { i =>
      i.toLong -> Array.fill(64)(rng.nextGaussian().toFloat)
    }
    // vectors 1000+i are tiny perturbations of base vector i
    val dups = (0 until 100).map { i =>
      (1000L + i) -> base(i)._2.map(x => x + 0.01f * rng.nextGaussian().toFloat)
    }
    import spark.implicits._
    (base ++ dups).map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = q("sim_knn_graph")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val rank1 = rows.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val found = (0 until 100).count { i =>
      rank1.get(1000L + i).contains(i.toLong) ||
        rank1.get(i.toLong).contains(1000L + i)
    }
    // a 0.01-σ perturbation keeps cosine ≈ 1 ⇒ identical LSH signs in
    // (almost) every plane; both tables must bucket the pair together
    // in some probe essentially always
    assert(found >= 95, s"only $found/100 planted near-dup pairs at rank 1")
  }

  // ── modularity ─────────────────────────────────────────────────────

  test("graph_modularity matches a full Scala replay of Q over the LPA labels") {
    val row = q("graph_modularity")(spark, sf()).collect().head
    val (nNodes, nComm, mEdges, qMod) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))

    // rebuild edges + replay LPA (the graph_label_prop test's recursion)
    val orders = Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var lbl: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    (1 to GraphQueries.LpaIters).foreach { _ =>
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val e = edges.length.toLong
    val eIn = edges.count { case (u, v) => lbl(u) == lbl(v) }.toLong
    val kc = edges.groupBy(e2 => lbl(e2._1)).view.mapValues(_.size.toLong).toMap
    val sk2 = kc.values.map(k => BigInt(k) * BigInt(k)).sum
    val expQ = r6(eIn.toDouble / e - sk2.toDouble / (e.toDouble * e))
    assert(nNodes == nbrs.size)
    assert(nComm == lbl.values.toSet.size)
    assert(mEdges == e / 2)
    assert(qMod == expQ, s"modularity: got $qMod want $expQ")
    assert(qMod >= -0.5 && qMod <= 1.0)
  }

  // ── semantic clusters ──────────────────────────────────────────────

  test("sim_semantic_clusters matches a union-find replay over tau-edges") {
    // evidence chain of the oracle split (SURVEY §5 note 14): the edge
    // row is the hash-green DuckDB half; here it must (a) equal the
    // canonical tau-projection of the kNN row and (b) union-find to the
    // exact cluster rows
    val edgeRows = q("sim_semantic_edges")(spark, sf()).collect()
    val edges = edgeRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must yield some tau-edges")
    val fromKnn = q("sim_knn_graph")(spark, sf()).collect()
      .filter(_.getDouble(3) >= Round13Queries.SemClusterTau)
      .map(r => (math.min(r.getLong(0), r.getLong(2)),
        math.max(r.getLong(0), r.getLong(2)), r.getDouble(3))).toSet
    assert(edgeRows.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet == fromKnn,
      "sim_semantic_edges != canonical tau-projection of sim_knn_graph")
    val allIds = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val expected = CcReplay.labels(edges, allIds)
    val sizes = CcReplay.sizes(expected)

    val rows = q("sim_semantic_clusters")(spark, sf()).collect()
    assert(rows.length == allIds.length, "one row per vector")
    rows.foreach { r =>
      val (cid, vid, sz) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid == expected(vid), s"vec $vid: got $cid want ${expected(vid)}")
      assert(sz == sizes(expected(vid)), s"vec $vid cluster_size")
    }
    // some genuine merging happened on the fixture
    assert(sizes.values.max > 1)
  }

  // ── Heaps fit ──────────────────────────────────────────────────────

  test("text_heaps_fit matches a Scala replay; beta in (0,1)") {
    val row = q("text_heaps_fit")(spark, sf()).collect().head
    val (nPts, beta, lnK) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(nPts == Round13Queries.HeapsCuts)
    // the synthetic fixture draws from a CLOSED ~31-word pool, so the
    // vocabulary saturates in the first prefix and beta ~ 0 is the
    // correct Heaps verdict (natural text sits near 0.5-0.8); the exact
    // replay below is the strong pin
    assert(beta >= 0.0 && beta < 1.0, s"beta out of range: $beta")

    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val maxId = docs.map(_._1).max
    val firstOcc = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    def d9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val pts = (1 to Round13Queries.HeapsCuts).map { i =>
      val cut = maxId * i / Round13Queries.HeapsCuts
      val nToks = docs.filter(_._1 <= cut).map(_._2.size.toLong).sum
      val nTypes = firstOcc.values.count(_ <= cut).toLong
      (math.log(nToks.toDouble), math.log(nTypes.toDouble))
    }
    val n = pts.size
    val sx = pts.map(p => d9(p._1)).sum.toDouble
    val sy = pts.map(p => d9(p._2)).sum.toDouble
    val sxx = pts.map(p => d9(p._1 * p._1)).sum.toDouble
    val sxy = pts.map(p => d9(p._1 * p._2)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(beta == r6(slope), s"beta: got $beta want ${r6(slope)}")
    assert(lnK == r6((sy - slope * sx) / n), s"ln_k mismatch")
  }
}
