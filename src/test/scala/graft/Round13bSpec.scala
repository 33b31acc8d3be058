package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, QueryDef, Round13bQueries, SimilarityQueries}

/** Round-13b operator invariants:
  *
  *  - sim_ivfpq_topk: every returned neighbor lies in a PROBED cell of
  *    its query (the inverted-file restriction is real), d2 is the
  *    exact squared distance (replayed), ranks are contiguous, and the
  *    top-1 agrees with the unrestricted sim_pq_topk on most queries;
  *  - graph_kcore: a Scala replay of the peeling reaches the same node
  *    set/degrees, the fixture hits the TRUE fixed point inside the
  *    round bound (round 5 == round 4), and every surviving degree ≥ k;
  *  - ev_transition_matrix: exact count/probability replay, rows
  *    normalize to 1 per from_type;
  *  - pipe_dp_quantile: the seeded Gumbel argmax and the true median
  *    replay exactly; the released value is an observed candidate.
  */
class Round13bSpec extends SparkSpec {

  private def q(name: String) =
    QueryDef.toQueriesMap(Round13bQueries.defs ++ GraphQueries.defs)(name)

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  // ── IVFPQ ──────────────────────────────────────────────────────────

  test("sim_ivfpq_topk: neighbors confined to probed cells, exact d2, contiguous ranks") {
    val rows = q("sim_ivfpq_topk")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)

    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val cents = vecs.keys.filter(v =>
        v % SimilarityQueries.CentroidEvery == 0 &&
        v < SimilarityQueries.CentroidEvery * SimilarityQueries.CentroidCap)
      .toSeq.sorted
    def cellOf(v: Long): Long =
      cents.minBy(c => (d2(vecs(v), vecs(c)), c))
    def probesOf(qid: Long): Set[Long] =
      cents.sortBy(c => (d2(vecs(qid), vecs(c)), c))
        .take(SimilarityQueries.NProbe).toSet

    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val sorted = ns.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1 to sorted.length), s"$qid ranks")
      val probed = probesOf(qid)
      sorted.foreach { case (_, _, nb, dd) =>
        assert(nb != qid)
        assert(probed.contains(cellOf(nb)),
          s"query $qid neighbor $nb sits in unprobed cell ${cellOf(nb)}")
        assert(dd == r6(d2(vecs(qid), vecs(nb))), s"$qid->$nb d2")
      }
      val dds = sorted.map(_._4)
      assert(dds.zip(dds.tail).forall { case (a, b) => a <= b }, s"$qid monotone")
    }

    // quality vs the exact d2 top-k RESTRICTED to probed cells — this
    // isolates the PQ/ADC-shortlist approximation (the only lossy stage
    // left once cell confinement is pinned above). The fixture has ~100
    // candidates per query against PqShortlist=50, so the ADC ordering
    // genuinely decides which half survives to the exact re-rank
    var hit = 0; var tot = 0
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val probed = probesOf(qid)
      val candIds = vecs.keys.filter(v => v != qid && probed.contains(cellOf(v)))
      val exact = candIds.toSeq
        .map(v => (v, d2(vecs(qid), vecs(v))))
        .sortBy { case (v, dd) => (dd, v) }
        .take(graft.queries.Round11Queries.PqTopK).map(_._1).toSet
      hit += exact.intersect(ns.map(_._3).toSet).size
      tot += exact.size
    }
    val recall = hit.toDouble / tot
    assert(recall >= 0.7,
      s"IVFPQ recall vs exact-restricted top-k too low: $recall")
  }

  // ── k-core ─────────────────────────────────────────────────────────

  test("graph_kcore: Scala replay, true fixed point in-bound, degrees >= k") {
    val rows = q("graph_kcore")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.nonEmpty)

    val orders = Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet

    def peel(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
      val kept = deg.filter(_._2 >= GraphQueries.KcoreK).keySet
      e.filter { case (u, v) => kept(u) && kept(v) }
    }
    (1 to GraphQueries.KcorePeels).foreach(_ => edges = peel(edges))
    assert(peel(edges) == edges,
      "fixture must reach the k-core fixed point inside the round bound")
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def str(x: Long) = if (x % 2 == 0) s"c${x / 2}" else s"s${x / 2}"
    assert(rows == deg.map { case (n, d) => str(n) -> d },
      "k-core node/degree set mismatch")
    assert(rows.values.forall(_ >= GraphQueries.KcoreK))
    // the peel genuinely removed something on the fixture
    val allNodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(rows.size < allNodes.size)
  }

  // ── transition matrix ──────────────────────────────────────────────

  test("ev_transition_matrix: exact replay, rows normalize to 1") {
    val rows = q("ev_transition_matrix")(spark, sf()).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows.nonEmpty)
    val evs = Tables.load(spark, sf(), "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).values.flatMap { us =>
      val sorted = us.sortBy(u => (u._2, u._3)).map(_._4)
      sorted.zip(sorted.tail)
    }.toSeq
    val counts = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.keySet == counts.keySet)
    val fromTotals = counts.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    counts.foreach { case (k, n) =>
      val (gn, gp) = rows(k)
      assert(gn == n, s"$k count")
      assert(gp == r6(n.toDouble / fromTotals(k._1)), s"$k probability")
    }
    rows.toSeq.groupBy(_._1._1).foreach { case (f, rs) =>
      val s = rs.map(_._2._2).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$f probabilities sum to $s")
    }
  }

  // ── DP quantile ────────────────────────────────────────────────────

  test("pipe_dp_quantile: seeded Gumbel argmax and true median replay") {
    val row = q("pipe_dp_quantile")(spark, sf()).collect().head
    val (nDocs, trueMed, dpMed, dpScore) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))

    val chars = Tables.load(spark, sf(), "documents")
      .select(col("n_chars")).collect().map(_.getLong(0))
    assert(nDocs == chars.length)
    val hist = chars.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val cums = hist.scanLeft(0L)(_ + _._2).tail
    val n = chars.length
    // true median: smallest candidate with cum >= ceil(n/2)
    val half = math.ceil(n / 2.0).toLong
    val expTrue = hist.map(_._1).zip(cums).find(_._2 >= half).get._1
    assert(trueMed == expTrue, s"true median: got $trueMed want $expTrue")

    def u(c: Long): Double = {
      val h = H60(s"dpq:$c")
      ((h % 1000000L) + 0.5) / 1000000.0
    }
    val scored = hist.map(_._1).zip(cums).map { case (c, cum) =>
      val util = -math.abs(cum - n.toDouble / 2)
      (c, r6(Round13bQueries.DpqEpsilon * util / 2 - math.log(-math.log(u(c)))))
    }
    val (expC, expS) = scored.minBy { case (c, s) => (-s, c) }
    assert(dpMed == expC, s"dp median: got $dpMed want $expC")
    assert(dpScore == expS, s"dp score: got $dpScore want $expS")
    assert(hist.map(_._1).contains(dpMed), "released value must be observed")
  }

  // ── rank-distribution windows ──────────────────────────────────────

  test("q113_rank_distribution: percent_rank/cume_dist/ntile replay") {
    val rows = q("q113_rank_distribution")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(d => (d._3, d._2))
      val n = ordered.length
      ordered.zipWithIndex.foreach { case ((_, id, _, quart, pr, cd), i) =>
        val expPr = if (n == 1) 0.0 else r6(i.toDouble / (n - 1))
        assert(pr == expPr, s"doc $id percent_rank")
        // total order ⇒ cume_dist = (i+1)/n
        assert(cd == r6((i + 1).toDouble / n), s"doc $id cume_dist")
        // ntile(4): first (n mod 4) tiles get ceil(n/4) rows
        val base = n / 4; val extra = n % 4
        val expTile = if (i < (base + 1) * extra) i / (base + 1) + 1
          else (i - (base + 1) * extra) / base + extra + 1
        assert(quart == expTile, s"doc $id ntile: got $quart want $expTile")
      }
    }
  }

  // ── Poisson bootstrap ──────────────────────────────────────────────

  test("pipe_bootstrap_ci: full seeded replay, CI brackets the point estimate") {
    val row = q("pipe_bootstrap_ci")(spark, sf()).collect().head
    val (nDocs, meanHat, ciLo, ciHi) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
    assert(ciLo <= meanHat && meanHat <= ciHi,
      s"CI [$ciLo, $ciHi] must bracket $meanHat")

    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(nDocs == docs.length)
    assert(meanHat == r6(docs.map(_._2).sum.toDouble / docs.length))

    def u(doc: Long, b: Int): Double = {
      val h = H60(s"boot:$doc:$b")
      ((h % 1000000L) + 0.5) / 1000000.0
    }
    val fact = (0 to 7).map(k => (1 to k).foldLeft(1.0)(_ * _))
    val cum = fact.map(f => math.exp(-1.0) / f).scanLeft(0.0)(_ + _).tail
    def pois(uu: Double): Long = {
      val idx = cum.indexWhere(uu < _)
      if (idx < 0) 8L else idx.toLong
    }
    val means = (1 to Round13bQueries.BootB).flatMap { b =>
      var swx = 0L; var sw = 0L
      docs.foreach { case (id, x) =>
        val w = pois(u(id, b)); swx += w * x; sw += w
      }
      if (sw > 0) Some((b, r6(swx.toDouble / sw))) else None
    }
    val ranked = means.sortBy { case (b, m) => (m, b) }.map(_._2)
    val nb = ranked.length
    assert(ciLo == ranked(math.ceil(nb * 0.025).toInt - 1), "ci_lo replay")
    assert(ciHi == ranked(math.ceil(nb * 0.975).toInt - 1), "ci_hi replay")
  }
}
