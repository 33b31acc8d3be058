package graft

import org.apache.spark.sql.functions._

/** Round-19 rows: the IVF-cell kNN graph (V22) and the kNN-graph recall
  * audit (V21).
  *
  * Discipline: the IVF build is replayed COMBINATORIALLY in plain Scala
  * (count-derived width → sampled-point cells → exact-L2 cell ranks →
  * within-probed-cell candidates → exact cosine → top-k with the
  * declared tiebreak) over the collected fixture vectors, and the
  * recall row's arithmetic is recomputed from an independent Scala
  * brute-force truth against the declared build rows themselves — so a
  * drift in EITHER the Spark pipeline or its oracle shows up here even
  * before the DuckDB gate runs.
  */
class Round19Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  /** Collected fixture vectors (vec_id asc). */
  private lazy val vecs: Array[(Long, Array[Double])] =
    graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  private def cosine6(a: Array[Double], b: Array[Double]): Double = {
    val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) =>
      s + (a(i) - b(i)) * (a(i) - b(i)))

  /** Scala replay of the IVF-cell kNN build's semantics. */
  private lazy val ivfReplay: Map[Long, Seq[(Int, Long, Double)]] = {
    val n = vecs.length.toLong
    val kk = math.max(graft.queries.Round17Queries.IvfAutoMinK,
      math.min(graft.queries.Round17Queries.IvfAutoMaxK,
        math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val stride = math.max(1L, n / kk)
    // the round-19 hash-residue sample: ~K cells whatever the id
    // layout (the sampled-point rule's dense-contiguous-id assumption
    // was the measured ×10 cell collapse)
    val cents = vecs
      .filter { case (id, _) => H60.id(id) % stride == 0 }
      .sortBy(_._1).map(_._2).toSeq
    // per vector: cells ranked by (d2 asc, pos asc)
    def ranked(v: Array[Double]): Seq[Int] =
      cents.zipWithIndex
        .map { case (c, p) => (dist2(v, c), p) }
        .sortBy(identity).map(_._2)
    val home = vecs.map { case (id, v) => id -> ranked(v).head }.toMap
    val probes = vecs.map { case (id, v) =>
      id -> ranked(v).take(graft.queries.KnnGraphQueries.KnnIvfNprobe).toSet
    }.toMap
    vecs.map { case (qid, qv) =>
      val cand = vecs.filter { case (nid, _) =>
        nid != qid && probes(qid).contains(home(nid)) }
      val top = cand
        .map { case (nid, nv) => (nid, cosine6(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(graft.queries.KnnGraphQueries.KnnK)
        .zipWithIndex
        .map { case ((nid, c), i) => (i + 1, nid, c) }
      qid -> top.toSeq
    }.toMap
  }

  test("sim_knn_graph_ivf: combinatorial Scala replay matches the declared row") {
    val got = run("sim_knn_graph_ivf").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq }
    assert(got.keySet == ivfReplay.filter(_._2.nonEmpty).keySet,
      "query coverage differs from the replay")
    got.foreach { case (q, rows) =>
      assert(rows == ivfReplay(q), s"query $q: $rows vs ${ivfReplay(q)}")
    }
    // scale sanity on the fixture width rule
    val n = vecs.length
    assert(n >= 64, s"fixture too small for a meaningful replay: $n")
  }

  test("sim_knn_graph_recall: arithmetic replays from an independent truth and the declared builds") {
    import graft.queries.KnnGraphQueries.{KnnK, KnnRecallPanel}
    // independent truth: brute top-k per panel query
    val truth: Map[Long, Set[Long]] = vecs.take(KnnRecallPanel).map {
      case (qid, qv) =>
        qid -> vecs.filter(_._1 != qid)
          .map { case (nid, nv) => (nid, cosine6(qv, nv)) }
          .sortBy { case (nid, c) => (-c, nid) }
          .take(KnnK).map(_._1).toSet
    }.toMap
    val audit = run("sim_knn_graph_recall").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val builds = Seq(
      "lsh_fixture" -> "sim_knn_graph",
      "lsh_scaled" -> "sim_knn_graph_scaled",
      "lsh_auto" -> "sim_knn_graph_auto",
      "ivf_cell" -> "sim_knn_graph_ivf",
      "ivf_kmeans_cell" -> "sim_knn_graph_ivf_kmeans",
      "ivf_scaled_cell" -> "sim_knn_graph_ivf_scaled",
      "nnd" -> "sim_knn_graph_nnd",
      "ivf_hier_cell" -> "sim_knn_graph_ivf_hier",
      "nnd_hier" -> "sim_knn_graph_nnd_hier")
    // scaffold: every (build, panel query) present exactly once
    assert(audit.size == builds.size * math.min(KnnRecallPanel, vecs.length),
      s"scaffold incomplete: ${audit.size} rows")
    builds.foreach { case (bld, name) =>
      val edges = run(name).collect()
        .filter(_.getLong(0) < KnnRecallPanel)
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      truth.foreach { case (q, tset) =>
        val expectHits = tset.intersect(edges.getOrElse(q, Set.empty)).size.toLong
        val (hits, recall) = audit((bld, q))
        assert(hits == expectHits,
          s"$bld query $q: hits $hits vs replayed $expectHits")
        assert(math.abs(recall - expectHits.toDouble / tset.size) < 1e-12,
          s"$bld query $q: recall $recall")
        assert(recall >= 0.0 && recall <= 1.0)
      }
    }
  }
}
