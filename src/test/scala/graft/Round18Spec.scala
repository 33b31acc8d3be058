package graft

/** Round-18 operator invariants:
  *
  *  - sim_index_recall_contract replays exactly from the declared rows
  *    it scores: each index's hits must equal the set intersection of
  *    its own declared top-k with the exact truth of ITS metric
  *    (cosine@10 for the Lloyd rows = sim_brute_topk, L2@5 for
  *    PQ/IVFPQ replayed in Scala, inner-product@5 for MIPS-LSH =
  *    sim_mips_topk), recall = hits / the per-query truth count, with
  *    a full (index × query) scaffold;
  *  - sim_lsh_topk_auto obeys its contract: every returned neighbor's
  *    cosine is exact (replayed from the raw vectors) and the rank
  *    ordering is (cosine desc, id asc).
  */
class Round18Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  private def pairs(name: String): Set[(Long, Long)] =
    run(name).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet

  test("sim_index_recall_contract: hits/recall replay from the declared rows") {
    import queries.Round11Queries.{PqNQueries, PqTopK}
    val truthCos = pairs("sim_brute_topk")
    val truthIp = pairs("sim_mips_topk")
    // L2 truth replayed independently in Scala from the raw vectors
    val vecs = Tables.load(spark, sf(), "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val truthL2 = (0L until PqNQueries.toLong).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, d2(vecs(q), v)) }
        .sortBy { case (id, d) => (d, id) }
        .take(PqTopK)
        .map { case (id, _) => (q, id) }
    }.toSet
    val truthOf = Map(
      "ivf_kmeans" -> truthCos, "ivf_kmeans_auto" -> truthCos,
      "pq" -> truthL2, "ivfpq" -> truthL2, "mips_lsh" -> truthIp)
    val idxRow = Map(
      "ivf_kmeans" -> "sim_ivf_kmeans_topk",
      "ivf_kmeans_auto" -> "sim_ivf_kmeans_topk_auto",
      "pq" -> "sim_pq_topk",
      "ivfpq" -> "sim_ivfpq_topk",
      "mips_lsh" -> "sim_mips_lsh_topk")
    val byIdx = idxRow.map { case (idx, row) => idx -> pairs(row) }
    val truthN = truthOf.map { case (idx, t) =>
      idx -> t.groupBy(_._1).view.mapValues(_.size).toMap
    }

    val got = run("sim_index_recall_contract").collect()
    assert(got.length == 5 * PqNQueries,
      "scaffold must cover every (index, query) pair")
    got.foreach { r =>
      val idx = r.getAs[String]("idx")
      val qid = r.getAs[Long]("query_id")
      val expected = byIdx(idx).count { case (q, n) =>
        q == qid && truthOf(idx)((q, n))
      }
      assert(r.getAs[Long]("hits") == expected.toLong,
        s"$idx q$qid: hits ${r.getAs[Long]("hits")} != replayed $expected")
      assert(r.getAs[Double]("recall") ==
        expected.toDouble / truthN(idx)(qid),
        s"$idx q$qid: recall mismatch")
    }
    assert(got.map(_.getAs[Long]("hits")).sum > 0, "all-zero recall")
  }

  test("sim_lsh_topk_auto: exact cosines, contract rank order") {
    val vecs = Tables.load(spark, sf(), "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray).toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = run("sim_lsh_topk_auto").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      sorted.foreach { r =>
        val nid = r.getAs[Long]("neighbor_id")
        assert(r.getAs[Double]("cosine") == cos6(vecs(qid), vecs(nid)),
          s"q$qid n$nid: cosine not exact")
      }
      val keys = sorted.map(r =>
        (-r.getAs[Double]("cosine"), r.getAs[Long]("neighbor_id")))
      assert(keys.sameElements(keys.sorted),
        s"q$qid: rank order violates (cosine desc, id asc)")
    }
  }
}
