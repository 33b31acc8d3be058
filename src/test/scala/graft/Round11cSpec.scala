package graft

import org.apache.spark.sql.functions._

import graft.queries.Round11cQueries

/** Round-11c operator invariants:
  *
  *  - sim_ivf_kmeans_topk: recall@10 vs the exact brute-force ranking
  *    (measured 0.90 at nprobe=2/K=8 on the fixture, pinned ≥ 0.7), and
  *    the serving plan uses an EQUI-join candidate restriction (no
  *    nested-loop scan of the corpus);
  *  - pipe_decontaminate_semantic: verdict consistency (contaminated ⇔
  *    max_cosine ≥ τ), both verdicts populated, cosines in [-1,1], and
  *    the corpus pass never hash-shuffles;
  *  - text_tfidf_topterms: per-doc rank contiguity, weight monotone
  *    non-increasing within a doc, and the IDF zero law — a token in
  *    every document carries exactly zero weight.
  */
class Round11cSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)

  test("sim_ivf_kmeans_topk: recall@10 vs brute force >= 0.7") {
    val ivf = q("sim_ivf_kmeans_topk")(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = q("sim_brute_topk")(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (qid, truth) =>
      ivf.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 $mean below 0.7 (measured 0.90)")
  }

  test("sim_ivf_kmeans_topk: candidate restriction is an equi-join") {
    val p = q("sim_ivf_kmeans_topk")(spark, sf())
      .queryExecution.executedPlan.toString
    // the corpus is restricted to probed cells by a HASH join on the
    // cell id (the broadcast side is the 10-row probe list); the only
    // nested-loop joins in the plan are the 1-row centroid-array
    // broadcasts onto the corpus/query scans (same shape as sim_brute)
    assert("BroadcastHashJoin \\[cluster#\\d+\\], \\[probe#\\d+\\]".r
      .findFirstIn(p).isDefined,
      s"probe list must broadcast-hash-join the cell column:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the 10-row probe list must never sort-merge against the corpus")
  }

  test("pipe_decontaminate_semantic: verdict consistency, no corpus shuffle") {
    val df = q("pipe_decontaminate_semantic")(spark, sf())
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cos = r.getDouble(2)
      assert(cos >= -1.000001 && cos <= 1.000001, s"cosine $cos out of range")
      assert(r.getBoolean(3) == (cos >= Round11cQueries.SemTau),
        s"verdict inconsistent at cosine $cos")
      assert(r.getLong(1) >= 0 && r.getLong(1) < Round11cQueries.SemEvalN)
    }
    val verdicts = rows.map(_.getBoolean(3)).toSet
    assert(verdicts == Set(true, false),
      "both verdicts must be populated at τ=0.25")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      s"decontamination pass hash-shuffled the corpus:\n$p")
  }

  test("text_tfidf_topterms: rank contiguity, monotone weights, IDF zero law") {
    val rows = q("text_tfidf_topterms")(spark, sf())
      .collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length),
        s"doc $doc ranks not contiguous")
      assert(byRank.length <= Round11cQueries.TfidfTopK)
      val ws = byRank.map(_.getDouble(3))
      ws.sliding(2).foreach { case Array(a, b) =>
        assert(b <= a + 1e-9, s"doc $doc weights not monotone: $a -> $b")
      case _ => ()
      }
    }
    // IDF zero law: a token present in EVERY doc must score exactly 0 —
    // verify directly against the corpus
    val sess = spark
    val docs = Tables.load(sess, sf(), "documents")
    val n = docs.count()
    val everywhere = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .distinct().groupBy("tok").count().filter(col("count") === n)
      .collect().map(_.getString(0)).toSet
    if (everywhere.nonEmpty) {
      val hits = rows.values.flatten.filter(r => everywhere(r.getString(2)))
      hits.foreach(r => assert(r.getDouble(3) == 0.0,
        s"ubiquitous token ${r.getString(2)} scored ${r.getDouble(3)} != 0"))
    }
  }
}
