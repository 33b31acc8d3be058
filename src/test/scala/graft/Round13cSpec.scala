package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, QueryDef, Round13cQueries}

/** Round-13c operator invariants:
  *
  *  - text_readability: a Scala replay of the sentence/word/vowel-group
  *    counts and both formulas matches row by row;
  *  - graph_butterflies: exact combinatorial replay from the collected
  *    bipartite edge set (butterflies = Σ C(shared, 2)), and the
  *    wedge/pair/max invariants hold;
  *  - sim_hard_negatives: no returned negative shares the query's
  *    label, ranks contiguous, cosine non-increasing, and the result
  *    equals a brute-force label-filtered top-k replay.
  */
class Round13cSpec extends SparkSpec {

  private def q(name: String) =
    QueryDef.toQueriesMap(Round13cQueries.defs ++ GraphQueries.defs)(name)

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  test("text_readability: count + formula replay") {
    val rows = q("text_readability")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { r =>
      val (id, nw, ns, sy, fl, fk) = (r.getLong(0), r.getInt(1),
        r.getInt(2), r.getInt(3), r.getDouble(4), r.getDouble(5))
      val text = docs(id)
      val expW = text.split(" ", -1).length
      val expS = math.max("[.!?]+".r.findAllIn(text).length, 1)
      val expSy = math.max("[aeiouy]+".r.findAllIn(text.toLowerCase).length, expW)
      assert(nw == expW, s"doc $id words")
      assert(ns == expS, s"doc $id sentences")
      assert(sy == expSy, s"doc $id syllables")
      assert(fl == r6(206.835 - 1.015 * (nw.toDouble / ns) - 84.6 * (sy.toDouble / nw)),
        s"doc $id flesch")
      assert(fk == r6(0.39 * (nw.toDouble / ns) + 11.8 * (sy.toDouble / nw) - 15.59),
        s"doc $id grade")
    }
  }

  test("graph_butterflies: combinatorial replay") {
    val row = q("graph_butterflies")(spark, sf()).collect().head
    val (bf, wedges, nPairs, maxW) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))

    val cs = Tables.load(spark, sf(), "lineitem")
      .join(Tables.load(spark, sf(), "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = cs.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val pairCnt = scala.collection.mutable.Map[(Long, Long), Long]()
    bySupp.values.foreach { custs =>
      for (i <- custs.indices; j <- (i + 1) until custs.length)
        pairCnt((custs(i), custs(j))) =
          pairCnt.getOrElse((custs(i), custs(j)), 0L) + 1
    }
    assert(nPairs == pairCnt.size)
    assert(wedges == pairCnt.values.sum)
    assert(maxW == pairCnt.values.max)
    assert(bf == pairCnt.values.map(w => w * (w - 1) / 2).sum,
      "butterfly count replay")
    assert(bf > 0, "fixture must contain butterflies")
  }

  test("sim_hard_negatives: label constraint + brute-force replay") {
    val rows = q("sim_hard_negatives")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, ql, nl, _) =>
      assert(ql != nl, "negative must carry a different label")
    }
    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val (_, qv, qlabel) = byId(qid)
      val brute = vecs
        .filter(v => v._1 != qid && v._3 != qlabel)
        .map(v => (v._1, r6(cos(qv, v._2))))
        .sortBy { case (id, c) => (-c, id) }
        .take(Round13cQueries.HnK)
      val got = ns.sortBy(_._2).map(t => (t._3, t._6)).toSeq
      assert(got == brute.toSeq, s"query $qid hard-negative set")
    }
  }
}
