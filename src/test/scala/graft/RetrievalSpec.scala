package graft

import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, RetrievalQueries}

/** Invariant pins for the round-10 retrieval / link-graph operators
  * (RetrievalQueries.scala): properties the oracle hash alone would not
  * explain if they broke — rank-mass conservation, ranking monotonicity,
  * and the broadcast/pruned plan shapes the 100 TB story relies on.
  */
class RetrievalSpec extends SparkSpec {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf()).collect()

  test("graph_pagerank conserves rank mass at 1 (symmetric graph, no dangling loss)") {
    val rows = run("graph_pagerank")
    val mass = rows.map(_.getAs[Double]("pr")).sum
    // per-node rounding is 1e-9 and per-iteration contribution rounding
    // 1e-12; three iterations over <=20k nodes stay well inside 1e-4
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass $mass drifted from 1")
    assert(rows.forall(_.getAs[Double]("pr") > 0.0), "every node keeps positive rank")
  }

  test("graph_pagerank ranks the high-degree side on top (suppliers beat customers)") {
    val rows = run("graph_pagerank")
    // suppliers are ~100x better connected than customers in the fixture
    // graph; a rank that doesn't surface them is not measuring centrality
    val top = rows.take(5).map(_.getAs[String]("node"))
    assert(top.forall(_.startsWith("s")), s"top-5 should be suppliers: ${top.mkString(",")}")
  }

  test("graph_trustrank conserves trust mass and floors every seed at the teleport base") {
    val rows = run("graph_trustrank")
    val mass = rows.map(_.getAs[Double]("trust")).sum
    // symmetric graph: all mass flows every round, so total stays at
    // 0.15 + 0.85 = 1 minus the floor-division leak
    assert(math.abs(mass - 1.0) < 1e-4, s"trust mass $mass drifted from 1")
    val seeds = rows.filter(_.getAs[Boolean]("is_seed"))
    assert(seeds.nonEmpty, "seed suppliers must appear in the result")
    val base = 0.15 / seeds.length
    seeds.foreach { r =>
      assert(r.getAs[Double]("trust") >= base - 1e-9,
        s"seed ${r.getAs[String]("node")} below teleport base $base")
    }
    // trust only reaches nodes on the seed frontier; nothing is negative
    assert(rows.forall(_.getAs[Double]("trust") > 0.0))
  }

  test("text_pmi_colloc pairs are normalized, floored, and PMI-ordered") {
    val rows = run("text_pmi_colloc")
    assert(rows.nonEmpty && rows.length <= RetrievalQueries.PmiTopK)
    rows.foreach { r =>
      assert(r.getAs[String]("w1") <= r.getAs[String]("w2"),
        "pairs must be least/greatest-normalized")
      assert(r.getAs[Long]("cab") >= RetrievalQueries.PmiMinCount)
    }
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
      "result must be PMI-descending")
  }

  test("text_bm25_topk ranks are dense, per-query, score-monotone") {
    val rows = run("text_bm25_topk")
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == RetrievalQueries.BmQueries.map(_._1).toSet,
      "every declared query returns hits on the fixture")
    byQ.foreach { case (q, hits) =>
      val ranks = hits.map(_.getAs[Int]("rnk")).toSeq
      assert(ranks == (1 to hits.length), s"query $q ranks not dense: $ranks")
      val scores = hits.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores not non-increasing: ${scores.mkString(",")}")
      assert(hits.length <= RetrievalQueries.TopK)
    }
  }

  test("text_bm25_topk returned docs actually contain a query term") {
    val hits = run("text_bm25_topk").map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet
    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1).toSet).toMap
    val terms = RetrievalQueries.BmQueries.groupBy(_._1)
      .map { case (q, ts) => q -> ts.map(_._2).toSet }
    hits.foreach { case (q, d) =>
      assert(docs(d).intersect(terms(q)).nonEmpty,
        s"doc $d returned for query $q but contains none of ${terms(q)}")
    }
  }

  test("text_bm25_topk broadcasts the query-term table (corpus side never SMJs)") {
    val df = SparkEntry.queries("text_bm25_topk")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "query-term/df/stats joins must all broadcast:\n" + p.take(3000))
  }

  test("graph_hits partitions cleanly into normalized hub and authority sides") {
    val rows = run("graph_hits")
    val (hubs, auths) = rows.partition(_.getAs[String]("kind") == "hub")
    // bipartite: customers (even ids → 'c') are hubs, suppliers are auths
    assert(hubs.nonEmpty && hubs.forall(_.getAs[String]("node").startsWith("c")))
    assert(auths.nonEmpty && auths.forall(_.getAs[String]("node").startsWith("s")))
    // l1 normalization: each side sums to 1 within the floor-div leak
    val hubMass = hubs.map(_.getAs[Double]("score")).sum
    val authMass = auths.map(_.getAs[Double]("score")).sum
    assert(math.abs(hubMass - 1.0) < 1e-4, s"hub mass $hubMass")
    assert(math.abs(authMass - 1.0) < 1e-4, s"auth mass $authMass")
  }

  test("text_lm_backoff and text_pmi_colloc keep every count-table join broadcast") {
    // SURVEY claims the count tables are vocab-bounded broadcasts; a
    // silent fallback to SortMergeJoin would shuffle the corpus per table
    Seq("text_lm_backoff", "text_pmi_colloc").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf())
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name: " + p.take(2000))
      assert(!p.contains("SortMergeJoin"),
        s"$name count-table joins must broadcast:\n" + p.take(3000))
    }
  }

  test("co-partitioned graph twins are bit-identical to their broadcast forms") {
    // exact BIGINT picounit arithmetic ⇒ the join strategy cannot change
    // a single bit; anything else means the twin is a different operator
    Seq("graph_pagerank", "graph_trustrank", "graph_hits").foreach { name =>
      val b = run(name).toSeq
      val p = run(s"${name}_partitioned").toSeq
      assert(b == p, s"$name partitioned twin diverged from broadcast form")
    }
  }

  test("graph_pagerank_partitioned shuffles ranks, broadcasts nothing node-sized") {
    // the declared row checkpoints every round (its final plan is a
    // projection over blocks), so the join strategy is pinned on a
    // single iteration's plan
    val df = GraphQueries.pagerankOneStep(spark, sf(), bcast = false)
    df.collect()
    // outer plan only: the persisted edge layout's EMBEDDED build plan
    // contains broadcast joins + parquet scans that are not this step's
    val p = outerPlan(df)
    // the rank join must be a shuffled hash join into the edges' layout...
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    // ...and no equi-join may broadcast (the only broadcasts left are the
    // 1-row scalar crossJoins, which plan as BroadcastNestedLoopJoin)
    assert(!p.contains("BroadcastHashJoin"),
      "partitioned twin must not broadcast the rank table:\n" + p.take(3000))
    // the persisted edge layout is consumed as a cached scan, facts are
    // never rescanned by the step itself...
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(!p.contains(".parquet"),
      "iterations must not rescan the fact tables:\n" + p.take(4000))
    // ...and consumed DIRECTLY: an Exchange above the edge cache means
    // the edge side re-shuffles every round (the round-15 Layouts fix —
    // a localCheckpoint under AQE forgot the HashPartitioning)
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(src") && l.contains("ENSURE_REQUIREMENTS")),
      "edge side re-exchanged into the rank join:\n" + p.take(3000))
    // and the declared row's final plan reads blocks, not fact scans
    val full = SparkEntry.queries("graph_pagerank_partitioned")(spark, sf())
    full.collect()
    val fp = full.queryExecution.executedPlan.toString
    assert(fp.contains("ExistingRDD") && !fp.contains("lineitem.parquet"), fp.take(3000))
  }

  test("pagerankUntil at 3 capped rounds equals the unrolled graph_pagerank") {
    val (df, iters, deltas) = GraphQueries
      .pagerankUntil(spark, sf(), epsPico = 0L, maxIter = 3)
    assert(iters == 3 && deltas.length == 3)
    assert(df.collect().toSeq == run("graph_pagerank").toSeq,
      "convergence loop at 3 rounds must reproduce the unrolled form")
  }

  test("pagerankUntil converges with monotone rank deltas and flat loop cost") {
    // deltas contract by exactly the damping factor per round (measured:
    // 0.85× each step), so eps = 1e8 picounits = 1e-4 rank — the same
    // tolerance the mass-conservation pins use — lands around round 42
    val (df, iters, deltas) = GraphQueries
      .pagerankUntil(spark, sf(), epsPico = 100000000L, maxIter = 60)
    assert(iters < 60, s"did not converge: deltas=${deltas.mkString(",")}")
    assert(deltas.last <= 100000000L)
    // power iteration with damping 0.85: per-round max delta contracts
    assert(deltas.zip(deltas.tail).forall { case (a, b) => b <= a },
      s"rank deltas not monotone: ${deltas.mkString(",")}")
    // the returned plan reads the LAST round's checkpoint only — plan
    // size (and hence analysis cost) must not grow with iteration count
    val planLines = df.queryExecution.executedPlan.toString.linesIterator.size
    assert(planLines < 60,
      s"final plan grew with iterations ($planLines lines) — lineage not truncated")
    val mass = df.collect().map(_.getAs[Double]("pr")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"converged rank mass $mass drifted")
  }

  test("bm25TopK holds its invariants on a synthetic 10-query set") {
    // the parameterized query-set path the |q| scaling probe drives:
    // same dense-rank / top-k / score-monotone contract as the fixed row
    // (nq=10: the sf0.001 fixture vocabulary is only 31 tokens wide)
    val q = RetrievalQueries.syntheticBmQueries(spark, sf(), 10)
    assert(q.select("query_id").distinct().count() == 10,
      "synthetic set must cover every query id")
    val rows = RetrievalQueries.bm25TopK(spark, sf(), q).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, hits) =>
      val ranks = hits.map(_.getAs[Int]("rnk")).toSeq.sorted
      assert(ranks == (1 to hits.length), s"query $qid ranks not dense")
      assert(hits.length <= RetrievalQueries.TopK)
      val scores = hits.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $qid scores not non-increasing")
    }
  }

  test("graph_pagerank_salted is bit-identical and spreads hot-degree edge groups") {
    assert(run("graph_pagerank_salted").toSeq == run("graph_pagerank").toSeq,
      "salted form must replay identical picounit ranks")
    // the fixture's suppliers are ~100x better connected than customers:
    // measure the largest per-key edge group with and without the salt —
    // task input in a shuffled join is proportional to key-group size
    val orders = Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val maxPlain = sym.groupBy(col("src")).count()
      .agg(max(col("count"))).collect().head.getLong(0)
    val maxSalted = sym
      .groupBy(col("src"), pmod(hash(col("dst")), lit(GraphQueries.RankSalt)))
      .count().agg(max(col("count"))).collect().head.getLong(0)
    // a perfectly uniform salt gives maxPlain/RankSalt; allow slack for
    // hash imbalance but demand a real spread of the hot key
    assert(maxSalted <= maxPlain / 2,
      s"salt must spread the hot group: plain=$maxPlain salted=$maxSalted")
    // and the salted iteration still shuffle-hash-joins (never broadcasts)
    val df = SparkEntry.queries("graph_pagerank_salted")(spark, sf())
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
    assert(fp.contains("ExistingRDD") && !fp.contains("lineitem.parquet"),
      fp.take(3000))
  }

  test("trustrankUntil at 3 capped rounds equals the unrolled graph_trustrank") {
    val (df, iters, deltas) = GraphQueries
      .trustrankUntil(spark, sf(), epsPico = 0L, maxIter = 3)
    assert(iters == 3 && deltas.length == 3)
    assert(df.collect().toSeq == run("graph_trustrank").toSeq,
      "trust convergence loop at 3 rounds must reproduce the unrolled form")
    // and it converges on the fixture with non-increasing deltas
    val (_, it2, d2) = GraphQueries
      .trustrankUntil(spark, sf(), epsPico = 100000000L, maxIter = 60)
    assert(it2 < 60, s"did not converge: ${d2.mkString(",")}")
    assert(d2.zip(d2.tail).forall { case (a, b) => b <= a },
      s"trust deltas not monotone: ${d2.mkString(",")}")
  }

  test("text_lm_backoff_sharded scores identically through w1-shard shuffle joins") {
    // the Brants serving-layout twin: same scores, no broadcast of the
    // bigram table — both count-table lookups are shuffle-hash joins
    // into the corpus's one w1 repartition
    val df = SparkEntry.queries("text_lm_backoff_sharded")(spark, sf())
    val rows = df.collect().toSeq
    assert(rows == run("text_lm_backoff").toSeq,
      "sharded layout must replay identical Stupid-Backoff scores")
    val p = df.queryExecution.executedPlan.toString
    val shj = "ShuffledHashJoin".r.findAllIn(p).size
    assert(shj >= 2,
      s"bigram + context-count joins must shuffle-hash into the w1 shards ($shj found):\n" +
        p.take(3000))
  }

  test("graph_pagerank materializes the edge build once (no per-iteration rescan)") {
    val df = SparkEntry.queries("graph_pagerank")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the edge list is localCheckpoint'ed: iterations must read the
    // materialized blocks (ExistingRDD), never re-run the
    // orders x lineitem x distinct build inside broadcast subplans —
    // the x10 probe measured the un-checkpointed form at 51 s vs 7 s
    assert(p.contains("ExistingRDD"), p.take(3000))
    assert(!p.contains("lineitem.parquet"),
      "iterations must not rescan the fact tables:\n" + p.take(4000))
  }
}
