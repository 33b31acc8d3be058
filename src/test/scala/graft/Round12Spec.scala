package graft

import org.apache.spark.sql.functions._

import graft.queries.Round12Queries

/** Round-12 operator invariants:
  *
  *  - pipe_decontaminate_bloom: bit-identical to pipe_decontaminate
  *    (the zero-false-negative guarantee made operational), the bloom
  *    survivor set CONTAINS every exact-hit shingle, and the prefilter
  *    genuinely prunes (survivors ≪ corpus shingles);
  *  - pipe_ccnet_buckets_cutoff: per-language score ordering head ≤
  *    middle ≤ tail, every bucket populated, threshold semantics
  *    (score ≤ c1 ⇒ head);
  *  - pipe_epoch_schedule: on a planted skewed corpus the cap
  *    genuinely fires (epochs == MaxEpochs for the starved sources),
  *    the budget is conserved through redistribution, and no source
  *    exceeds the cap;
  *  - text_length_outliers: a planted extreme doc is flagged, the
  *    bulk is not, and the modified-z law holds row by row;
  *  - st_soft_dedup_running: ranks are exactly 1..|cluster| per
  *    cluster and the LAST arrival's weight equals pipe_soft_dedup's
  *    batch 1/|cluster|.
  */
class Round12Spec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)

  private def writeDocs(prefix: String, rows: Seq[(Long, String, String, String, Long)]): String = {
    val d = tmpDir(prefix)
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("bloom decontamination is bit-identical to the exact form and actually prunes") {
    val exact = SparkEntry.queries("pipe_decontaminate")(spark, sf()).collect().toSeq
    val bloom = q("pipe_decontaminate_bloom")(spark, sf()).collect().toSeq
    assert(bloom == exact, "bloom prefilter must not change the answer")

    // zero false negatives: every exact-hit (doc, shingle) pair passes
    // the bitmap test; and the prefilter prunes the corpus shingle space
    val (survivors, evalSet, sh) = Round12Queries.bloomParts(spark, sf())
    val survivorCount = survivors.count()
    val exactHits =
      try survivors.join(broadcast(evalSet), "shingle").count()
      finally sh.unpersist(false)
    assert(exactHits > 0, "fixture must contain genuine eval overlap")
    val corpusShingles = Tables.load(spark, sf(), "documents")
      .select(split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(explode(expr(
        "array_distinct(transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))")).as("s"))
      .count()
    assert(survivorCount < corpusShingles / 2,
      s"bloom should prune most of the $corpusShingles corpus shingles, " +
        s"kept $survivorCount")
  }

  test("ccnet cutoff buckets: per-language ordering and threshold law") {
    val rows = q("pipe_ccnet_buckets_cutoff")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val by = docs.groupBy(_.getString(3)).view
        .mapValues(_.map(_.getDouble(2))).toMap
      assert(by.keySet == Set("head", "middle", "tail"),
        s"$lang missing buckets: ${by.keySet}")
      assert(by("head").max <= by("middle").min,
        s"$lang: head/middle overlap")
      assert(by("middle").max <= by("tail").min,
        s"$lang: middle/tail overlap")
      // roughly equal-count (exact percentile ⇒ each tercile within
      // the tie slack on a 6-dp-rounded score distribution)
      val n = docs.length
      by.values.foreach(b => assert(b.size >= n / 6,
        s"$lang bucket sizes ${by.view.mapValues(_.size).toMap} too skewed for n=$n"))
    }
  }

  test("epoch schedule: planted starvation trips the cap and conserves budget") {
    // one data-rich source + three starved ones: temperature-α=0.5
    // shares give each starved source far more than 4 epochs of its
    // tiny corpus, so the cap MUST fire and redistribute to 'big'
    val rows =
      (0 until 100).map(i => (i.toLong, s"big doc $i", "xx", "big", 10000L)) ++
        Seq("s1", "s2", "s3").zipWithIndex.flatMap { case (src, j) =>
          (0 until 2).map(i => (1000L + j * 10 + i, s"$src $i", "xx", src, 50L))
        }
    val dir = writeDocs("epoch-adv", rows)
    val out = q("pipe_epoch_schedule")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("big", "s1", "s2", "s3"))
    Seq("s1", "s2", "s3").foreach { s =>
      assert(out(s).getBoolean(4), s"$s must be capped")
      assert(out(s).getDouble(6) == Round12Queries.MaxEpochs.toDouble,
        s"$s epochs ${out(s).getDouble(6)} != cap")
    }
    assert(!out("big").getBoolean(4), "big must absorb the surplus uncapped")
    assert(out("big").getDouble(6) < Round12Queries.MaxEpochs,
      "redistribution must not push big over the cap (one round exact)")
    val budget = out.values.map(_.getLong(1)).sum
    val finalSum = out.values.map(_.getDouble(5)).sum
    assert(math.abs(finalSum - budget) < 1.0,
      s"budget $budget not conserved: Σ final_toks = $finalSum")
  }

  test("MAD outliers: planted extreme doc flagged, bulk clean, z law exact") {
    val rows = (0 until 60).map(i =>
        (i.toLong, "bulk", "aa", "gen", 95L + (i % 11))) :+
      (999L, "whale", "aa", "gen", 100000L)
    val dir = writeDocs("mad-adv", rows)
    val out = q("text_length_outliers")(spark, dir).collect()
    val flagged = out.filter(_.getBoolean(6)).map(_.getLong(0)).toSet
    assert(flagged == Set(999L), s"flagged $flagged, expected only the whale")
    out.foreach { r =>
      val (n, med, mad, z) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      val expect = BigDecimal(0.6745 * (n - med) / math.max(mad, 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(z - expect) < 1e-9, s"doc ${r.getLong(0)}: $z vs $expect")
      assert(r.getBoolean(6) == (math.abs(z) > Round12Queries.MadZ))
    }
  }

  test("RRF fusion: agreement law, score bounds, ranking contiguity") {
    val fused = q("sim_rrf_fusion")(spark, sf()).collect()
    assert(fused.nonEmpty)
    val lsh = SparkEntry.queries("sim_lsh_topk")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val ivf = SparkEntry.queries("sim_ivf_topk")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    fused.foreach { r =>
      val s = r.getDouble(3)
      assert(s > 0.0 && s <= 2.0 / 61 + 1e-12, s"rrf $s out of (0, 2/61]")
    }
    // a neighbor ranked 1 by BOTH systems must be ranked 1 fused
    // (2/61 is the unique maximum of the score function)
    fused.map(_.getLong(0)).distinct.foreach { qid =>
      val both1 = lsh.collectFirst {
        case ((q2, n), 1) if q2 == qid && ivf.get((q2, n)).contains(1) => n
      }
      both1.foreach { n =>
        val top = fused.filter(r => r.getLong(0) == qid).minBy(_.getInt(1))
        assert(top.getLong(2) == n && top.getInt(1) == 1,
          s"query $qid: consensus top-1 $n not fused rank 1")
      }
    }
    // per-query ranks are contiguous 1..k
    fused.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks not contiguous")
    }
  }

  test("corpus drift: KL/JS laws on the fixture, zero law on identical halves") {
    val rows = q("pipe_corpus_drift")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kab, kba, js) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(kab >= 0 && kba >= 0, s"${r.getString(0)}: negative KL")
      assert(js >= 0 && js <= math.log(2) + 1e-9,
        s"${r.getString(0)}: JS $js outside [0, ln 2]")
    }
    // identical snapshot halves (every text at ids 2k and 2k+1) ⇒ the
    // two distributions are EQUAL ⇒ every divergence is exactly 0
    val twin = (0 until 40).flatMap { k =>
      val t = (0 until 10).map(j => s"tw${k % 7}w$j").mkString(" ")
      Seq((2L * k, t, "aa", "gen", t.length.toLong),
        (2L * k + 1, t, "aa", "gen", t.length.toLong))
    }
    val dir = writeDocs("drift-twin", twin)
    q("pipe_corpus_drift")(spark, dir).collect().foreach { r =>
      assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0 && r.getDouble(6) == 0.0,
        s"identical halves must diverge by exactly 0: $r")
    }
  }

  test("cluster stats: doc conservation and the singleton identity") {
    val rows = q("dedup_cluster_stats")(spark, sf()).collect()
    val nDocs = Tables.load(spark, sf(), "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "Σ n_docs != corpus size")
    rows.foreach { r =>
      val (size, nc, nd, excess) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd == nc * size, s"size $size: $nd docs != $nc clusters × $size")
      assert(excess == nd - nc)
    }
    val singles = rows.find(_.getLong(0) == 1L)
    assert(singles.exists(r => r.getLong(3) == 0L),
      "singleton row must have zero hard-dedup excess")
    assert(rows.exists(_.getLong(0) > 1L), "fixture needs real clusters")
  }

  test("plan pins: cutoff form is window-free, outlier/rate windows run post-rollup") {
    // pipe_ccnet_buckets_cutoff exists to REMOVE the per-language rank
    // window — its plan must contain no Window operator at all
    val cutoff = q("pipe_ccnet_buckets_cutoff")(spark, sf())
    cutoff.collect()
    val cp = cutoff.queryExecution.executedPlan.toString
    assert(!cp.contains("Window"),
      "broadcast-cutoff CCNet must not contain a rank window:\n" + cp.take(2000))

    // text_length_outliers: med/mad arrive via broadcast joins; the only
    // sort is the output ORDER BY
    val out = q("text_length_outliers")(spark, sf())
    out.collect()
    val op = out.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(op).size >= 2,
      "median + MAD tables must broadcast:\n" + op.take(2000))
    assert(!op.contains("Window"), op.take(2000))

    // ev_rate_anomaly: the trailing window must run AFTER the (type,
    // hour) rollup — i.e. a HashAggregate somewhere BELOW the Window in
    // the plan tree (the corpus never reaches the window)
    val rate = q("ev_rate_anomaly")(spark, sf())
    rate.collect()
    val rp = rate.queryExecution.executedPlan.toString
    val wIdx = rp.indexOf("Window")
    val aggBelow = rp.indexOf("HashAggregate", wIdx)
    assert(wIdx >= 0 && aggBelow > wIdx,
      "trailing window must consume the aggregated series, not the corpus:\n" +
        rp.take(3000))
  }

  test("running soft-dedup ranks are 1..|cluster| and converge to the batch weight") {
    val running = q("st_soft_dedup_running")(spark, sf()).collect()
    val batch = SparkEntry.queries("pipe_soft_dedup")(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(running.length == batch.size)
    running.groupBy(_.getLong(1)).foreach { case (root, members) =>
      val ks = members.map(_.getLong(2)).sorted
      assert(ks.toSeq == (1L to members.length.toLong),
        s"cluster $root ranks $ks not 1..${members.length}")
      assert(members.map(_.getLong(0)).min == root,
        s"root $root is not the first arrival")
      val last = members.maxBy(_.getLong(0))
      assert(last.getDouble(3) == batch(last.getLong(0))._3,
        s"cluster $root: final running weight != batch 1/|cluster|")
    }
    assert(running.exists(_.getLong(2) > 1L), "fixture needs real clusters")
  }
}
