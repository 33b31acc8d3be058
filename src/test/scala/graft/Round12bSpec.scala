package graft

import org.apache.spark.sql.functions._


/** Round-12b operator invariants:
  *
  *  - sim_mips_topk really ranks by INNER PRODUCT, not cosine: on a
  *    planted corpus a long, slightly-misaligned vector beats a short,
  *    perfectly-aligned one — the case cosine retrieval gets backwards;
  *  - sim_mips_lsh_topk: every returned score is EXACTLY the brute
  *    form's raw dot for that pair (bucketing affects recall, never
  *    scores), ranks are contiguous, and recall@5 vs brute clears the
  *    measured floor on the near-random fixture;
  *  - text_token_entropy: a perfectly uniform doc scores exactly
  *    ln(n_types) (norm_entropy 1), a one-token doc scores exactly 0,
  *    and Σ over the fixture stays within [0, ln n_types] row by row.
  */
class Round12bSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)

  test("MIPS ranks by inner product: planted long vector beats aligned short one") {
    val dim = 64
    import spark.implicits._
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // query 0 = e0; neighbor 10 = 0.9·e0 (cosine 1.0, ip 0.9);
    // neighbor 11 = 5·e0 + 2·e1 (cosine ≈ 0.93, ip 5.0)
    val d = tmpDir("mips-plant")
    Seq(
      (0L, vec(0 -> 1.0f), 0),
      (10L, vec(0 -> 0.9f), 0),
      (11L, vec(0 -> 5.0f, 1 -> 2.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as float)) AS embedding",
        "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = q("sim_mips_topk")(spark, d).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(rows.head.getLong(2) == 11L && rows.head.getDouble(3) == 5.0,
      s"ip must rank the long vector first: ${rows.toSeq}")
    assert(rows(1).getLong(2) == 10L && rows(1).getDouble(3) == 0.9)
  }

  test("bucketed MIPS: exact scores on returned pairs, measured recall floor") {
    val brute = q("sim_mips_topk")(spark, sf()).collect()
    val lsh = q("sim_mips_lsh_topk")(spark, sf()).collect()
    assert(lsh.nonEmpty)
    // the raw dot for any (query, neighbor) pair is a pure function of
    // the two vectors — recompute brute WITHOUT the top-k cut to check
    // every returned bucketed score bit-for-bit
    val ips = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
    val pairs = ips.selectExpr("vec_id AS query_id", "v AS qv")
      .filter(col("query_id") < queries.AnnQueries.NQueries)
      .crossJoin(ips.selectExpr("vec_id AS neighbor_id", "v AS nv"))
      .selectExpr("query_id", "neighbor_id",
        "round(aggregate(zip_with(qv, nv, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x), 6) AS ip")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(r.getDouble(3) == pairs(key),
        s"bucketed score for $key must equal the exact dot")
    }
    lsh.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks not contiguous")
    }
    // measured 0.32 on the near-random fixture under the round-2
    // hyperplane family, 0.12 under the round-18 decorrelated family
    // (the old correlated planes traded unpriced candidate volume for
    // recall — see AnnQueries.hyperplaneSet); floor at 0.1
    val bSet = brute.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val lSet = lsh.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = bSet.map { case (qid, s) =>
      (lSet.getOrElse(qid, Set.empty) & s).size
    }.sum.toDouble / bSet.values.map(_.size).sum
    assert(recall >= 0.1, s"MIPS-LSH recall@5 $recall below floor")
  }

  test("fertility laws: >= 1 token per word, chars/token consistent, all langs") {
    val rows = q("text_tokenizer_fertility")(spark, sf()).collect()
    val langs = Tables.load(spark, sf(), "documents")
      .select(col("lang")).distinct().count()
    assert(rows.length == langs, "every language gets a fertility row")
    rows.foreach { r =>
      val (w, t, c) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (fert, cpt) = (r.getDouble(4), r.getDouble(5))
      assert(t >= w, s"${r.getString(0)}: a word is at least one token")
      assert(fert >= 1.0 && fert == {
        java.math.BigDecimal.valueOf(t.toDouble / w)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      })
      assert(cpt > 0 && c > 0)
    }
  }

  test("dataset card: metrics match independently recomputed facts") {
    val card = q("pipe_dataset_card")(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card.keySet == Set("n_docs", "n_langs", "n_sources", "total_chars",
      "total_tokens", "vocab_size", "exact_dup_excess", "mean_doc_tokens"))
    val docs = Tables.load(spark, sf(), "documents")
    assert(card("n_docs") == docs.count().toDouble)
    assert(card("n_langs") == docs.select(col("lang")).distinct().count().toDouble)
    assert(card("total_chars") ==
      docs.agg(sum(col("n_chars"))).collect()(0).getLong(0).toDouble)
    assert(card("exact_dup_excess") >= 0)
    assert(card("mean_doc_tokens") > 0 &&
      math.abs(card("mean_doc_tokens") - card("total_tokens") / card("n_docs")) < 1e-4)
  }

  test("survivorship: exactly one canonical per cluster, and it is the longest") {
    val rows = q("pipe_dedup_survivorship")(spark, sf()).collect()
    val nDocs = Tables.load(spark, sf(), "documents").count()
    assert(rows.length == nDocs)
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      val canon = members.filter(_.getBoolean(4))
      assert(canon.length == 1, s"cluster $cid has ${canon.length} canonicals")
      val best = members.map(_.getLong(3)).max
      assert(canon.head.getLong(3) == best,
        s"cluster $cid canonical is not the longest member")
      assert(members.forall(_.getLong(2) == members.length.toLong))
    }
    // at least one multi-doc cluster where min-id and longest DIFFER
    // would prove the rule matters; assert weaker but real: some
    // cluster's canonical is not its min doc_id OR every cluster is
    // length-tied (then tiebreak = min id, still exercised)
    assert(rows.exists(_.getLong(2) > 1L))
  }

  test("lang confusion: doc conservation and per-language pct mass") {
    val rows = q("text_lang_confusion")(spark, sf()).collect()
    val nDocs = Tables.load(spark, sf(), "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.groupBy(_.getString(0)).foreach { case (lang, cells) =>
      val mass = cells.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-4,
        s"declared $lang confusion mass $mass != 1")
    }
  }

  test("ngram novelty: unique docs score 1, clones score 0") {
    import spark.implicits._
    val d = tmpDir("novelty-plant")
    val unique = (0 until 12).map(i => s"solo$i").mkString(" ")
    val clone = (0 until 12).map(i => s"twin$i").mkString(" ")
    Seq((1L, unique), (2L, clone), (3L, clone))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'xx' AS lang", "'gen' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = q("text_ngram_novelty")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0))

    q("text_ngram_novelty")(spark, sf()).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0)
    }
  }

  test("quality ensemble: score decomposes exactly from its three components") {
    val rows = q("pipe_quality_ensemble")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = if (r.getBoolean(1)) 1.0 else 0.0
      val (e, dup, score, keep) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      // exact-decimal arithmetic: reconstruct via BigDecimal at scale 6
      val expect = (BigDecimal(g).setScale(6) * 4 +
        BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 3 +
        (BigDecimal(1).setScale(6) -
          BigDecimal(dup).setScale(6, BigDecimal.RoundingMode.HALF_UP)) * 3)
        .toDouble
      assert(score == expect, s"doc ${r.getLong(0)}: $score != $expect")
      assert(keep == (score >= 6.0))
      assert(score >= 0 && score <= 10.0 + 1e-9)
    }
    // both verdicts occur on the fixture
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("k-anonymity: cell law and doc conservation") {
    val rows = q("pipe_k_anonymity")(spark, sf()).collect()
    val nDocs = Tables.load(spark, sf(), "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(2) >= 5))
      assert(r.getBoolean(4) == !r.getBoolean(3))
    }
  }

  test("PII stats: every synthesized doc carries all three PII classes") {
    val rows = q("pipe_pii_stats")(spark, sf()).collect()
    val nDocs = Tables.load(spark, sf(), "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    rows.foreach { r =>
      val (n, ne, ni, np, withPii) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ne >= n && ni >= n && np >= n,
        s"${r.getString(0)}: synthesized contact line guarantees >= 1 " +
          s"match per class per doc ($ne/$ni/$np over $n docs)")
      assert(withPii == n, "every doc must be flagged")
    }
  }

  test("token entropy: uniform and degenerate docs score exactly") {
    import spark.implicits._
    val d = tmpDir("entropy-plant")
    Seq(
      (1L, "a b c d"),        // uniform over 4 types: H = ln 4
      (2L, "x x x x x"),      // one type: H = 0, norm 0
      (3L, "a a b b")         // uniform over 2: H = ln 2, norm 1
    ).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'xx' AS lang", "'gen' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val rows = q("text_token_entropy")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(rows(1L) == ((4L, 4L, r6(math.log(4)), 1.0)))
    assert(rows(2L) == ((5L, 1L, 0.0, 0.0)))
    assert(rows(3L) == ((4L, 2L, r6(math.log(2)), 1.0)))

    val fixture = q("text_token_entropy")(spark, sf()).collect()
    fixture.foreach { r =>
      val (types, h, nh) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(h >= 0 && h <= math.log(types.toDouble) + 1e-6,
        s"doc ${r.getLong(0)}: H $h outside [0, ln $types]")
      assert(nh >= 0 && nh <= 1.0 + 1e-9)
    }
  }
}
