package graft

/** Round-17b operator invariants:
  *
  *  - sim_index_recall replays exactly from the declared rows it
  *    scores: truth = the brute-force row cut at IvfTopK, index top-k =
  *    the declared sim_ivf_topk / sim_ivf_topk_auto outputs; hits must
  *    equal the set intersection and recall = hits / IvfTopK, with a
  *    full (index × query) scaffold even at zero hits;
  *  - mm_resize_plan's geometry replays row-for-row from its own src
  *    dims (major axis pinned to 224, minor floored from the same
  *    ratio, min 1px, centered pads), and the src dims agree with the
  *    oracle-green mm_binary_meta decode (width clamped to >= 1).
  */
class Round17bSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf())

  test("sim_index_recall: hits/recall replay from the declared truth and index rows") {
    val k = queries.AnnQueries.IvfTopK
    // truth: the brute-force row (TopK=10, same tiebreak) cut at k
    val truth = run("sim_brute_topk").collect()
      .filter(_.getAs[Int]("rank") <= k)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    def topk(name: String): Map[Long, Set[Long]] =
      run(name).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byIdx = Map(
      "ivf_fixed" -> topk("sim_ivf_topk"),
      "ivf_auto" -> topk("sim_ivf_topk_auto"),
      "lsh" -> topk("sim_lsh_topk"),
      "lsh_auto" -> topk("sim_lsh_topk_auto"))
    // the in-plan denominator is the per-query truth count — equal to
    // k on every corpus with > k non-query vectors (the fixtures), and
    // the honest divisor on one without
    val truthN = truth.groupBy(_._1).view.mapValues(_.size).toMap

    val got = run("sim_index_recall").collect()
    assert(got.length == 4 * queries.AnnQueries.NQueries,
      "scaffold must cover every (index, query) pair")
    got.foreach { r =>
      val idx = r.getAs[String]("idx")
      val qid = r.getAs[Long]("query_id")
      val expected = byIdx(idx).getOrElse(qid, Set.empty)
        .count(n => truth((qid, n)))
      assert(r.getAs[Long]("hits") == expected.toLong,
        s"$idx q$qid: hits ${r.getAs[Long]("hits")} != replayed $expected")
      assert(truthN(qid) == k, "fixture corpus must fill the truth list")
      assert(r.getAs[Double]("recall") == expected.toDouble / truthN(qid),
        s"$idx q$qid: recall mismatch")
    }
    // the row must measure something: the fixture indexes find at
    // least one true neighbor overall (recall > 0 somewhere)
    assert(got.map(_.getAs[Long]("hits")).sum > 0, "all-zero recall")
  }

  test("mm_resize_plan: geometry replays row-for-row; src dims match mm_binary_meta") {
    val rows = run("mm_resize_plan").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getAs[Int]("src_w"), r.getAs[Int]("src_h"))
      val (ow, oh) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      val (expW, expH) =
        if (w >= h) (224, math.max(1, math.floor(h * 224.0 / w).toInt))
        else (math.max(1, math.floor(w * 224.0 / h).toInt), 224)
      assert((ow, oh) == (expW, expH), s"doc ${r.getAs[Long]("doc_id")}: " +
        s"($ow,$oh) != replayed ($expW,$expH) from src ($w,$h)")
      assert(ow >= 1 && ow <= 224 && oh >= 1 && oh <= 224)
      assert(r.getAs[Int]("pad_x") == (224 - ow) / 2 &&
        r.getAs[Int]("pad_y") == (224 - oh) / 2)
    }
    // src dims = the mm_binary_meta decode with width clamped to >= 1
    val meta = run("mm_binary_meta").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (math.max(1, r.getAs[Int]("width")), r.getAs[Int]("height"))).toMap
    rows.foreach { r =>
      assert(meta(r.getAs[Long]("doc_id")) ==
        ((r.getAs[Int]("src_w"), r.getAs[Int]("src_h"))),
        s"doc ${r.getAs[Long]("doc_id")}: src dims diverge from decode")
    }
  }

  test("mm_resize_plan: portrait and zero-width-clamp branches on a planted micro-corpus") {
    // The fixture draw is all-landscape (every doc's n%640 >= n/640%480+1
    // at sf0.001/0.01), so the portrait arm and the w=0 clamp would be
    // fixture-dead without planted byte lengths: 640 (w=0 -> clamp 1,
    // h=2, portrait), 3202 (w=2, h=6, portrait), 1000 (w=360, h=2,
    // landscape with a floored minor axis), 1283 (w=3, h=3, exact
    // square -> 224x224, zero pads).
    import spark.implicits._
    val dir = tmpDir("resize_micro")
    Seq(640, 3202, 1000, 1283).zipWithIndex
      .map { case (n, i) =>
        (i.toLong, "a" * n, "en", "planted", n.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_resize_plan")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("src_w"), r.getAs[Int]("src_h"),
          r.getAs[Int]("out_w"), r.getAs[Int]("out_h"),
          r.getAs[Int]("pad_x"), r.getAs[Int]("pad_y"))).toMap
    assert(got(0L) == ((1, 2, 112, 224, 56, 0)), s"w=0 clamp: ${got(0L)}")
    assert(got(1L) == ((2, 6, 74, 224, 75, 0)), s"portrait: ${got(1L)}")
    assert(got(2L) == ((360, 2, 224, 1, 0, 111)), s"landscape floor: ${got(2L)}")
    assert(got(3L) == ((3, 3, 224, 224, 0, 0)), s"square: ${got(3L)}")
  }

  test("pipe_t_closeness: BigInt TVD replay, [0,1] bound, identical-distribution zero law") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // ground counts straight off the fixture
    val cells = graft.Tables.load(spark, sf(), "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("c")).toMap
    val langs = cells.keySet.map(_._1)
    val sources = cells.keySet.map(_._2)
    val nC = langs.map(l => l -> cells.collect {
      case ((`l`, _), c) => c }.sum).toMap
    val g = sources.map(sr => sr -> cells.collect {
      case ((_, `sr`), c) => c }.sum).toMap
    val nG = g.values.sum

    val got = run("pipe_t_closeness").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("tvd"),
          r.getAs[Boolean]("t_close"))).toMap
    assert(got.keySet == langs)
    langs.foreach { l =>
      val num = sources.toSeq.map { sr =>
        (BigInt(cells.getOrElse((l, sr), 0L)) * nG -
          BigInt(g(sr)) * nC(l)).abs
      }.sum
      val tvd = BigDecimal(
        num.toDouble / (2.0 * nC(l).toDouble * nG.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nDocs, gotTvd, tClose) = got(l)
      assert(nDocs == nC(l), s"$l: n_docs")
      assert(math.abs(gotTvd - tvd) < 1e-9, s"$l: tvd $gotTvd != replayed $tvd")
      assert(gotTvd >= 0.0 && gotTvd <= 1.0, s"$l: tvd out of [0,1]")
      assert(tClose == (gotTvd <= queries.Round17bQueries.TCloseness))
    }
    // zero law: a corpus where every QI cell matches the global mix
    import spark.implicits._
    val dir = tmpDir("tclose_zero")
    (for { l <- Seq("aa", "bb"); sr <- Seq("s1", "s2", "s2") } yield
      (l, sr))
      .zipWithIndex
      .map { case ((l, sr), i) => (i.toLong, "x", l, sr, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("pipe_t_closeness")(spark, dir).collect()
      .foreach(r => assert(r.getAs[Double]("tvd") == 0.0,
        s"identical per-cell mix must give tvd 0, got $r"))
  }

  test("dedup_embedding_ann_auto_guarded: bit-identical to the unguarded row") {
    val base = run("dedup_embedding_ann_auto").collect().toSeq
    val guarded = run("dedup_embedding_ann_auto_guarded").collect().toSeq
    assert(base.nonEmpty, "fixture must produce ANN pairs")
    assert(guarded == base, "grid guard changed the pair set")
  }

  test("gridJoinPairs: pair multiset preserved, hot bucket genuinely split, per-cell load bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, countDistinct, max => smax}
    // planted skew: bucket 1 holds 40 homes (hot at hotLoad=8),
    // buckets 2..5 hold 2 each (cold); probes target every bucket
    val homes = ((1L to 40L).map(i => (1L, i)) ++
      (2L to 5L).flatMap(b => Seq((b, 100 * b), (b, 100 * b + 1))))
      .toDF("s", "vec_b")
    val probes = (1L to 5L).flatMap(b => Seq((b, -b), (b, -b - 10)))
      .toDF("s", "vec_a")
    val expected = (for {
      p <- Seq((1L, 40), (2L, 2), (3L, 2), (4L, 2), (5L, 2))
      pa <- Seq(-p._1, -p._1 - 10)
      hb <- if (p._1 == 1L) (1L to 40L)
            else Seq(100 * p._1, 100 * p._1 + 1)
    } yield (p._1, pa, hb)).sorted
    val grid = 4
    val joined = graft.operators.Salting
      .gridJoinPairs(probes, homes, "s", "vec_b", grid, hotLoad = 8L)
    val got = joined.select(col("s"), col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == expected, "pair multiset not preserved")
    // engagement: the hot bucket's homes spread over > 1 salt cell and
    // no cell exceeds a fair share of the split
    val hotHomes = homes.filter(col("s") === 1L)
      .withColumn("salt", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(col("vec_b")), org.apache.spark.sql.functions.lit(grid.toLong)))
    val cells = hotHomes.groupBy(col("salt"))
      .agg(org.apache.spark.sql.functions.count(col("vec_b")).as("c"))
    assert(cells.count() > 1, "hot bucket did not split")
    assert(cells.agg(smax(col("c"))).head.getLong(0) <= 40, "sanity")
    assert(hotHomes.agg(countDistinct(col("salt"))).head.getLong(0) >= 2)
  }

  test("gridJoinPairs DeriveHotLoad: in-plan tail threshold on planted skew, pair set preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit, pmod, xxhash64}
    // 1500 cold buckets (load 1) + one 40-home hot bucket: with >1000
    // distinct buckets the p999 of the load rollup sits at the cold
    // load (1), so the planted tail — and only it — clears the strict
    // `load > thr` filter. Below ~1000 buckets approx_percentile(0.999)
    // returns the MAX load and the derived guard no-ops by design (the
    // documented DeriveHotLoad small-cardinality note) — which is why
    // this arm both plants past that cardinality AND asserts engagement
    // below: a never-routing guard would pass the set-equality check
    // silently (round-19 advice).
    val homes = ((1L to 40L).map(i => (0L, i)) ++
      (1L to 1500L).map(b => (b, 1000L + b))).toDF("s", "vec_b")
    val probes = (0L to 1500L).map(b => (b, -b - 1)).toDF("s", "vec_a")
    val plain = probes.join(homes, "s")
      .select(col("s"), col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val gridded = graft.operators.Salting
      .gridJoinPairs(probes, homes, "s", "vec_b", 4,
        graft.operators.Salting.DeriveHotLoad)
      .select(col("s"), col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(gridded == plain, "derived-threshold guard changed the pair set")
    assert(plain.count(_._1 == 0L) == 40, "planted hot bucket missing")
    // engagement: (a) the derived threshold actually sits BELOW the hot
    // load (the guard's own quantile expression over the planted
    // rollup), so bucket 0 routes through the grid arm...
    val thr = homes.groupBy(col("s")).agg(count(lit(1)).as("__load"))
      .agg(expr("approx_percentile(__load, " +
        s"${graft.operators.Salting.GuardTailQuantile}, 10000)"))
      .head.getLong(0)
    assert(thr < 40L && thr >= 1L,
      s"derived p999 threshold $thr must sit below the planted hot load")
    // ...and (b) the grid arm genuinely spreads the hot bucket's homes
    // over >1 salt cell (the gridJoinPairs test's engagement law)
    val saltCells = homes.filter(col("s") === 0L)
      .withColumn("salt", pmod(xxhash64(col("vec_b")), lit(4L)))
      .select(col("salt")).distinct().count()
    assert(saltCells > 1, "hot bucket did not split across salt cells")

    // the collected-key variant (the declared row's fast path: zero
    // extra joins, isInCollection routing) obeys the same law
    val inset = graft.operators.Salting
      .gridJoinPairsInSet(probes, homes, "s", "vec_b", 4, Seq(0L))
      .select(col("vec_a"), col("vec_b"), col("s")).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(inset == plain, "inset guard changed the pair set")
  }
}
