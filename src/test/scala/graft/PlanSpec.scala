package graft

/** Physical-plan assertions (SURVEY §4.2): the declarative queries must
  * actually get the Catalyst treatment the scale story relies on —
  * broadcast joins for dims, parquet filter pushdown, column pruning.
  * These are the properties that decide whether a plan survives a 100×
  * scale-up, so they are pinned as tests, not just eyeballed once.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("q04 dimension joins are all broadcast (single shuffle on lineitem)") {
    val p = plan("q04_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge join")
  }

  test("q02 predicates reach the parquet scan (PushedFilters)") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      "shipdate bounds must be pushed:\n" + p.take(2000))
  }

  test("q01 scan reads only the projected columns (ReadSchema pruning)") {
    val p = plan("q01_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_name"))
    assert(!readSchema.contains("p_retailprice"),
      s"scan must not read unprojected columns: $readSchema")
  }

  test("q10 flagship aggregation is whole-stage codegen'd with partial agg") {
    val df = SparkEntry.queries("q10_agg_basic")(spark, sf())
    df.collect() // finalize the AQE plan so codegen markers are visible
    val p = df.queryExecution.executedPlan.toString
    // whole-stage codegen spans render as "*(n) Operator" in the final plan
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
      p.take(2000))
    // partial (map-side) aggregation before the exchange
    assert(p.contains("partial_sum"), p.take(3000))
  }

  test("sim_brute_topk broadcasts the query side, scans corpus once") {
    val p = plan("sim_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("native vec_dot appears in the similarity plan (not interpreted HOF)") {
    val p = plan("sim_brute_topk")
    assert(p.contains("vec_dot"), p.take(2000))
  }

  test("q32 pivot with explicit values is a single hash-agg pass (no distinct pre-job)") {
    val p = plan("q32_pivot")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("partial_"), "pivot must partial-aggregate map-side:\n" + p.take(3000))
  }

  test("ev_interval_join hash-joins on user_id (range predicate is post-join filter, not BNLJ)") {
    val p = plan("ev_interval_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join must keep the equi-key:\n" + p.take(2000))
  }

  test("sim_radius_search broadcasts the single query vector") {
    val p = plan("sim_radius_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("q36 sample predicate is pushed to both scan sides") {
    val p = plan("q36_string_distance")
    assert(p.contains("PushedFilters: ["), p.take(2000))
  }

  test("q59 binned range join is an equi-join (no nested-loop over the pair space)") {
    val p = plan("q59_range_join_binned")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binned form must join on the bin key:\n" + p.take(2000))
  }

  test("q68 merge-upsert is a key equi-join (no nested loop over target × delta)") {
    val p = plan("q68_merge_upsert")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "merge must join on the PK:\n" + p.take(2000))
  }

  test("pipe_profile profiles every column in ONE pass (single Expand, no per-column scans)") {
    val p = plan("pipe_profile")
    // multi-countDistinct compiles to one Expand over one scan
    assert(p.contains("Expand"), p.take(2000))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single orders scan, saw $scans:\n" + p.take(3000))
  }

  test("pipe_expectations runs all row-level rules in one pass (2 fact scans total: rules + FK probe)") {
    val p = plan("pipe_expectations")
    // the count-distinct PK rule rides the SAME HashAggregate as the
    // row-level rule sums (one distinct group needs no Expand — Spark
    // folds it into the two-phase aggregate), so all 5 scalar rules are
    // one pass over one scan
    assert(p.linesIterator.exists(l =>
      l.contains("count(distinct") && l.contains("sum(CASE WHEN")),
      "PK count-distinct must share the rule aggregate, not run its own job:\n" +
        p.take(3000))
    val factScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 2,
      s"expected exactly 2 lineitem scans (rule pass + anti-join probe), saw $factScans:\n" +
        p.take(3000))
  }

  test("pipe_pack_sequences packs over ONE stream-key shuffle (no global sort)") {
    val p = plan("pipe_pack_sequences")
    val streamShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(lang"))
    // exactly one hash shuffle feeds the window; the only range
    // partitioning allowed is the single presentation orderBy
    assert(streamShuffles == 1,
      s"expected one lang-keyed shuffle for the packing window, saw $streamShuffles:\n" +
        p.take(3000))
    val rangeShuffles = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(rangeShuffles <= 1,
      s"packing grew a sort beyond the presentation orderBy ($rangeShuffles):\n" +
        p.take(3000))
  }

  test("pipe_pack_sequences_sharded packs over ONE composite-key shuffle") {
    val p = plan("pipe_pack_sequences_sharded")
    // the packing window must shuffle ONCE on the (lang, shard)
    // composite key — shard must be inside the hash partitioning, or
    // parallelism silently collapses back to |languages|
    val composite = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(lang") && l.contains("shard"))
    assert(composite == 1,
      s"expected one (lang, shard)-keyed shuffle, saw $composite:\n" + p.take(3000))
    val hashShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles == 1,
      s"packing grew extra hash shuffles ($hashShuffles):\n" + p.take(3000))
  }

  test("ev_session_ids computes both windows over one (user_id) shuffle") {
    val p = plan("ev_session_ids")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(shuffles == 1,
      s"stacked session windows must reuse one user_id exchange, saw $shuffles:\n" + p.take(3000))
  }

  test("text_perplexity token-frequency join is a pinned broadcast (not AQE-dependent)") {
    // The doc claims the vocab table broadcasts; round-6 advice: pin it
    // in the plan rather than trusting AQE's runtime size estimate.
    val p = plan("text_perplexity")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "token join must not shuffle the exploded corpus side twice:\n" + p.take(3000))
  }

  // The dedup QueryDefs return a checkpointed (plan-truncated) result, so
  // these assert on the package-private pre-checkpoint pipelines.
  test("dedup_simhash_banded candidates come from an equi-join on the band key") {
    val (pairs, docs) = graft.queries.DedupQueries.simhashBandedPairs(spark, sf())
    val p = try pairs.queryExecution.executedPlan.toString
      finally docs.unpersist(false)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "banded simhash must bucket-join, not all-pairs:\n" + p.take(3000))
  }

  test("tight-radius banded simhash keeps the bucket equi-join shape (d=3, 4 bands)") {
    val (pairs, docs) = graft.queries.DedupQueries.simhashBandedPairs(
      spark, sf(), graft.queries.DedupQueries.SimhashTightMaxHamming)
    val p = try pairs.queryExecution.executedPlan.toString
      finally docs.unpersist(false)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "tight banded simhash must bucket-join, not all-pairs:\n" + p.take(3000))
  }

  test("q_tpch02's correlated subquery is decorrelated (no per-row subplans)") {
    val p = plan("q_tpch02")
    // Catalyst must rewrite the scalar min-subquery into an aggregate
    // joined back on the correlation key: the executed plan then contains
    // NO subquery nodes and no nested-loop join — a per-row re-execution
    // would surface as either
    assert(!p.contains("Subquery") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "Q2's min-subquery must decorrelate into an aggregate + join-back:\n" +
        p.take(3000))
    assert(p.contains("min(l_extendedprice)"),
      "decorrelated min-aggregate missing:\n" + p.take(3000))
  }

  test("q_tpch04's EXISTS compiles to a left-semi join (dedup by construction)") {
    val p = plan("q_tpch04")
    assert(p.contains("LeftSemi"),
      "EXISTS must become a semi-join, not a rewritten inner join:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the o_orderdate correlation rides the join as an extra condition,
    // not a nested-loop: the join must still key on the orderkey
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      "order-date window must be pushed to the orders scan:\n" + p.take(3000))
  }

  test("q_tpch17's correlated avg-subquery is decorrelated (one grouped aggregate)") {
    val p = plan("q_tpch17")
    assert(!p.contains("Subquery") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "Q17's avg-subquery must decorrelate into an aggregate + join-back:\n" +
        p.take(3000))
    assert(p.contains("sum(cast(l_quantity"),
      "decorrelated per-part threshold aggregate missing:\n" + p.take(3000))
  }

  test("q_tpch19's disjunctive predicates push CNF residuals into BOTH scans") {
    val p = plan("q_tpch19")
    // lineitem side: the union of the three quantity windows
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      "quantity OR-residual must reach the lineitem scan:\n" + p.take(3000))
    // part side: the union of the three brand/size clauses
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      "brand/size OR-residual must reach the part scan:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q_tpch20's nested INs compile to left-semi joins (no correlated execution)") {
    val p = plan("q_tpch20")
    val semis = "LeftSemi".r.findAllIn(p).length
    assert(semis >= 2,
      s"both IN subqueries must become semi-joins, saw $semis:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("dedup_embedding_ann candidates come from an equi-join on the signature") {
    val (pairs, v, sigs) = graft.queries.DedupQueries.embeddingAnnPairs(spark, sf())
    val p = try pairs.queryExecution.executedPlan.toString
      finally { v.unpersist(false); sigs.unpersist(false) }
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "ANN dedup must bucket-join, not all-pairs:\n" + p.take(3000))
  }

  test("q99b keyset cursor OR-predicate reaches the parquet scan (PushedFilters)") {
    val p = plan("q99b_keyset")
    // the whole point of the keyset form: the composite-cursor predicate
    // must arrive at the scan as a pushed Or(GreaterThan, And(...)), so a
    // page-p seek reads only the row groups past the cursor
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("Or(GreaterThan(l_orderkey,300)"),
      "cursor OR-predicate must be pushed, not evaluated post-scan:\n" + p.take(3000))
  }

  test("q99b keyset sorts via TakeOrderedAndProject (no global sort for a 50-row page)") {
    val p = plan("q99b_keyset")
    assert(p.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT must fuse into top-k, not range-sort the scan:\n" + p.take(3000))
  }

  test("dedup_embedding_ann_scaled keeps the equi-join shape at the declared width") {
    val (pairs, v, sigs) = graft.queries.DedupQueries.embeddingAnnPairs(
      spark, sf(), graft.queries.DedupQueries.AnnScaledBits,
      graft.queries.DedupQueries.AnnProbeRadius,
      graft.queries.DedupQueries.AnnTables, graft.queries.DedupQueries.CosineTau)
    val p = try pairs.queryExecution.executedPlan.toString
      finally { v.unpersist(false); sigs.unpersist(false) }
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "declared scaled ANN dedup must bucket-join, not all-pairs:\n" + p.take(3000))
  }

  test("signature width outside [1,62] fails loudly (Long bucket keys would wrap)") {
    intercept[IllegalArgumentException] {
      graft.queries.DedupQueries.probeMasks(63, 1)
    }
    intercept[IllegalArgumentException] {
      graft.queries.DedupQueries.embeddingAnnPairs(
        spark, sf(), bits = 70, radius = 1, tables = 2, tau = 0.9)
    }
    // the 100 TB width rule (bits ~ log2 n → ~39 bits at 400B vectors)
    // now fits: Long keys carry it without aliasing
    assert(graft.queries.DedupQueries.probeMasks(40, 1).size == 41)
    assert(graft.queries.DedupQueries.probeMasks(40, 1).distinct.size == 41,
      "wide masks must not alias")
  }

  test("width-scaled ANN dedup keeps the equi-join shape at production width") {
    val (pairs, v, sigs) = graft.queries.DedupQueries.embeddingAnnPairs(
      spark, sf(), bits = 16, radius = 1, tables = 8, tau = 0.9)
    val p = try pairs.queryExecution.executedPlan.toString
      finally { v.unpersist(false); sigs.unpersist(false) }
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "wide ANN dedup must bucket-join, not all-pairs:\n" + p.take(3000))
  }

  test("runtime bloom-filter injection prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // At 100 TB this is the semi-join reduction that keeps a selective
    // dim filter from forcing a full fact-table shuffle: Catalyst's
    // InjectRuntimeFilter plants bloom_filter_agg on the filtered side
    // and might_contain on the probe-side scan. Thresholds are sized for
    // real tables, so pin them down to fixture scale for the assertion.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val li = Tables.load(spark, sf(), "lineitem")
      val o = Tables.load(spark, sf(), "orders")
        .filter(col("o_totalprice") > 400000.0) // selective creation side
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "expected a runtime bloom filter on the probe side:\n" + p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("pipe_shuffle_split is a map pass + range sort (no window, no hash shuffle)") {
    val p = plan("pipe_shuffle_split")
    // the permutation is the hash key itself — an un-partitioned
    // row_number window here would collapse 100 TB to a single task
    assert(!p.contains("Window"),
      "shuffle/split must not use a window operator:\n" + p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"),
      "shuffle/split needs no hash shuffle — key derivation is map-only:\n" +
        p.take(3000))
    val rangeShuffles = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(rangeShuffles == 1,
      s"expected exactly the one presentation range sort, saw $rangeShuffles:\n" +
        p.take(3000))
  }

  test("pipe_temperature_mix broadcasts the rate table (corpus side never sort-merge joins)") {
    val p = plan("pipe_temperature_mix")
    assert(!p.contains("SortMergeJoin"),
      "the |languages|-row rate table must broadcast into the corpus pass:\n" +
        p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "expected a broadcast join of rates onto documents:\n" + p.take(3000))
  }

  test("pipe_segment_dedup reassembles in-row (no window) with map-side partials") {
    val p = plan("pipe_segment_dedup")
    // per-doc reassembly is array_sort inside the aggregated row — a
    // per-doc sort window here would add a full extra shuffle+sort
    assert(!p.contains("Window"),
      "segment dedup must not use a window operator:\n" + p.take(3000))
    assert(p.contains("partial_"),
      "segment counts must partial-aggregate map-side:\n" + p.take(3000))
  }

  test("text_dup_spans gram counts partial-aggregate; coverage has no window") {
    val p = plan("text_dup_spans")
    assert(p.contains("partial_"),
      "window-text counts must partial-aggregate map-side:\n" + p.take(3000))
    assert(!p.contains("Window"),
      "coverage is explode+distinct, not a window:\n" + p.take(3000))
  }

  test("pipe_semdedup broadcasts centroids and keeps vec_dot native") {
    val p = plan("pipe_semdedup")
    // centroid assignment: k-row centroid set broadcast against the scan
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast into the assignment pass:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "the in-cell pair step must be a keyed join on cell, not a cartesian:\n" +
        p.take(3000))
    assert(p.contains("vec_dot"),
      "cosine must run as the native codegen'd vec_dot expression:\n" + p.take(3000))
  }

  test("pipe_dsir broadcasts the rate table (corpus side never sort-merge joins)") {
    val p = plan("pipe_dsir")
    assert(p.contains("BroadcastHashJoin"),
      "the |V|-row rate table must broadcast onto the exploded corpus:\n" +
        p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized sort-merge join in the DSIR scoring pass:\n" + p.take(3000))
  }

  test("pipe_url_dedup is one hash shuffle on canonical_url") {
    val p = plan("pipe_url_dedup")
    val hashShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles == 1,
      s"canonicalization must stay narrow — expected 1 hash shuffle, saw $hashShuffles:\n" +
        p.take(3000))
    assert(p.contains("partial_"),
      "keeper/count agg must partial-aggregate map-side:\n" + p.take(3000))
  }

  test("st_incremental_minhash bucket join is keyed and the signature is native") {
    // inspect the un-checkpointed twin via its banded-signature builder:
    // the candidate step must be an equi-join on (band_idx, band_sig) —
    // never a cartesian — and minhash_sig must run as the codegen'd
    // native expression
    val b = graft.streaming.DocumentStreams.bandedSigs(
      Tables.load(spark, sf(), "documents"))
    val pairs = b.as("a").join(b.as("b"),
      org.apache.spark.sql.functions.col("a.band_idx") === org.apache.spark.sql.functions.col("b.band_idx") &&
        org.apache.spark.sql.functions.col("a.band_sig") === org.apache.spark.sql.functions.col("b.band_sig") &&
        org.apache.spark.sql.functions.col("a.doc_id") < org.apache.spark.sql.functions.col("b.doc_id"))
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "bucket candidate step must be a keyed join:\n" + p.take(3000))
    assert(p.contains("minhash_sig"),
      "signatures must come from the native codegen'd minhash_sig:\n" + p.take(3000))
  }

  test("pipe_quality_classifier scores in one narrow pass + one doc rollup") {
    val p = plan("pipe_quality_classifier")
    // AT MOST one hash shuffle (round 21): with the size-derived spread
    // width (Layouts.spread) the sf0.001 corpus is a single partition,
    // which satisfies the doc rollup's distribution outright — the plan
    // is partial→final aggregate with ZERO exchanges. At widths > 1 the
    // rollup pays exactly its one hash shuffle, never more.
    val hashShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles <= 1,
      s"hash-and-score must stay narrow — expected <= 1 hash shuffle, saw $hashShuffles:\n" +
        p.take(3000))
    assert(p.contains("partial_"),
      "the doc rollup must partial-aggregate map-side:\n" + p.take(3000))
  }

  test("pipe_bpe_merges iterates on the vocab rollup with broadcast argmax") {
    // inspect the un-materialized plan: the declared query localCheckpoints
    // its result, which hides the pipeline behind an RDD scan
    val p = graft.queries.Round10Queries.bpeMerges(spark, sf(), materialize = false)
      .queryExecution.executedPlan.toString
    // each merge's 1-row argmax rides back as a broadcast, never a
    // shuffle of the (word, freq) table against a scalar
    assert(p.contains("BroadcastNestedLoopJoin"),
      "top-pair scalar must broadcast into the rewrite pass:\n" + p.take(3000))
    assert(p.contains("partial_"),
      "pair counts must partial-aggregate map-side:\n" + p.take(3000))
    assert(!p.contains("Window"),
      "no window in the BPE loop:\n" + p.take(3000))
  }

  test("sim_knn_graph_ivf: compiled cell pass, keyed candidate join, pruned top-k") {
    // inspect the un-materialized pipeline (the declared row
    // localCheckpoints); the persisted cell stage is released after
    val (res, cells) = graft.queries.KnnGraphQueries
      .ivfGraph(graft.queries.Corpus.nvecs(spark, sf()))
    try {
      res.collect() // finalize AQE so the executed plan is the real one
      // full plan text (not outerPlan): the compiled cell pass lives
      // INSIDE the persisted stage's InMemoryRelation
      val p = res.queryExecution.executedPlan.toString
      assert(p.contains("pq_argmin_k"),
        "the cell pass must run the compiled pq_argmin_k expression:\n" +
          p.take(3000))
      assert(p.contains("WindowGroupLimit"),
        "the top-k rollup must carry the WindowGroupLimit prune:\n" +
          p.take(3000))
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("BroadcastHashJoin"),
        "candidates must come from a KEYED equi-join on the cell id:\n" +
          p.take(3000))
      assert(!p.contains("CartesianProduct"),
        "no cartesian anywhere in the serving tail:\n" + p.take(3000))
      // pin the shuffle count (round-20 advice: the comment claimed a
      // bound no assertion checked). Counted programmatically over the
      // AQE-final plan graph — InMemoryTableScan is a LEAF there, so
      // the persisted cell stage's internal exchanges (width scalar,
      // centroid-array agg, repartition) are naturally excluded and
      // only the serving tail is priced: the candidate join's two
      // sides, the top-k window's hash exchange, and the presentation
      // range sort. A plan regression adding shuffles now fails.
      val shuffles = PlanSpec.countShuffles(res.queryExecution.executedPlan)
      assert(shuffles <= 4,
        s"expected at most 4 shuffle exchanges beyond the cell stage " +
          s"(candidate join x2, top-k window, range sort), got $shuffles:\n" +
          p.take(3000))
      assert(p.contains("vec_dot"),
        "cosine must run as the native codegen'd vec_dot:\n" + p.take(3000))
    } finally cells.foreach(_.unpersist(false))
  }
}

object PlanSpec {

  /** Shuffle-exchange count over the AQE-final plan graph, descending
    * into adaptive subtrees and query stages. InMemoryTableScan is a
    * leaf here (its cached plan is a separate query execution), so a
    * persisted stage's internal exchanges are excluded by construction
    * — exactly the "beyond the cached stage" accounting the plan
    * comments claim.
    */
  def countShuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val self = plan match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    self + kids.map(countShuffles).sum
  }
}
