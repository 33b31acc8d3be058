package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Retrieval / link-graph operators (round 10, [EXT] like all of SURVEY
  * §2.7): the web-corpus curation passes the §2.7 surface did not yet
  * cover —
  *
  *  - BM25 lexical retrieval top-k (Robertson/Spärck Jones; the Lucene
  *    `ln(1 + (N-df+0.5)/(df+0.5))` idf form): the retrieval side of
  *    retrieval-based decontamination — "which corpus docs does this
  *    eval query pull up" is the membership-leakage probe GPT-3-style
  *    n-gram overlap (pipe_decontaminate) cannot express, and the same
  *    pass is RAG/reranker training-pair mining;
  *  - PageRank link-graph centrality (Page et al. 1999; the OPIC-style
  *    crawl-prioritization signal Common Crawl curation keys on): K
  *    unrolled sparse-matvec iterations over an edge table, in both a
  *    broadcast-rank and a co-partitioned (shuffle-join) form, plus a
  *    convergence-driven `pagerankUntil` loop;
  *  - TrustRank (Gyöngyi et al. 2004): personalized PageRank whose
  *    teleport mass goes only to a trusted seed set — whitelist
  *    expansion / spam demotion, the same iteration with a seed-base
  *    union per round;
  *  - PMI collocation extraction (Church & Hanks 1990): unordered
  *    adjacent-token pair counts vs broadcast unigram marginals — the
  *    multi-word-expression miner ahead of tokenizer merge selection;
  *  - HITS hubs & authorities (Kleinberg 1999): mutual reinforcement on
  *    the DIRECTED bipartite transaction graph, ℓ1-normalized per
  *    half-step in exact integer picounits.
  *
  * Reference scope note: alxmancilla/parquet-demo has no retrieval or
  * graph surface (its compute is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66).
  *
  * Scale shapes:
  *  - BM25: the query-term table broadcasts and prunes the exploded
  *    corpus BEFORE its only wide operation, so the one real shuffle
  *    carries matching postings only — never the corpus. df/N/avgdl are
  *    term- or scalar-bounded rollups that broadcast back. At 100 TB the
  *    postings rollup is the inverted-index build restricted to the
  *    query vocabulary; everything downstream is |q-terms|·|hit-docs|.
  *  - PMI: ONE pair-count shuffle over the corpus bigrams; the unigram
  *    marginal table is vocab-bounded and broadcasts; the top-k is
  *    TakeOrdered — no window, no second corpus pass.
  *  - PageRank/TrustRank/HITS: each iteration is edges ⋈ ranks + ONE
  *    groupBy(dst) shuffle. The edge list is materialized ONCE with
  *    `localCheckpoint` (the ConnectedComponents recipe): the unrolled
  *    iterations nest the edge subtree inside per-iteration subplans
  *    where ReuseExchange does NOT reliably dedup it — the ×10 probe
  *    measured the declarative form re-running the orders⋈lineitem
  *    build per use (51 s; checkpointed: the build runs once and
  *    iterations read executor-local blocks). Bidirectional edges ⇒ no
  *    dangling mass, every node has in-edges, and rank mass is
  *    conserved at 1 (spec-pinned). The rank join comes in TWO pinned
  *    forms, selected by the `bcast` knob on each builder:
  *      - broadcast (the `graph_*` rows): right while the node table
  *        fits the driver/executor broadcast budget — nodes ≪ edges;
  *      - co-partitioned (the `graph_*_partitioned` rows): the edge
  *        list is hash-partitioned on the join key BEFORE the one-time
  *        checkpoint, so every iteration shuffles ONLY the node-sized
  *        rank table into the edges' fixed layout (`shuffle_hash` join
  *        — and the rank table arrives already partitioned on the key
  *        it was grouped on, so steady-state iterations move nothing
  *        but the groupBy itself). This is the form that survives a
  *        crawl-scale graph where the node table outgrows broadcast;
  *        exact BIGINT picounit arithmetic makes it bit-identical to
  *        the broadcast form at any partitioning (spec-pinned, shared
  *        oracle).
  *
  * Float determinism (the text_perplexity recipe): every libm result
  * (ln, the tf saturation) is rounded to 9–12 dp FIRST — only a
  * value-bounded set of distinct inputs ever reaches libm — then summed
  * as exact DECIMAL, so scores are independent of partition order and
  * identical in both engines.
  */
object RetrievalQueries {

  /** BM25 constants (the classic Robertson defaults). */
  val K1 = 1.2
  val B = 0.75
  val TopK = 5

  /** PageRank: damping and unrolled iteration count. */
  val Damping = 0.85
  val PrIters = 3

  /** PMI collocations: minimum pair count and result size. */
  val PmiMinCount = 5
  val PmiTopK = 20

  /** Fixed benchmark query set over the fixture vocabulary — inline in
    * both engines, the eval-set side of a decontamination probe.
    */
  val BmQueries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 1L -> "merge",
    2L -> "vector", 2L -> "window",
    3L -> "slow", 3L -> "query", 3L -> "scan")

  private val bmQueriesDuck =
    BmQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** Symmetric (src, dst, deg) customer↔supplier transaction edge list:
    * DISTINCT co-order pairs in both directions, LONG node ids
    * (cust = 2k, supp = 2k+1 — every iteration join/shuffle hashes
    * 8-byte keys; the ×10 probe measured a string-keyed draft ~2×
    * slower end-to-end), materialized ONCE: iterative consumers read
    * the materialized blocks instead of re-running the
    * orders⋈lineitem⋈distinct⋈deg build inside each broadcast subplan.
    */
  /** DISTINCT directed co-order pairs (cust = 2k → supp = 2k+1). */
  private def coOrderPairs(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
  }

  /** @param partitioned when true, the edge list is eagerly
    *   materialized hash-partitioned on `src` (Layouts.partitioned —
    *   an AQE-off localCheckpoint whose LogicalRDD KEEPS the layout) —
    *   the co-partitioned layout the shuffle-join rank iteration
    *   reuses every round: `HashPartitioning(src, N)` satisfies each
    *   iteration's join distribution, so the edge side never
    *   re-exchanges (Round15Spec pin). Callers release the blocks via
    *   `Layouts.releaseCheckpoint` once their rounds have
    *   materialized. When false: plain localCheckpoint (the CC
    *   lineage-truncation recipe; broadcast consumers don't care about
    *   partitioning).
    */
  private[graft] def transactionEdges(s: SparkSession, dir: String,
      partitioned: Boolean = false): DataFrame = {
    val pairs = coOrderPairs(s, dir)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val degTab = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val joined = sym.join(degTab, "src")
    // partitioned: Layouts.partitioned, NOT a bare
    // repartition+localCheckpoint — under AQE a checkpoint's LogicalRDD
    // reports UnknownPartitioning, so every round's join silently
    // re-shuffled the edge side (defeating this layout's whole purpose;
    // caught by Round15Spec's exchange pin). Layouts compiles the
    // checkpoint with AQE off, which keeps the HashPartitioning AND the
    // raw-block scan cost (the round-15 persist form paid the columnar
    // cache codec every round — +45-72% on the rank twins in isolation,
    // BASELINE.md round-16 mover table).
    if (partitioned) graft.operators.Layouts.partitioned(joined,
      Seq(col("src")), graft.operators.Layouts.IterativeRows)
    else joined.localCheckpoint()
  }

  /** The per-iteration edges ⋈ ranks join, in the two pinned forms:
    * broadcast (nodes ≪ edges) or co-partitioned shuffle-hash (the
    * rank table is shuffled into the edges' checkpointed layout — the
    * form that survives a node table too big to broadcast). `ranks`
    * must carry a `src` column; exact integer rank arithmetic makes
    * both forms bit-identical.
    */
  private def rankJoin(edges: DataFrame, ranks: DataFrame,
      bcast: Boolean): DataFrame =
    if (bcast) edges.join(broadcast(ranks), "src")
    else edges.join(ranks.hint("shuffle_hash"), "src")

  /** Shared node-label projection: LONG id → 'c<k>' / 's<k>'. */
  private val nodeLabel =
    "IF(node % 2 = 0, concat('c', node div 2), concat('s', node div 2))"

  /** BM25 top-k over an ARBITRARY (query_id, tok) query set — the
    * declared row binds the fixed fixture set; the probe harness binds
    * synthetic sets up to |q|=1000 (VERDICT r10 item 4). The query set is
    * eval-set-bounded by definition (it's the retrieval side of a
    * decontamination / pair-mining pass), so it broadcasts at any
    * realistic |q|; the one real shuffle carries only query-matched
    * postings — its payload scales with matches, not with the corpus and
    * not with |q| directly (probe-pinned).
    */
  def bm25TopK(s: SparkSession, dir: String, qterms0: DataFrame): DataFrame = {
    val qterms = broadcast(qterms0)
    val docs = Corpus.toks(s, dir)
    // corpus-wide scalars: doc count and mean doc length, as ONE
    // double division of exact integer sums (shared both engines)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("n_toks"))
      .select(col("n_docs"),
        (col("n_toks").cast(DoubleType) / col("n_docs")).as("avgdl"))
    val posts = docs
      .select(col("doc_id"), size(col("toks")).cast(DoubleType).as("dl"),
        explode(col("toks")).as("tok"))
      .join(qterms, "tok")
      .groupBy(col("query_id"), col("tok"), col("doc_id"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), first(col("dl")).as("dl"))
    // df over the postings (term-bounded), broadcast back
    val dfTab = broadcast(
      posts.select(col("tok"), col("doc_id")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df")))
    val scored = posts
      .join(dfTab, "tok")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        round(
          expr(s"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
            s" * (tf * ${K1 + 1.0} / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)))"),
          9).cast(DecimalType(28, 9)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")).cast(DoubleType), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val rk = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(rk))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"),
        col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Deterministic synthetic query set for the |q| scaling probe: nq
    * queries × termsPerQuery terms hash-assigned (replayable, RNG-free)
    * from the corpus vocabulary — distinct queries SHARE terms, exactly
    * like a real eval set (common words recur across queries; the
    * fixture vocabulary is a fixed 31-word pool, ~31·m after ×m rotated
    * replication). The row_number window is over the VOCAB (Heaps-law
    * bounded), not the corpus — probe-harness scale, not a corpus pass.
    * A query can lose a term to an in-query hash collision (deduped) —
    * harmless: real queries vary in length too.
    */
  def syntheticBmQueries(s: SparkSession, dir: String, nq: Int,
      termsPerQuery: Int = 3): DataFrame = {
    // GLOBAL window over the distinct VOCABULARY (Heaps-law bounded —
    // sublinear in corpus size), not the corpus; probe-harness only.
    // The only global window in the repo whose input grows at all.
    val w = Window.orderBy(md5(col("tok")), col("tok"))
    val vocab = Corpus.toks(s, dir)
      .select(explode(col("toks")).as("tok")).distinct()
      .withColumn("rn", row_number().over(w) - 1)
      .localCheckpoint()
    val v = vocab.count()
    s.range(nq.toLong * termsPerQuery)
      .select(expr(s"id div $termsPerQuery").as("query_id"),
        pmod(hash(col("id")), lit(v)).cast("int").as("rn"))
      .join(broadcast(vocab), "rn")
      .select(col("query_id"), col("tok"))
      .distinct()
  }

  // ── shared graph-iteration builders (broadcast / co-partitioned) ───

  /** One PageRank iteration: edges ⋈ ranks (strategy per `bcast`) + ONE
    * groupBy(dst) shuffle, all in exact BIGINT picounits.
    */
  private def pagerankStep(edges: DataFrame, nTab: DataFrame,
      bcast: Boolean)(r: DataFrame): DataFrame =
    rankJoin(edges, r.withColumnRenamed("node", "src"), bcast)
      .select(col("dst"), expr("(85L * r) div (100L * deg)").as("w"))
      .groupBy(col("dst"))
      .agg(sum(col("w")).as("sw"))
      .crossJoin(broadcast(nTab))
      .select(col("dst").as("node"),
        expr("15000000000000L div (100L * n_nodes) + sw").as("r"))

  /** Final display projection shared by every PageRank form: LONG node →
    * label, picounits → double (the only float, IEEE-identical in both
    * engines).
    */
  private def rankProject(r: DataFrame): DataFrame =
    r.select(expr(nodeLabel).as("node"),
      (col("r").cast(DoubleType) / lit(1.0e12)).as("pr"))
      .orderBy(col("pr").desc, col("node"))

  private def pagerankSetup(s: SparkSession, dir: String,
      bcast: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val nTab = edges.select(col("src")).distinct()
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    val r0 = edges.select(col("src")).distinct()
      .crossJoin(broadcast(nTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_nodes").as("r"))
    (edges, nTab, r0)
  }

  /** PrIters unrolled PageRank iterations — the declared-row form. The
    * partitioned form checkpoints EVERY round (not just the edge list):
    * the ×50 probe measured the 3-iteration NESTED plan at 127.7 s vs
    * ~38 s for the same rounds run checkpoint-at-a-time (the
    * convergence-loop trace: ~3 s/round flat + edge build) — at scale,
    * materializing each round and letting the next read executor-local
    * blocks beats handing the optimizer one deep multi-join plan. The
    * broadcast form keeps the nested shape (it is the fixture-fast
    * path and its numbers are the established baseline).
    */
  def pagerankPlan(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val (edges, nTab, r0) = pagerankSetup(s, dir, bcast)
    val step = pagerankStep(edges, nTab, bcast) _
    val fin = (1 to PrIters).foldLeft(r0)((r, _) =>
      if (bcast) step(r) else step(r).localCheckpoint())
    // partitioned: rounds have all materialized (eager checkpoints) and
    // the final projection reads the last round's blocks — release the
    // cached edge layout (CacheHygieneSpec policy)
    if (!bcast) graft.operators.Layouts.releaseCheckpoint(edges)
    rankProject(fin)
  }

  /** Degree-skew salt factor for graph_pagerank_salted. */
  val RankSalt = 4

  /** Degree-skew-guarded PageRank (the third rank-join form): the
    * co-partitioned layout hashes edges by `src`, so a power-law
    * "celebrity" node's ENTIRE edge list lands in one partition — and
    * because the materialized edge side enters the join as a cached
    * scan, not an exchange, AQE's skew-join splitter cannot re-split it
    * at runtime.
    * Salting fixes it structurally: edges carry salt = hash(dst) mod
    * RankSalt and co-partition on (src, salt) — a hot node's edges
    * spread across RankSalt partitions — while each iteration REPLICATES
    * the node-sized rank table ×RankSalt (explode) into the same layout.
    * Every edge still joins its rank row exactly once, so the exact
    * BIGINT picounit results are bit-identical to graph_pagerank
    * (spec-pinned, shared oracle); the groupBy(dst) rollup is unchanged.
    * This is the fragment-replicate idea of Salting.gridSelfPairs
    * applied to iterative rank joins — replicate the SMALL side, split
    * the HOT side.
    */
  def pagerankSaltedPlan(s: SparkSession, dir: String): DataFrame = {
    val pairs = coOrderPairs(s, dir)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val degTab = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Layouts.partitioned on (src, salt): the same lost-partitioning fix
    // as transactionEdges — the old repartition+localCheckpoint form
    // re-shuffled the edge side into EVERY round's join under AQE
    val edges = graft.operators.Layouts.partitioned(
      sym.join(degTab, "src")
        .withColumn("salt", pmod(hash(col("dst")), lit(RankSalt))),
      Seq(col("src"), col("salt")), graft.operators.Layouts.IterativeRows)
    val nTab = edges.select(col("src")).distinct()
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    val r0 = edges.select(col("src")).distinct()
      .crossJoin(broadcast(nTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_nodes").as("r"))
    def step(r: DataFrame): DataFrame =
      edges
        .join(r.select(col("node").as("src"), col("r"),
            explode(expr(s"sequence(0, ${RankSalt - 1})")).as("salt"))
          .hint("shuffle_hash"), Seq("src", "salt"))
        .select(col("dst"), expr("(85L * r) div (100L * deg)").as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).as("sw"))
        .crossJoin(broadcast(nTab))
        .select(col("dst").as("node"),
          expr("15000000000000L div (100L * n_nodes) + sw").as("r"))
    val fin = (1 to PrIters).foldLeft(r0)((r, _) => step(r).localCheckpoint())
    graft.operators.Layouts.releaseCheckpoint(edges)
    rankProject(fin)
  }

  /** One un-checkpointed PageRank iteration — exposed for the plan pin:
    * the declared rows checkpoint every round, so their FINAL executed
    * plan is just a projection over the last round's blocks; the join
    * strategy under test (shuffle-hash vs broadcast) is only visible on
    * a single step's plan.
    */
  def pagerankOneStep(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val (edges, nTab, r0) = pagerankSetup(s, dir, bcast)
    pagerankStep(edges, nTab, bcast)(r0)
  }

  /** Convergence-driven PageRank: iterate until the max per-node rank
    * change is ≤ `epsPico` picounits (the real centrality-pass loop; the
    * unrolled 3-iteration row is the fixture form). The ConnectedComponents
    * recipe: every round's rank table is `localCheckpoint`ed so the plan
    * never embeds previous rounds (analysis cost stays flat), the
    * superseded round's blocks are released immediately, and the
    * convergence test is one node-sized join + scalar collect — both rank
    * tables arrive hash-partitioned on `node` from their own groupBys, so
    * the delta join moves nothing.
    *
    * @return (final ranks projected for display, iterations run,
    *         per-round max-delta trace in picounits — geometric in the
    *         damping factor, spec-pinned monotone).
    */
  def pagerankUntil(s: SparkSession, dir: String, epsPico: Long,
      maxIter: Int = 50, bcast: Boolean = false)
      : (DataFrame, Int, Seq[Long]) = {
    val (edges, nTab, r0) = pagerankSetup(s, dir, bcast)
    val res = iterateUntil(r0, pagerankStep(edges, nTab, bcast),
      rankProject, epsPico, maxIter)
    if (!bcast) graft.operators.Layouts.releaseCheckpoint(edges)
    res
  }

  /** Convergence-driven TrustRank — the same ε loop over the
    * seed-teleport iteration (see pagerankUntil; shared iterateUntil
    * recipe). The delta metric treats a node newly entering the trust
    * frontier as a full-rank change.
    */
  def trustrankUntil(s: SparkSession, dir: String, epsPico: Long,
      maxIter: Int = 50, bcast: Boolean = false)
      : (DataFrame, Int, Seq[Long]) = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val seeds = edges.select(col("src")).distinct()
      .filter(expr("src % 2 = 1 AND (src div 2) % 3 = 0"))
    val nSeedTab = seeds.agg(count(lit(1)).as("n_seeds")).localCheckpoint()
    val t0 = seeds.crossJoin(broadcast(nSeedTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_seeds").as("r"))
    val project = (t: DataFrame) =>
      t.select(expr(nodeLabel).as("node"),
        (col("r").cast(DoubleType) / lit(1.0e12)).as("trust"),
        expr("node % 2 = 1 AND (node div 2) % 3 = 0").as("is_seed"))
        .orderBy(col("trust").desc, col("node"))
    val res = iterateUntil(t0, trustrankStep(edges, seeds, nSeedTab, bcast),
      project, epsPico, maxIter)
    if (!bcast) graft.operators.Layouts.releaseCheckpoint(edges)
    res
  }

  /** Shared convergence loop (the ConnectedComponents recipe applied to
    * rank iteration): localCheckpoint per round, superseded blocks
    * released, one node-sized delta join + scalar collect per round.
    * `project` maps the final rank table to its display form. Used by
    * both pagerankUntil and trustrankUntil.
    */
  private def iterateUntil(r0: DataFrame, step: DataFrame => DataFrame,
      project: DataFrame => DataFrame, epsPico: Long, maxIter: Int)
      : (DataFrame, Int, Seq[Long]) = {
    var r = r0.localCheckpoint()
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val next = step(r).localCheckpoint()
      // left join from the NEW table: TrustRank's frontier only grows
      // (seed base rows never leave), so a node absent from the previous
      // round counts its full new rank as the delta; for PageRank the
      // symmetric graph makes the join total and coalesce is a no-op
      val d = next.as("n").join(r.as("p"),
          col("n.node") === col("p.node"), "left")
        .agg(max(abs(col("n.r") - coalesce(col("p.r"), lit(0L)))).as("d"))
        .collect().head.getLong(0)
      deltas += d
      // NOT r.unpersist(): that is a cache-manager no-op on a
      // localCheckpointed round (Layouts scaladoc) — the superseded
      // round's blocks need the RDD-level release
      graft.operators.Layouts.releaseCheckpoint(r)
      r = next
      iter += 1
      done = d <= epsPico
    }
    (project(r), iter, deltas.toSeq)
  }

  /** One TrustRank iteration: damped contributions UNION the seed
    * teleport base, re-aggregated — unreached nodes stay absent.
    */
  private def trustrankStep(edges: DataFrame, seeds: DataFrame,
      nSeedTab: DataFrame, bcast: Boolean)(t: DataFrame): DataFrame = {
    val contrib = rankJoin(edges, t.withColumnRenamed("node", "src"), bcast)
      .select(col("dst").as("node"),
        expr("(85L * r) div (100L * deg)").as("w"))
    val seedBase = seeds.crossJoin(broadcast(nSeedTab))
      .select(col("src").as("node"),
        expr("15000000000000L div (100L * n_seeds)").as("w"))
    contrib.unionByName(seedBase)
      .groupBy(col("node")).agg(sum(col("w")).as("r"))
  }

  def trustrankPlan(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val seeds = edges.select(col("src")).distinct()
      .filter(expr("src % 2 = 1 AND (src div 2) % 3 = 0"))
    val nSeedTab = seeds.agg(count(lit(1)).as("n_seeds")).localCheckpoint()
    val t0 = seeds.crossJoin(broadcast(nSeedTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_seeds").as("r"))
    val step = trustrankStep(edges, seeds, nSeedTab, bcast) _
    // partitioned form: checkpoint per round (see pagerankPlan scaladoc)
    val fin = (1 to PrIters).foldLeft(t0)((t, _) =>
      if (bcast) step(t) else step(t).localCheckpoint())
    if (!bcast) graft.operators.Layouts.releaseCheckpoint(edges)
    fin
      .select(expr(nodeLabel).as("node"),
        (col("r").cast(DoubleType) / lit(1.0e12)).as("trust"),
        expr("node % 2 = 1 AND (node div 2) % 3 = 0").as("is_seed"))
      .orderBy(col("trust").desc, col("node"))
  }

  /** HITS in both join strategies. The partitioned form stores the
    * directed pair list TWICE — hash-partitioned on `a` and on `b`, the
    * standard src-/dst-partitioned double layout of a distributed graph
    * engine — because consecutive half-steps join on alternating keys;
    * each half-step then shuffles only the node-sized score table.
    */
  def hitsPlan(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val basePairs = coOrderPairs(s, dir)
    // partitioned: the double layout must survive materialization
    // (Layouts.partitioned — the transactionEdges lost-partitioning fix)
    val pairsA =
      if (bcast) basePairs.localCheckpoint()
      else graft.operators.Layouts.partitioned(basePairs,
        Seq(col("a")), graft.operators.Layouts.IterativeRows)
    val pairsB =
      if (bcast) pairsA
      else graft.operators.Layouts.partitioned(basePairs,
        Seq(col("b")), graft.operators.Layouts.IterativeRows)
    val nCust = pairsA.select(col("a")).distinct()
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val h0 = pairsA.select(col("a")).distinct()
      .crossJoin(broadcast(nCust))
      .select(col("a"), expr("1000000000000L div n").as("v"))
    // one half-step: propagate scores across `key`→`out`, then
    // l1-normalize back to 10^12 total (the scores DF's node column
    // is always already named `key` — each half-step's output column
    // is the next one's join key)
    def half(scores: DataFrame, key: String, out: String): DataFrame = {
      val pairs = if (key == "a") pairsA else pairsB
      val joined =
        if (bcast) pairs.join(broadcast(scores), key)
        else pairs.join(scores.hint("shuffle_hash"), key)
      val raw0 = joined.groupBy(col(out)).agg(sum(col("v")).as("raw"))
      // partitioned form: checkpoint per half-step (see pagerankPlan
      // scaladoc) — on `raw`, so the normalizer scalar AND the next
      // half-step both read executor-local blocks instead of
      // re-evaluating the propagate join
      val raw = if (bcast) raw0 else raw0.localCheckpoint()
      val tot = raw.agg(sum(col("raw")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col(out),
          expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000000000 div tot AS BIGINT)")
            .as("v"))
    }
    val a1 = half(h0, "a", "b")
    val h1 = half(a1, "b", "a")
    val a2 = half(h1, "a", "b")
    val h2 = half(a2, "b", "a")
    // partitioned: every half-step's raw rollup has materialized and the
    // final normalize/union below reads those blocks — release both pair
    // layouts (CacheHygieneSpec policy)
    if (!bcast) {
      graft.operators.Layouts.releaseCheckpoint(pairsA)
      graft.operators.Layouts.releaseCheckpoint(pairsB)
    }
    val hubs = h2.select(col("a").as("node"), lit("hub").as("kind"), col("v"))
    val auths = a2.select(col("b").as("node"), lit("auth").as("kind"), col("v"))
    hubs.unionByName(auths)
      .select(expr(nodeLabel).as("node"), col("kind"),
        (col("v").cast(DoubleType) / lit(1.0e12)).as("score"))
      .orderBy(col("kind"), col("score").desc, col("node"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── BM25 retrieval top-k ─────────────────────────────────────────
    // One corpus pass: explode tokens, broadcast-join the query terms
    // (the prune happens BEFORE the postings shuffle), rollup
    // (query, term, doc) postings carrying doc length along — so doc
    // length needs NO second corpus join. df comes from the postings
    // themselves (distinct doc per term); N/avgdl are one scalar agg.
    QueryDef(
      "text_bm25_topk",
      (s, dir) => {
        import s.implicits._
        bm25TopK(s, dir, BmQueries.toDF("query_id", "tok"))
      },
      Some(s"""WITH q(query_id, tok) AS (VALUES $bmQueriesDuck),
        docs AS (SELECT doc_id, toks FROM ${Corpus.toksDuck()}),
        stats AS (
          SELECT count(*) AS n_docs,
            CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
          FROM docs),
        posts AS (
          SELECT q.query_id, t.tok, t.doc_id,
            CAST(count(*) AS DOUBLE) AS tf, CAST(any_value(t.dl) AS DOUBLE) AS dl
          FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM docs) t
          JOIN q ON t.tok = q.tok
          GROUP BY q.query_id, t.tok, t.doc_id),
        dftab AS (
          SELECT tok, count(*) AS df
          FROM (SELECT DISTINCT tok, doc_id FROM posts) GROUP BY tok),
        scored AS (
          SELECT query_id, doc_id,
            round(CAST(sum(CAST(round(
              ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf * ${K1 + 1.0} / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl))),
              9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
            count(*) AS n_terms
          FROM posts JOIN dftab USING (tok) CROSS JOIN stats
          GROUP BY query_id, doc_id),
        ranked AS (
          SELECT query_id, doc_id, score, n_terms,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
        SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
          doc_id, score, n_terms
        FROM ranked WHERE rnk <= $TopK
        ORDER BY query_id, rnk"""),
      doc = "BM25 top-k retrieval (Lucene idf form): query terms broadcast " +
        "and prune the corpus BEFORE the one postings shuffle; df/avgdl " +
        "are term-/scalar-bounded broadcasts; rounded-ln DECIMAL sums."),

    // ── PageRank over the customer↔supplier transaction graph ────────
    // Edges: DISTINCT (customer, supplier) pairs that share an order
    // line, in BOTH directions (symmetric graph ⇒ no dangling nodes).
    // Three unrolled iterations; each is edges ⋈ ranks (broadcast) ⋈
    // outdeg (broadcast) with ONE groupBy(dst) shuffle.
    //
    // Ranks live in exact integer PICOUNITS (1 rank = 10^12) for the
    // whole iteration: contribution = (85·r) div (100·deg), base =
    // (15·10^12) div (100·N) — every operation is BIGINT, so the result
    // is bit-identical in any engine at any partitioning (a first draft
    // rounded d·r/deg to 12 dp as DECIMAL and DuckDB's double-math
    // round disagreed with Spark's exact BigDecimal round by 1 ulp on a
    // boundary quotient; integer floor-division has no boundaries).
    // Floor division leaks < |E|·10⁻¹² mass per round — the spec's
    // conservation bound covers it. Floats appear exactly once, in the
    // final display division r/10^12 (IEEE-identical both engines).
    QueryDef(
      "graph_pagerank",
      (s, dir) => pagerankPlan(s, dir, bcast = true),
      Some(pagerankSql),
      doc = "PageRank (d=0.85, 3 unrolled iterations) on the symmetric " +
        "customer-supplier transaction graph: edges ⋈ broadcast ranks + " +
        "one groupBy(dst) shuffle per iteration; the edge list is " +
        "localCheckpoint-materialized once; ranks are exact BIGINT " +
        "picounits — no float ever enters the iteration."),

    // ── TrustRank seed-based trust propagation (Gyöngyi et al. 2004) ─
    // "Combating Web Spam with TrustRank": personalized PageRank whose
    // teleport mass goes ONLY to a trusted seed set — the published
    // crawl-curation pass that expands a hand-audited whitelist into a
    // corpus-wide trust score (low trust ⇒ spam candidate). Seeds here:
    // every third supplier (deterministic, oracle-replayable). Same
    // integer-picounit recipe and checkpointed edge list as
    // graph_pagerank; each iteration UNIONs the seed base rows with the
    // damped contributions and re-aggregates, so nodes outside the
    // 3-hop trust frontier simply never appear (implicit zero — exactly
    // TrustRank's semantics, and the row set itself is the frontier).
    QueryDef(
      "graph_trustrank",
      (s, dir) => trustrankPlan(s, dir, bcast = true),
      Some(trustrankSql),
      doc = "TrustRank (Gyöngyi 2004): personalized PageRank with teleport " +
        "restricted to a trusted seed set; same checkpointed edge list and " +
        "integer-picounit iterations as graph_pagerank; unreached nodes " +
        "stay absent — the row set IS the 3-hop trust frontier."),

    // ── PMI collocation extraction (Church & Hanks 1990) ─────────────
    // Pointwise mutual information over adjacent-token pairs: the
    // multi-word-expression miner a tokenizer/vocab curation pass runs
    // before choosing merge candidates. PMI(a,b) =
    // ln(c_ab·N² / (P·c_a·c_b)) with unordered pairs (least/greatest
    // normalization), a min-count floor, and a global top-k.
    // Shape: ONE (pair) count shuffle over the corpus bigrams; the
    // unigram table is vocab-bounded and broadcast; N/P are one scalar
    // agg; the top-k is TakeOrdered — no window, no second corpus pass.
    // Determinism: the inner ratio is pure double arithmetic with
    // identical association in both engines (CAST first — the integer
    // product c_ab·N² would overflow BIGINT), one ln rounded to 6 dp;
    // ties break on the pair text.
    QueryDef(
      "text_pmi_colloc",
      (s, dir) => {
        val tk = Corpus.toks(s, dir).filter(size(col("toks")) >= 2)
        val bg = tk.select(explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(least(toks[i], toks[i+1]) AS w1, " +
              "greatest(toks[i], toks[i+1]) AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val pairCnt = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= PmiMinCount)
        val uni = tk.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val tots = tk.agg(
          sum(size(col("toks"))).as("n_tok"),
          sum(size(col("toks")) - 1).as("n_pair"))
        pairCnt
          .join(broadcast(uni.select(col("tok").as("w1"), col("cu").as("ca"))), "w1")
          .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("cb"))), "w2")
          .crossJoin(broadcast(tots))
          .select(col("w1"), col("w2"), col("cab"),
            round(expr("ln(CAST(cab AS DOUBLE) * n_tok * n_tok " +
              "/ (CAST(n_pair AS DOUBLE) * ca * cb))"), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(PmiTopK)
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck()} WHERE len(toks) >= 2),
        bg AS (
          SELECT least(a, b) AS w1, greatest(a, b) AS w2 FROM (
            SELECT
              unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS a,
              unnest(list_transform(range(len(toks) - 1), i -> toks[i+2])) AS b
            FROM tk)),
        paircnt AS (
          SELECT w1, w2, count(*) AS cab FROM bg GROUP BY w1, w2
          HAVING count(*) >= $PmiMinCount),
        uni AS (
          SELECT tok, count(*) AS cu
          FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok),
        tots AS (
          SELECT sum(len(toks)) AS n_tok, sum(len(toks) - 1) AS n_pair FROM tk)
        SELECT p.w1, p.w2, p.cab,
          round(ln(CAST(p.cab AS DOUBLE) * n_tok * n_tok
            / (CAST(n_pair AS DOUBLE) * u1.cu * u2.cu)), 6) AS pmi
        FROM paircnt p
        JOIN uni u1 ON p.w1 = u1.tok
        JOIN uni u2 ON p.w2 = u2.tok
        CROSS JOIN tots
        ORDER BY pmi DESC, w1, w2
        LIMIT $PmiTopK"""),
      doc = "PMI collocations (Church & Hanks 1990): one pair-count " +
        "shuffle, broadcast unigram table, TakeOrdered top-k; the MWE " +
        "mining pass ahead of tokenizer merge selection."),

    // ── HITS hubs & authorities (Kleinberg 1999) ─────────────────────
    // The mutual-reinforcement companion to PageRank on the DIRECTED
    // bipartite customer→supplier graph: a(s) = Σ h(c) over in-edges,
    // h(c) = Σ a(s) over out-edges, SUM-normalized to 1 after every
    // half-step (the ℓ1 variant — same fixpoint direction as
    // Kleinberg's ℓ2, but the normalizer stays in exact integers).
    // Scores live in BIGINT picounits; the normalize product
    // raw·10^12 can reach 10^24, so it widens through DECIMAL(38,0)
    // before the exact floor-division — still no float anywhere.
    // Shape: the checkpointed pair list ⋈ broadcast scores + ONE
    // groupBy per half-step, a 1-row normalizer crossJoin — identical
    // scaling behavior to graph_pagerank.
    QueryDef(
      "graph_hits",
      (s, dir) => hitsPlan(s, dir, bcast = true),
      Some(hitsSql),
      doc = "HITS (Kleinberg 1999) on the directed customer→supplier " +
        "bipartite graph: checkpointed pair list, one groupBy per " +
        "half-step, l1 normalization in exact integer picounits " +
        "(DECIMAL(38,0) widening for the normalize product)."),

    // ── co-partitioned twins: the 100 TB rank-join form ──────────────
    // Identical semantics and bit-identical BIGINT-picounit results to
    // the broadcast rows above (shared oracles); the edge list is
    // hash-partitioned on the iteration join key before its one-time
    // checkpoint and each iteration shuffle-hash-joins the node-sized
    // rank table into that fixed layout — the plan that survives a
    // crawl-scale graph whose node table outgrows the broadcast budget
    // (the broadcast rows' one scale assumption, VERDICT r10).
    QueryDef(
      "graph_pagerank_partitioned",
      (s, dir) => pagerankPlan(s, dir, bcast = false),
      Some(pagerankSql),
      doc = "PageRank, co-partitioned rank join: edges checkpointed " +
        "hash-partitioned on src, ranks shuffle-hash-joined per " +
        "iteration — no broadcast of the node table anywhere; " +
        "bit-identical to graph_pagerank (exact integer picounits)."),

    QueryDef(
      "graph_pagerank_salted",
      (s, dir) => pagerankSaltedPlan(s, dir),
      Some(pagerankSql),
      doc = "PageRank, degree-skew-salted co-partitioned join: edges " +
        "carry salt = hash(dst) mod 4 and partition on (src, salt) — a " +
        "celebrity node's edge list spreads across 4 partitions (which " +
        "AQE cannot do to a checkpointed edge side) — while each " +
        "iteration replicates the node-sized rank table x4 into the " +
        "same layout; bit-identical to graph_pagerank."),

    QueryDef(
      "graph_trustrank_partitioned",
      (s, dir) => trustrankPlan(s, dir, bcast = false),
      Some(trustrankSql),
      doc = "TrustRank, co-partitioned rank join (see " +
        "graph_pagerank_partitioned); bit-identical to graph_trustrank."),

    QueryDef(
      "graph_hits_partitioned",
      (s, dir) => hitsPlan(s, dir, bcast = false),
      Some(hitsSql),
      doc = "HITS, co-partitioned score join: the directed pair list is " +
        "stored twice (partitioned on a and on b — the src/dst double " +
        "layout) because half-steps alternate join keys; bit-identical " +
        "to graph_hits.")
  )

  private def hitsSql: String =
    s"""WITH pairs AS (
          SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nc AS (SELECT count(*) AS n FROM (SELECT DISTINCT a FROM pairs)),
        h0 AS (
          SELECT a, 1000000000000 // (SELECT n FROM nc) AS v
          FROM (SELECT DISTINCT a FROM pairs)),
        a1r AS (
          SELECT p.b, sum(h.v) AS raw FROM pairs p JOIN h0 h ON p.a = h.a GROUP BY p.b),
        a1 AS (
          SELECT b, CAST(CAST(raw AS HUGEINT) * 1000000000000
            // (SELECT sum(raw) FROM a1r) AS BIGINT) AS v FROM a1r),
        h1r AS (
          SELECT p.a, sum(x.v) AS raw FROM pairs p JOIN a1 x ON p.b = x.b GROUP BY p.a),
        h1 AS (
          SELECT a, CAST(CAST(raw AS HUGEINT) * 1000000000000
            // (SELECT sum(raw) FROM h1r) AS BIGINT) AS v FROM h1r),
        a2r AS (
          SELECT p.b, sum(h.v) AS raw FROM pairs p JOIN h1 h ON p.a = h.a GROUP BY p.b),
        a2 AS (
          SELECT b, CAST(CAST(raw AS HUGEINT) * 1000000000000
            // (SELECT sum(raw) FROM a2r) AS BIGINT) AS v FROM a2r),
        h2r AS (
          SELECT p.a, sum(x.v) AS raw FROM pairs p JOIN a2 x ON p.b = x.b GROUP BY p.a),
        h2 AS (
          SELECT a, CAST(CAST(raw AS HUGEINT) * 1000000000000
            // (SELECT sum(raw) FROM h2r) AS BIGINT) AS v FROM h2r),
        uni AS (
          SELECT a AS node, 'hub' AS kind, v FROM h2
          UNION ALL
          SELECT b AS node, 'auth' AS kind, v FROM a2)
        SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                    ELSE 's' || (node // 2) END AS node,
          kind, CAST(v AS DOUBLE) / 1000000000000.0 AS score
        FROM uni
        ORDER BY kind, score DESC, node"""

  private def pagerankSql: String = {
    val base = s"""WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      edges AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON s.src = d.src),
      n AS (SELECT count(*) AS n_nodes FROM (SELECT DISTINCT src FROM edges)),
      r0 AS (
        SELECT src AS node, 1000000000000 // (SELECT n_nodes FROM n) AS r
        FROM (SELECT DISTINCT src FROM edges))"""
    val steps = (1 to PrIters).map { i =>
      s""",
      r$i AS (
        SELECT e.dst AS node,
          15000000000000 // (100 * (SELECT n_nodes FROM n))
            + CAST(sum((85 * r.r) // (100 * e.deg)) AS BIGINT) AS r
        FROM edges e
        JOIN r${i - 1} r ON e.src = r.node
        GROUP BY e.dst)"""
    }.mkString
    base + steps +
      s"""
      SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                  ELSE 's' || (node // 2) END AS node,
        CAST(r AS DOUBLE) / 1000000000000.0 AS pr FROM r$PrIters
      ORDER BY pr DESC, node"""
  }

  private def trustrankSql: String = {
    val base = s"""WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      edges AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON s.src = d.src),
      seeds AS (
        SELECT DISTINCT src FROM edges
        WHERE src % 2 = 1 AND (src // 2) % 3 = 0),
      ns AS (SELECT count(*) AS n_seeds FROM seeds),
      t0 AS (
        SELECT src AS node, 1000000000000 // (SELECT n_seeds FROM ns) AS r
        FROM seeds)"""
    val steps = (1 to PrIters).map { i =>
      s""",
      t$i AS (
        SELECT node, CAST(sum(w) AS BIGINT) AS r FROM (
          SELECT e.dst AS node, (85 * t.r) // (100 * e.deg) AS w
          FROM edges e JOIN t${i - 1} t ON e.src = t.node
          UNION ALL
          SELECT src AS node,
            15000000000000 // (100 * (SELECT n_seeds FROM ns)) AS w
          FROM seeds)
        GROUP BY node)"""
    }.mkString
    base + steps +
      s"""
      SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                  ELSE 's' || (node // 2) END AS node,
        CAST(r AS DOUBLE) / 1000000000000.0 AS trust,
        node % 2 = 1 AND (node // 2) % 3 = 0 AS is_seed
      FROM t$PrIters
      ORDER BY trust DESC, node"""
  }
}
