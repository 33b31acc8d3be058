package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.operators.Layouts

/** The graph family: every `graph_*` row, its helpers and its DuckDB
  * oracles — rank (PageRank, TrustRank, HITS), communities (label
  * propagation, modularity), pruning (k-core) and motifs (butterflies,
  * triangles, clustering coefficient, degree histogram).
  *
  * Two edge substrates, each built once:
  *  - the DISTINCT customer–supplier co-order pairs (`custSupp`): raw
  *    (c, sp) for the bipartite motif rows, LONG node ids (cust = 2k,
  *    supp = 2k+1 — 8-byte join keys; the ×10 probe measured a
  *    string-keyed draft ~2× slower) for the symmetric transaction graph
  *    with degrees (`transactionEdges`) the iterative rows run over;
  *  - the DISTINCT part co-order edges (`partEdges`, degrees via
  *    `degrees`) under the triangle, clustering and histogram rows.
  *
  * Every node-sized join goes through ONE switch (`bcastJoin`):
  * broadcast for the `graph_*` rows (nodes ≪ broadcast budget), or
  * shuffle-hash into the edges' checkpointed `Layouts.partitioned`
  * layout for the `_partitioned` twins — the edge side never
  * re-exchanges, and exact integer arithmetic makes each twin
  * bit-identical to its broadcast form (shared oracles). The iterative
  * rows materialize the edge list ONCE (`localCheckpoint` — the
  * ConnectedComponents recipe: unrolled iterations nest the edge
  * subtree where ReuseExchange does not reliably dedup it; the ×10
  * probe measured 51 s for the re-run build). A row that checkpoints
  * its result builds a `(result, stages)` pipeline and declares
  * `Layouts.materialize` of it; Plans and specs read the pipeline.
  *
  * Reference scope note: alxmancilla/parquet-demo has no graph surface
  * (src/parquet_demo/io.py:21-66); [EXT] like all of SURVEY §2.7.
  */
object GraphQueries {

  /** PageRank/TrustRank/HITS unrolled iterations (damping 0.85 is the
    * `85L … 100L` picounit literal of every step).
    */
  val PrIters = 3

  /** Degree-skew salt factor for graph_pagerank_salted. */
  val RankSalt = 4

  /** Synchronous label-propagation rounds (fixed — both engines replay
    * the identical unrolled recursion; bipartite graphs can oscillate,
    * so a fixed round count IS the declared semantics, not a
    * convergence claim).
    */
  val LpaIters = 4

  /** k-core degree threshold and bounded peel rounds (a fixed unrolled
    * recursion both engines replay; the spec checks the fixture reaches
    * the true fixed point inside the bound).
    */
  val KcoreK = 10
  val KcorePeels = 4

  /** Per-supplier degree cap H: capped wedge work is ≤ H²/2 per
    * supplier whatever the hub degree. 64 binds on every fixture
    * (supplier degrees are 139–679 across sf0.001–sf0.1), so the cap
    * path is genuinely exercised, and it keeps ~C(64,2)·|supp| ≈ 2M
    * wedge pairs at sf0.1 vs the exact form's Σ deg² ≈ 344M.
    */
  val ButterflyCap = 64

  /** Per-node out-neighbor cap for graph_triangles_capped / ST26: the
    * id-oriented out-degree is NOT √m-bounded (a low-id hub keeps its
    * whole neighborhood — id orientation is what an online stream can
    * compute BEFORE degrees are known), so the cap is the bound:
    * wedge work ≤ C(cap,2) per node, node-linear at any hub degree. 32
    * binds on every fixture (id-oriented out-degrees reach 44+ at
    * sf0.001), so the cap path is genuinely exercised.
    */
  val TriCap = 32

  // ════ substrates, join switch, node label ══════════════════════════

  /** DISTINCT customer–supplier co-order pairs, projected to
    * (`cust`, `supp`). */
  private def custSupp(s: SparkSession, dir: String, cust: Column,
      supp: Column): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select(cust, supp)
      .distinct()
  }

  /** Directed co-order pairs (a = cust 2k → b = supp 2k+1). */
  private def coOrderPairs(s: SparkSession, dir: String): DataFrame =
    custSupp(s, dir, (col("o_custkey") * 2).as("a"),
      (col("l_suppkey") * 2 + 1).as("b"))

  /** Raw (c, sp) bipartite edges — the butterfly input. */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    custSupp(s, dir, col("o_custkey").as("c"), col("l_suppkey").as("sp"))

  /** Symmetric (src, dst, deg) transaction edges: the co-order pairs in
    * both directions (⇒ no dangling mass, every node has in-edges),
    * each carrying its source's degree. */
  private def symmetricEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = coOrderPairs(s, dir)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val degTab = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    sym.join(degTab, "src")
  }

  /** `symmetricEdges`, materialized once.
    *
    * @param partitioned when true, hash-partitioned on `src`
    *   (`Layouts.partitioned` — NOT a bare repartition+localCheckpoint:
    *   under AQE a checkpoint's LogicalRDD reports UnknownPartitioning,
    *   so every round's join silently re-shuffled the edge side; caught
    *   by Round15Spec's exchange pin) — the layout every co-partitioned
    *   round reuses; callers release it via `Layouts.releaseCheckpoint`
    *   once their rounds have materialized. When false: plain
    *   localCheckpoint (broadcast consumers don't care about layout).
    */
  private[graft] def transactionEdges(s: SparkSession, dir: String,
      partitioned: Boolean = false): DataFrame = {
    val joined = symmetricEdges(s, dir)
    if (partitioned)
      Layouts.partitioned(joined, Seq(col("src")), Layouts.IterativeRows)
    else joined.localCheckpoint()
  }

  /** DISTINCT part co-order edges (x.sp < y.sp within one order), named
    * (`a`, `b`). Per-order part lists are lineitem-bounded (~7), so pair
    * generation is ≤ C(7,2) per order — never a hub blow-up here. */
  private def partEdges(s: SparkSession, dir: String, a: String,
      b: String): DataFrame = {
    val sos = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp").as(a), col("y.sp").as(b))
      .distinct()
  }

  /** Undirected degree table (n, d) of an (a, b) edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** The node-sized join: broadcast `nodes` (fixture-fast, assumes
    * nodes ≪ broadcast budget), or shuffle-hash it into `df`'s layout
    * (the form that survives a node table too big to broadcast). */
  private def bcastJoin(df: DataFrame, nodes: DataFrame, key: String,
      bcast: Boolean): DataFrame =
    if (bcast) df.join(broadcast(nodes), key)
    else df.join(nodes.hint("shuffle_hash"), key)

  /** LONG node id column `c` → 'c<k>' / 's<k>'. */
  private def label(c: String): Column =
    expr(s"IF($c % 2 = 0, concat('c', $c div 2), concat('s', $c div 2))")

  // ════ rank: PageRank, TrustRank, HITS ══════════════════════════════

  /** The edges ⋈ ranks join of the plain forms (`r` keyed by `node`). */
  private def rankJoin(edges: DataFrame, bcast: Boolean)(r: DataFrame)
      : DataFrame =
    bcastJoin(edges, r.withColumnRenamed("node", "src"), "src", bcast)

  /** PageRank over materialized (src, dst, deg) edges: (uniform initial
    * ranks, one iteration). An iteration is `join` + ONE groupBy(dst)
    * shuffle, all in exact BIGINT picounits; `join` is the rank join —
    * `rankJoin`, or graph_pagerank_salted's replicating join.
    */
  private def pagerank(edges: DataFrame, join: DataFrame => DataFrame)
      : (DataFrame, DataFrame => DataFrame) = {
    val nTab = edges.select(col("src")).distinct()
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    val r0 = edges.select(col("src")).distinct()
      .crossJoin(broadcast(nTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_nodes").as("r"))
    (r0, r => join(r)
      .select(col("dst"), expr("(85L * r) div (100L * deg)").as("w"))
      .groupBy(col("dst"))
      .agg(sum(col("w")).as("sw"))
      .crossJoin(broadcast(nTab))
      .select(col("dst").as("node"),
        expr("15000000000000L div (100L * n_nodes) + sw").as("r")))
  }

  /** TrustRank (every third supplier seeded): (uniform seed ranks, one
    * iteration). An iteration UNIONs the damped contributions with the
    * seed teleport base and re-aggregates — unreached nodes stay absent.
    */
  private def trustrank(edges: DataFrame, bcast: Boolean)
      : (DataFrame, DataFrame => DataFrame) = {
    val seeds = edges.select(col("src")).distinct()
      .filter(expr("src % 2 = 1 AND (src div 2) % 3 = 0"))
    val nSeedTab = seeds.agg(count(lit(1)).as("n_seeds")).localCheckpoint()
    val t0 = seeds.crossJoin(broadcast(nSeedTab))
      .select(col("src").as("node"),
        expr("1000000000000L div n_seeds").as("r"))
    (t0, t => {
      val contrib = rankJoin(edges, bcast)(t)
        .select(col("dst").as("node"),
          expr("(85L * r) div (100L * deg)").as("w"))
      val seedBase = seeds.crossJoin(broadcast(nSeedTab))
        .select(col("src").as("node"),
          expr("15000000000000L div (100L * n_seeds)").as("w"))
      contrib.unionByName(seedBase)
        .groupBy(col("node")).agg(sum(col("w")).as("r"))
    })
  }

  /** Display projections: LONG node → label, picounits → double (the
    * only float, IEEE-identical in both engines). */
  private def rankProject(r: DataFrame): DataFrame =
    r.select(label("node").as("node"),
      (col("r").cast(DoubleType) / lit(1.0e12)).as("pr"))
      .orderBy(col("pr").desc, col("node"))

  private def trustProject(t: DataFrame): DataFrame =
    t.select(label("node").as("node"),
      (col("r").cast(DoubleType) / lit(1.0e12)).as("trust"),
      expr("node % 2 = 1 AND (node div 2) % 3 = 0").as("is_seed"))
      .orderBy(col("trust").desc, col("node"))

  /** PrIters unrolled rounds. The partitioned form checkpoints EVERY
    * round (the ×50 probe measured the 3-iteration NESTED plan at
    * 127.7 s vs ~38 s checkpoint-at-a-time) and, once the rounds have
    * materialized, releases the edge layout (CacheHygieneSpec policy);
    * the broadcast form keeps the nested shape (the fixture-fast path).
    */
  private def unrolled(edges: DataFrame, r0: DataFrame, bcast: Boolean)(
      step: DataFrame => DataFrame): DataFrame = {
    val fin = (1 to PrIters).foldLeft(r0)((r, _) =>
      if (bcast) step(r) else step(r).localCheckpoint())
    if (!bcast) Layouts.releaseCheckpoint(edges)
    fin
  }

  /** graph_pagerank / graph_pagerank_partitioned. */
  def pagerankPlan(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val (r0, step) = pagerank(edges, rankJoin(edges, bcast))
    rankProject(unrolled(edges, r0, bcast)(step))
  }

  /** Degree-skew-guarded PageRank (the third rank-join form): the
    * co-partitioned layout hashes edges by `src`, so a power-law
    * "celebrity" node's ENTIRE edge list lands in one partition — and
    * because the materialized edge side enters the join as a cached
    * scan, not an exchange, AQE's skew-join splitter cannot re-split it.
    * Edges carry salt = hash(dst) mod RankSalt and co-partition on
    * (src, salt), while each iteration REPLICATES the node-sized rank
    * table ×RankSalt into the same layout (the fragment-replicate idea
    * of Salting.gridSelfPairs: replicate the SMALL side, split the HOT
    * side). Every edge still joins its rank row exactly once, so the
    * result is bit-identical to graph_pagerank (shared oracle).
    */
  def pagerankSaltedPlan(s: SparkSession, dir: String): DataFrame = {
    val edges = Layouts.partitioned(
      symmetricEdges(s, dir)
        .withColumn("salt", pmod(hash(col("dst")), lit(RankSalt))),
      Seq(col("src"), col("salt")), Layouts.IterativeRows)
    val (r0, step) = pagerank(edges, r =>
      edges.join(r.select(col("node").as("src"), col("r"),
          explode(expr(s"sequence(0, ${RankSalt - 1})")).as("salt"))
        .hint("shuffle_hash"), Seq("src", "salt")))
    rankProject(unrolled(edges, r0, bcast = false)(step))
  }

  /** One un-checkpointed PageRank iteration — the plan pin's view: the
    * declared rows checkpoint every round, so the join strategy under
    * test is only visible on a single step's plan.
    */
  def pagerankOneStep(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val (r0, step) = pagerank(edges, rankJoin(edges, bcast))
    step(r0)
  }

  /** graph_trustrank / graph_trustrank_partitioned. */
  def trustrankPlan(s: SparkSession, dir: String, bcast: Boolean): DataFrame = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val (t0, step) = trustrank(edges, bcast)
    trustProject(unrolled(edges, t0, bcast)(step))
  }

  /** Convergence-driven PageRank: iterate until the max per-node rank
    * change is ≤ `epsPico` picounits (see `iterateUntil`).
    *
    * @return (final ranks projected for display, iterations run,
    *         per-round max-delta trace in picounits — geometric in the
    *         damping factor, spec-pinned monotone).
    */
  def pagerankUntil(s: SparkSession, dir: String, epsPico: Long,
      maxIter: Int = 50, bcast: Boolean = false)
      : (DataFrame, Int, Seq[Long]) = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val (r0, step) = pagerank(edges, rankJoin(edges, bcast))
    iterateUntil(edges, bcast, r0, step, rankProject, epsPico, maxIter)
  }

  /** Convergence-driven TrustRank — the same ε loop over the
    * seed-teleport iteration. The delta metric treats a node newly
    * entering the trust frontier as a full-rank change.
    */
  def trustrankUntil(s: SparkSession, dir: String, epsPico: Long,
      maxIter: Int = 50, bcast: Boolean = false)
      : (DataFrame, Int, Seq[Long]) = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val (t0, step) = trustrank(edges, bcast)
    iterateUntil(edges, bcast, t0, step, trustProject, epsPico, maxIter)
  }

  /** Shared convergence loop (the ConnectedComponents recipe applied to
    * rank iteration): every round's rank table is `localCheckpoint`ed so
    * the plan never embeds previous rounds (analysis cost stays flat),
    * the superseded round's blocks are released immediately, and the
    * convergence test is one node-sized join + scalar collect — both
    * rank tables arrive hash-partitioned on `node` from their own
    * groupBys, so the delta join moves nothing. The partitioned edge
    * layout is released after the last round.
    */
  private def iterateUntil(edges: DataFrame, bcast: Boolean, r0: DataFrame,
      step: DataFrame => DataFrame, project: DataFrame => DataFrame,
      epsPico: Long, maxIter: Int): (DataFrame, Int, Seq[Long]) = {
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
      Layouts.releaseCheckpoint(r)
      r = next
      iter += 1
      done = d <= epsPico
    }
    if (!bcast) Layouts.releaseCheckpoint(edges)
    (project(r), iter, deltas.toSeq)
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
      else Layouts.partitioned(basePairs, Seq(col("a")), Layouts.IterativeRows)
    val pairsB =
      if (bcast) pairsA
      else Layouts.partitioned(basePairs, Seq(col("b")), Layouts.IterativeRows)
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
      val raw0 = bcastJoin(pairs, scores, key, bcast)
        .groupBy(col(out)).agg(sum(col("v")).as("raw"))
      // partitioned form: checkpoint per half-step (see `unrolled`) —
      // on `raw`, so the normalizer scalar AND the next half-step both
      // read executor-local blocks instead of re-evaluating the join
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
      Layouts.releaseCheckpoint(pairsA)
      Layouts.releaseCheckpoint(pairsB)
    }
    val hubs = h2.select(col("a").as("node"), lit("hub").as("kind"), col("v"))
    val auths = a2.select(col("b").as("node"), lit("auth").as("kind"), col("v"))
    hubs.unionByName(auths)
      .select(label("node").as("node"), col("kind"),
        (col("v").cast(DoubleType) / lit(1.0e12)).as("score"))
      .orderBy(col("kind"), col("score").desc, col("node"))
  }

  // ════ communities: label propagation, modularity ═══════════════════

  /** Round-0 labels: every node labels itself. */
  private def lpaInit(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))

  /** (edges, final LPA label table (node, lbl) after LpaIters
    * synchronous rounds). `bcast = false` is the co-partitioned layout:
    * each round shuffle-hash-joins the label table into the
    * src-partitioned edges and localCheckpoints the round result (the
    * `unrolled` discipline). Bit-identical label tables either way
    * (exact integer counts, deterministic min-label argmax).
    */
  private def lpaFinal(s: SparkSession, dir: String, bcast: Boolean)
      : (DataFrame, DataFrame) = {
    val edges = transactionEdges(s, dir, partitioned = !bcast)
    val fin = (1 to LpaIters).foldLeft(lpaInit(edges)) { (l, i) =>
      val next = lpaRound(edges, l, bcast)
      if (bcast) next
      else {
        // localCheckpoint is EAGER: once round i's blocks exist, round
        // i−1's node-sized blocks are dead weight (round i's plan scans
        // its OWN rdd), and neither clearCache() nor Dataset.unpersist
        // releases them — free the checkpointed RDD directly. Round 0
        // (l0) is plain lineage: skip.
        val cp = next.localCheckpoint()
        if (i > 1) Layouts.releaseCheckpoint(l)
        cp
      }
    }
    (edges, fin)
  }

  /** One synchronous LPA round: edges ⋈ labels (`bcastJoin`), one
    * (node, lbl) count shuffle, node-partitioned argmax window. */
  private def lpaRound(edges: DataFrame, l: DataFrame,
      bcast: Boolean): DataFrame = {
    val wArg = Window.partitionBy(col("node"))
      .orderBy(col("c").desc, col("lbl").asc)
    bcastJoin(edges, l.withColumnRenamed("node", "src"), "src", bcast)
      .select(col("dst").as("node"), col("lbl"))
      .groupBy(col("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("node"), col("lbl"))
  }

  /** ONE un-checkpointed co-partitioned LPA round over the persisted
    * src-partitioned edge layout (the caller releases the stage) — the
    * plan pin's view: exactly the label side, the count rollup and the
    * argmax window exchange, none above the edge scan.
    */
  def lpaOneRound(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val edges = transactionEdges(s, dir, partitioned = true)
    (lpaRound(edges, lpaInit(edges), bcast = false), Seq(edges))
  }

  /** (node, community, community_size) over a final label table. */
  private def lpaProject(fin: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("lbl"))
    fin
      .withColumn("community_size", count(lit(1)).over(wc))
      .select(label("node").as("node"), label("lbl").as("community"),
        col("community_size"))
      .orderBy(col("node"))
  }

  /** Newman-Girvan modularity of the LPA partition: (1-row result,
    * stages). Every label join goes through `bcastJoin`; exact integer
    * counting ⇒ bit-identical output in both forms.
    */
  private def modularity(s: SparkSession, dir: String, bcast: Boolean)
      : (DataFrame, Seq[DataFrame]) = {
    val (edges, fin0) = lpaFinal(s, dir, bcast)
    // four consumers below (e_in twice, K_c, node count) — cut the
    // 4-round LPA lineage once; the label table is node-sized. The
    // bcast=false path already returns a checkpointed final round —
    // don't copy its blocks a second time.
    val fin = if (bcast) fin0.localCheckpoint() else fin0
    val deg = edges.select(col("src").as("node"), col("deg")).distinct()
    val eIn = bcastJoin(
      bcastJoin(edges, fin.select(col("node").as("src"), col("lbl").as("la")),
        "src", bcast),
      fin.select(col("node").as("dst"), col("lbl").as("lb")), "dst", bcast)
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("e_in"))
    val kc = bcastJoin(deg, fin, "node", bcast)
      .groupBy(col("lbl")).agg(sum(col("deg")).as("kc"))
    val sk = kc.agg(
      count(lit(1)).as("n_communities"),
      sum((col("kc") * col("kc")).cast(DecimalType(38, 0))).as("sk2"))
    val nn = fin.agg(count(lit(1)).as("n_nodes"))
    val ee = edges.agg(count(lit(1)).as("e"))
    val out = nn.crossJoin(broadcast(sk)).crossJoin(broadcast(eIn))
      .crossJoin(broadcast(ee))
      .select(col("n_nodes"), col("n_communities"),
        expr("e div 2").as("m_edges"),
        round(expr(
          "CAST(e_in AS DOUBLE) / e - CAST(sk2 AS DOUBLE) / (CAST(e AS DOUBLE) * e)"), 6)
          .as("modularity"))
    (out, Seq(edges))
  }

  // ════ pruning: k-core ══════════════════════════════════════════════

  /** Round-1 survivor set (full-graph degree >= k) over the
    * co-partitioned layout: the grouping key IS the persisted
    * partitioning key, so this rollup aggregates in place. */
  private def firstSurvivors(e0: DataFrame): DataFrame =
    e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
      .select(col("src"))

  /** One co-partitioned peel: survivors `kPrev` (a `src` column)
    * shuffle-hash into the persisted edge layout, surviving-source
    * counts roll up per dst, threshold filter. */
  private def peelRound(e0: DataFrame, kPrev: DataFrame): DataFrame =
    e0.join(kPrev.hint("shuffle_hash"), "src")
      .groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
      .select(col("dst").as("src"))

  /** The src-partitioned edge layout and its narrow (src, dst)
    * projection (which keeps the layout). */
  private def peelLayout(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ePart = transactionEdges(s, dir, partitioned = true)
    (ePart, ePart.select(col("src"), col("dst")))
  }

  /** graph_kcore_partitioned's pipeline — k-core with ZERO edge-side
    * re-exchanges. The broadcast form's peel is a degree rollup plus TWO
    * node-sized broadcast semi-joins (one per endpoint); a dst-keyed
    * semi-join would re-shuffle the edge list every round, so this form
    * avoids dst joins entirely via the edge list's SYMMETRY: a node's
    * degree inside the surviving subgraph equals the number of
    * SURVIVING SOURCES pointing at it —
    *
    *   deg_i(v) = #{u ∈ K_{i−1} : (u,v) ∈ E} = #{u ∈ K_{i−1} : (v,u) ∈ E}
    *
    * — so each peel is survivors shuffle-hash-joined into the layout,
    * then ONE map-side-combined groupBy(dst) (node-sized shuffle, never
    * the edge list). Peeling is monotone (survivor sets only shrink), so
    * the filter needs no membership check against the previous round.
    */
  private def kcorePartitioned(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val (ePart, e0) = peelLayout(s, dir)
    val kN = (2 to KcorePeels).foldLeft(firstSurvivors(e0))(
      (kPrev, _) => peelRound(e0, kPrev))
    // degrees inside the surviving subgraph, restricted to survivors (a
    // peeled node can retain surviving neighbors; it must not appear)
    (e0.join(kN.hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg"))
      .join(kN.withColumnRenamed("src", "node").hint("shuffle_hash"),
        Seq("node"), "semi")
      .select(label("node").as("node"), col("deg"))
      .orderBy(col("node")), Seq(ePart))
  }

  /** ONE un-checkpointed co-partitioned peel (round 2 over the round-1
    * survivors; the caller releases the stage) — the plan pin's view. */
  def kcoreOnePeel(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val (ePart, e0) = peelLayout(s, dir)
    (peelRound(e0, firstSurvivors(e0)), Seq(ePart))
  }

  // ════ motifs: butterflies, triangles, clustering ═══════════════════

  /** Butterfly statistics of a (c, sp) bipartite edge set — the wedge
    * recipe (Sanei-Mehri 2018 §3): per-supplier wedge self-join,
    * customer-pair shared-supplier rollup w, butterflies = Σ C(w, 2). */
  private def butterflyStats(edges: DataFrame): DataFrame =
    edges.as("a").join(edges.as("b"),
        col("a.sp") === col("b.sp") && col("a.c") < col("b.c"))
      .select(col("a.c").as("c1"), col("b.c").as("c2"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("w"))
      .agg(
        sum(expr("w * (w - 1) div 2")).as("butterflies"),
        sum(col("w")).as("wedges"),
        count(lit(1)).as("n_pairs"),
        max(col("w")).as("max_shared"))

  /** graph_butterflies_capped's pipeline: per supplier keep the
    * ButterflyCap smallest customers (Spark rewrites the rn <= H filter
    * to WindowGroupLimit — each map task forwards at most H rows per
    * supplier), then `butterflyStats` on the capped graph. Stages: the
    * persisted capped and full edge sets.
    */
  private[graft] def cappedButterflies(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val cs = bipartiteEdges(s, dir).persist()
    val w = Window.partitionBy(col("sp")).orderBy(col("c").asc)
    val capped = cs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ButterflyCap)
      .select(col("c"), col("sp"))
      .persist()
    val res = butterflyStats(capped)
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_edges_kept"))))
      .crossJoin(broadcast(cs.agg(count(lit(1)).as("n_edges_total"))))
      .select(col("butterflies"), col("wedges"), col("n_pairs"),
        col("max_shared"), col("n_edges_kept"), col("n_edges_total"))
    (res, Seq(capped, cs))
  }

  /** Part co-order edges, degrees, and the degree-ordered orientation:
    * (oriented edges, persisted undirected edge set, degree table); the
    * caller releases both stages. The edge set is PERSISTED eagerly:
    * the degree rollup AND both sides of the orientation join consume
    * it — in the broadcast form each BroadcastExchange otherwise
    * re-derives the whole distinct self-join (measured ×10: 99.2 s vs
    * the shuffle-hash twin's 29.3 s, whose exchanges Spark reuses).
    */
  private def orientedCoOrderEdges(s: SparkSession, dir: String,
      bcast: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val e = partEdges(s, dir, "a", "b").persist()
    e.count()
    val (orientedPlan, deg) = orientedFrom(e, bcast)
    // materialize HASH-PARTITIONED on src: the wedge self-join p⋈q on
    // src then consumes BOTH sides from the checkpointed layout with
    // ZERO exchanges, and the out-degree rollup is map-side — one layout
    // shuffle of |o| replaces two self-join exchanges of |o| (measured
    // ×10: 82.9 s → see BASELINE round-15b table)
    (Layouts.partitioned(orientedPlan, Seq(col("src"))), e, deg)
  }

  /** Degree rollup + degree-ordered orientation (every edge from its
    * lower-(degree, id) endpoint — out-degree O(√m)) over an (a, b)
    * pair set: (oriented plan, degree table). The two edge ⋈ degree
    * joins go through `bcastJoin`; the orientation is a pure per-edge
    * function of (deg_a, deg_b, a, b), so both forms orient identically.
    * Exposed un-materialized for the spec's join-strategy pin.
    */
  private[graft] def orientedFrom(e: DataFrame, bcast: Boolean)
      : (DataFrame, DataFrame) = {
    val deg = degrees(e)
    val lower = col("da") <= col("db") // tie ⇒ a (a < b by construction)
    val dega = deg.select(col("n").as("a"), col("d").as("da"))
    val degb = deg.select(col("n").as("b"), col("d").as("db"))
    val joined = bcastJoin(bcastJoin(e, dega, "a", bcast), degb, "b", bcast)
    (joined.select(
      when(lower, col("a")).otherwise(col("b")).as("src"),
      when(lower, col("b")).otherwise(col("a")).as("dst"),
      when(lower, col("db")).otherwise(col("da")).as("dd")), deg)
  }

  /** Closed oriented wedges: the p⋈q wedge self-join on src under the
    * (dd, dst) order (each dst pair once per src), projected to `cols`
    * (which must name `v` and `t`), closed by a shuffle-hash inner join
    * against the oriented edge set — measured FASTER at sf0.1 than
    * broadcasting the 1.2 M-edge build side into the wedge stage (4.9 s
    * vs 9.2 s warm min-of-3), and the only closure shape that survives
    * an edge set beyond the broadcast budget.
    */
  private def closedWedges(o: DataFrame, cols: Column*): DataFrame =
    o.as("p").join(o.as("q"),
        col("p.src") === col("q.src") &&
          (col("p.dd") < col("q.dd") ||
            (col("p.dd") === col("q.dd") &&
              col("p.dst") < col("q.dst"))))
      .select(cols: _*)
      .join(o.select(col("src").as("v"), col("dst").as("t"))
        .hint("shuffle_hash"), Seq("v", "t"))

  /** graph_triangles(_partitioned)'s pipeline (stage: the oriented
    * layout). n_wedges is NOT counted off the wedge stream: it equals
    * Σ C(outdeg, 2) exactly, read with max_outdeg off ONE map-side
    * rollup of the layout; node/edge stats also derive from the layout.
    */
  private[graft] def triangles(s: SparkSession, dir: String, bcast: Boolean)
      : (DataFrame, Seq[DataFrame]) = {
    val (o, e, _) = orientedCoOrderEdges(s, dir, bcast)
    // everything downstream reads the materialized oriented stage only
    e.unpersist(false)
    val nTri = closedWedges(o, col("p.dst").as("v"), col("q.dst").as("t"))
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = o.groupBy(col("src"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("n_wedges"),
        max(col("c")).as("max_outdeg"))
    val nNodes = o.select(col("src").as("n"))
      .unionByName(o.select(col("dst").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val res = nTri
      .crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(degStats))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("max_outdeg"))
    (res, Seq(o))
  }

  /** graph_clustering_coeff's pipeline (stages: the oriented layout and
    * the persisted degree table). Each CLOSED wedge is kept as an
    * (s, v, t) row and attributed to its three nodes, giving per-node
    * triangle counts t_v; LCC_v = t_v / C(deg_v, 2) with integer counts,
    * ONE IEEE division per node and a DECIMAL(28,9) order-independent
    * sum (a raw double sum would be partition-order dependent).
    */
  private[graft] def clustering(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val (o, e, deg0) = orientedCoOrderEdges(s, dir, bcast = true)
    // the summary consumes deg downstream of the oriented stage — pin
    // the node-sized rollup and release the edge set now (the oriented
    // stage is already materialized)
    val deg = deg0.persist()
    deg.count()
    e.unpersist(false)
    // only the matched (s, v, t) triangle rows — 3·T after the explode
    // — reach the nodeTri exchange
    val tri = closedWedges(o, col("p.src").as("s"), col("p.dst").as("v"),
      col("q.dst").as("t"))
    val nodeTri = tri
      .select(explode(array(col("s"), col("v"), col("t"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tv"))
    val base = deg.filter(col("d") >= 2)
      .join(nodeTri, Seq("n"), "left")
      .withColumn("tv", coalesce(col("tv"), lit(0L)))
      .withColumn("pairs", expr("d * (d - 1) div 2"))
      .withColumn("lcc",
        col("tv").cast(DoubleType) / col("pairs").cast(DoubleType))
    val res = base.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(tv) div 3").as("n_triangles"),
        expr("sum(pairs)").as("n_open_wedges"),
        expr("CAST(sum(CAST(round(lcc, 9) AS DECIMAL(28,9))) AS DOUBLE)")
          .as("lcc_sum"),
        expr("sum(CASE WHEN tv = 0 THEN 1 ELSE 0 END)").as("n_zero"),
        max(col("lcc")).as("max_lcc_raw"))
      .select(col("n_nodes"), col("n_triangles"),
        round(col("lcc_sum") / col("n_nodes").cast(DoubleType), 6)
          .as("avg_lcc"),
        round(lit(3.0) * col("n_triangles").cast(DoubleType) /
          col("n_open_wedges").cast(DoubleType), 6).as("transitivity"),
        round(col("n_zero").cast(DoubleType) /
          col("n_nodes").cast(DoubleType), 6).as("share_zero"),
        round(col("max_lcc_raw"), 6).as("max_lcc"))
    (res, Seq(o, deg))
  }

  /** graph_triangles_capped's pipeline (stages: the checkpointed capped
    * layout and the persisted pair set). ID orientation (src < dst) +
    * the TriCap smallest out-neighbors per node; the capped set is
    * materialized hash-partitioned on src so the wedge self-join reads
    * both sides from the layout with zero exchanges.
    */
  private[graft] def cappedTriangles(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    // persisted: the capped rank, total-edge count, and max_out
    // diagnostic all consume the pair set
    val e = partEdges(s, dir, "src", "dst").persist()
    e.count()
    val w = Window.partitionBy(col("src")).orderBy(col("dst").asc)
    // WindowGroupLimit bounds the rank map-side
    val capped = Layouts.partitioned(
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TriCap)
        .select(col("src"), col("dst")),
      Seq(col("src")))
    val wedges = capped.as("p").join(capped.as("q"),
        col("p.src") === col("q.src") && col("p.dst") < col("q.dst"))
      .select(col("p.dst").as("v"), col("q.dst").as("t"))
    val nTri = wedges
      .join(capped.select(col("src").as("v"), col("dst").as("t"))
        .hint("shuffle_hash"), Seq("v", "t"))
      .agg(count(lit(1)).as("triangles"))
    val nWedges = capped.groupBy(col("src"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("n_wedges"))
    val maxOut = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("max_out"))
    val res = nTri
      .crossJoin(broadcast(nWedges))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_edges_kept"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges_total"))))
      .crossJoin(broadcast(maxOut))
      .select(col("triangles"), col("n_wedges"),
        col("n_edges_kept"), col("n_edges_total"), col("max_out"))
    (res, Seq(capped, e))
  }

  // ════ DuckDB oracles ════════════════════════════════════════════════
  // (vals before `defs`, which reads them at object initialization)

  /** The transaction-graph pair CTE, shared verbatim. */
  private val pairsCte = """pairs AS (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""

  /** Symmetric (src, dst, deg) edges — PageRank's and TrustRank's. */
  private val degEdgesCtes = s"""WITH $pairsCte,
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
      edges AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON s.src = d.src)"""

  /** The bipartite (c, sp) edge CTE of both butterfly oracles. */
  private val csCte = """cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""

  /** The butterfly wedge → customer-pair CTEs over edge CTE `from`. */
  private def wedgePairsCtes(from: String): String = s"""wedges AS (
          SELECT a.c AS c1, b.c AS c2
          FROM $from a JOIN $from b ON a.sp = b.sp AND a.c < b.c),
        pairs AS (
          SELECT c1, c2, count(*) AS w FROM wedges GROUP BY c1, c2)"""

  /** The part co-order edge CTEs (`sos`, `e` named (a, b)). */
  private def partEdgesCte(a: String, b: String): String = s"""sos AS (
          SELECT DISTINCT l_orderkey AS ord, l_partkey AS sp FROM lineitem),
        e AS (
          SELECT DISTINCT x.sp AS $a, y.sp AS $b
          FROM sos x JOIN sos y ON x.ord = y.ord AND x.sp < y.sp)"""

  /** Part edges + degrees + degree-ordered orientation `o` — shared by
    * the triangle and clustering oracles. */
  private val orientedCtes = s"""WITH ${partEdgesCte("a", "b")},
        deg AS (
          SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        o AS (
          SELECT CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS src,
                 CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS dst,
                 CASE WHEN da.d <= db.d THEN db.d ELSE da.d END AS dd
          FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n)"""

  private val pagerankSql: String = {
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
    s"""$degEdgesCtes,
      n AS (SELECT count(*) AS n_nodes FROM (SELECT DISTINCT src FROM edges)),
      r0 AS (
        SELECT src AS node, 1000000000000 // (SELECT n_nodes FROM n) AS r
        FROM (SELECT DISTINCT src FROM edges))""" + steps +
      s"""
      SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                  ELSE 's' || (node // 2) END AS node,
        CAST(r AS DOUBLE) / 1000000000000.0 AS pr FROM r$PrIters
      ORDER BY pr DESC, node"""
  }

  private val trustrankSql: String = {
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
    s"""$degEdgesCtes,
      seeds AS (
        SELECT DISTINCT src FROM edges
        WHERE src % 2 = 1 AND (src // 2) % 3 = 0),
      ns AS (SELECT count(*) AS n_seeds FROM seeds),
      t0 AS (
        SELECT src AS node, 1000000000000 // (SELECT n_seeds FROM ns) AS r
        FROM seeds)""" + steps +
      s"""
      SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
                  ELSE 's' || (node // 2) END AS node,
        CAST(r AS DOUBLE) / 1000000000000.0 AS trust,
        node % 2 = 1 AND (node // 2) % 3 = 0 AS is_seed
      FROM t$PrIters
      ORDER BY trust DESC, node"""
  }

  private val hitsSql: String =
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

  /** The LPA rounds + edge CTEs shared by both community oracles. */
  private val lpaDuckCtes: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""l$i AS (
         SELECT node, lbl FROM (
           SELECT e.dst AS node, l.lbl, count(*) AS c,
             row_number() OVER (PARTITION BY e.dst
               ORDER BY count(*) DESC, l.lbl ASC) AS rn
           FROM edges e JOIN l${i - 1} l ON e.src = l.node
           GROUP BY e.dst, l.lbl) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""$pairsCte,
      edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs),
      l0 AS (
        SELECT node, node AS lbl
        FROM (SELECT DISTINCT src AS node FROM edges)),
      $rounds"""
  }

  private val lpaSql: String =
    s"""WITH $lpaDuckCtes
        SELECT
          CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
               ELSE 's' || (node // 2) END AS node,
          CASE WHEN lbl % 2 = 0 THEN 'c' || (lbl // 2)
               ELSE 's' || (lbl // 2) END AS community,
          count(*) OVER (PARTITION BY lbl) AS community_size
        FROM l$LpaIters
        ORDER BY node"""

  private val modularitySql: String =
    s"""WITH $lpaDuckCtes,
        deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
        e_in_t AS (
          SELECT count(*) AS e_in
          FROM edges e
          JOIN l$LpaIters a ON e.src = a.node
          JOIN l$LpaIters b ON e.dst = b.node
          WHERE a.lbl = b.lbl),
        kc AS (
          SELECT l.lbl, sum(deg) AS kc
          FROM deg d JOIN l$LpaIters l ON d.node = l.node
          GROUP BY l.lbl),
        sk AS (
          SELECT count(*) AS n_communities, sum(kc * kc) AS sk2 FROM kc),
        nn AS (SELECT count(*) AS n_nodes FROM l$LpaIters),
        ee AS (SELECT count(*) AS e FROM edges)
      SELECT n_nodes, n_communities, e // 2 AS m_edges,
        round(CAST(e_in AS DOUBLE) / e - CAST(sk2 AS DOUBLE) / (CAST(e AS DOUBLE) * e), 6)
          AS modularity
      FROM nn CROSS JOIN sk CROSS JOIN e_in_t CROSS JOIN ee"""

  /** The unrolled k-core peel oracle, shared by both k-core forms. */
  private val kcoreSql: String = {
    val rounds = (1 to KcorePeels).map { i =>
      s"""k$i AS (
          SELECT src FROM (
            SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY src)
          WHERE deg >= $KcoreK),
        e$i AS (
          SELECT e.src, e.dst FROM e${i - 1} e
          JOIN k$i a ON e.src = a.src
          JOIN k$i b ON e.dst = b.src)"""
    }.mkString(",\n")
    s"""WITH $pairsCte,
      e0 AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL
        SELECT b AS src, a AS dst FROM pairs),
      $rounds
      SELECT
        CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
             ELSE 's' || (node // 2) END AS node,
        deg
      FROM (SELECT src AS node, count(*) AS deg FROM e$KcorePeels GROUP BY src)
      ORDER BY node"""
  }

  /** Shared by graph_triangles and its partitioned twin (identical
    * oriented edge set and counts under either join strategy). */
  private val trianglesSql: String = s"""$orientedCtes,
        wedges AS (
          SELECT p.dst AS v, q.dst AS t
          FROM o p JOIN o q ON p.src = q.src
            AND (p.dd < q.dd OR (p.dd = q.dd AND p.dst < q.dst))),
        closed AS (
          SELECT count(*) AS n_wedges, count(o.src) AS n_triangles
          FROM wedges LEFT JOIN o
            ON wedges.v = o.src AND wedges.t = o.dst)
        SELECT
          (SELECT count(*) FROM deg) AS n_nodes,
          (SELECT count(*) FROM e) AS n_edges,
          n_wedges, n_triangles,
          (SELECT max(c) FROM
            (SELECT count(*) AS c FROM o GROUP BY src)) AS max_outdeg
        FROM closed"""

  val defs: Seq[QueryDef] = Seq(

    // ── PageRank over the customer↔supplier transaction graph ────────
    // Three unrolled iterations; each is edges ⋈ ranks (broadcast) ⋈
    // outdeg with ONE groupBy(dst) shuffle. Ranks live in exact integer
    // PICOUNITS (1 rank = 10^12) for the whole iteration: contribution =
    // (85·r) div (100·deg), base = (15·10^12) div (100·N) — every
    // operation is BIGINT, so the result is bit-identical in any engine
    // at any partitioning (a first draft rounded d·r/deg to 12 dp as
    // DECIMAL and DuckDB's double-math round disagreed with Spark's
    // exact BigDecimal round by 1 ulp on a boundary quotient; integer
    // floor-division has no boundaries). Floor division leaks < |E|·10⁻¹²
    // mass per round — the spec's conservation bound covers it. Floats
    // appear exactly once, in the final display division r/10^12.
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
    // Personalized PageRank whose teleport mass goes ONLY to a trusted
    // seed set — the crawl-curation pass that expands a hand-audited
    // whitelist into a corpus-wide trust score (low trust ⇒ spam
    // candidate). Seeds: every third supplier (deterministic,
    // oracle-replayable). Nodes outside the 3-hop trust frontier never
    // appear (implicit zero — exactly TrustRank's semantics).
    QueryDef(
      "graph_trustrank",
      (s, dir) => trustrankPlan(s, dir, bcast = true),
      Some(trustrankSql),
      doc = "TrustRank (Gyöngyi 2004): personalized PageRank with teleport " +
        "restricted to a trusted seed set; same checkpointed edge list and " +
        "integer-picounit iterations as graph_pagerank; unreached nodes " +
        "stay absent — the row set IS the 3-hop trust frontier."),

    // ── HITS hubs & authorities (Kleinberg 1999) ─────────────────────
    // Mutual reinforcement on the DIRECTED bipartite customer→supplier
    // graph: a(s) = Σ h(c) over in-edges, h(c) = Σ a(s) over out-edges,
    // SUM-normalized to 1 after every half-step (the ℓ1 variant — same
    // fixpoint direction as Kleinberg's ℓ2, but the normalizer stays in
    // exact integers). The normalize product raw·10^12 can reach 10^24,
    // so it widens through DECIMAL(38,0) before the exact floor-division.
    QueryDef(
      "graph_hits",
      (s, dir) => hitsPlan(s, dir, bcast = true),
      Some(hitsSql),
      doc = "HITS (Kleinberg 1999) on the directed customer→supplier " +
        "bipartite graph: checkpointed pair list, one groupBy per " +
        "half-step, l1 normalization in exact integer picounits " +
        "(DECIMAL(38,0) widening for the normalize product)."),

    // ── co-partitioned twins: the 100 TB rank-join form ──────────────
    // Bit-identical to the broadcast rows above (shared oracles); the
    // edge list is hash-partitioned on the iteration join key before
    // its one-time checkpoint and each iteration shuffle-hash-joins the
    // node-sized rank table into that fixed layout — the plan that
    // survives a crawl-scale graph whose node table outgrows broadcast.
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
        "to graph_hits."),

    // ── label-propagation communities (Raghavan et al. 2007) ─────────
    // The density lens on the transaction graph: CC answers "connected
    // at all?", LPA answers "which tightly-co-ordering block?". Each
    // synchronous round every node adopts its neighbors' most frequent
    // label (tie → smallest label id): edges ⋈ labels + ONE
    // groupBy(node, lbl) shuffle + a node-partitioned argmax window.
    QueryDef(
      "graph_label_prop",
      (s, dir) => lpaProject(lpaFinal(s, dir, bcast = true)._2),
      Some(lpaSql),
      doc = s"Label propagation ($LpaIters synchronous rounds, " +
        "most-frequent-neighbor label, min-label ties): per round one " +
        "edges x broadcast-labels join + one (node, lbl) count shuffle " +
        "+ a node-partitioned argmax window; shared checkpointed edge " +
        "list; the co-partitioned rank-join form applies when the node " +
        "table outgrows broadcast."),

    // the edge side (the corpus-scale operand) never re-exchanges;
    // rounds localCheckpoint and release the previous round's blocks
    QueryDef(
      "graph_label_prop_partitioned",
      (s, dir) => {
        val (edges, fin) = lpaFinal(s, dir, bcast = false)
        // every round has materialized (eager checkpoints) and the
        // projection reads the final round's blocks — release the
        // persisted edge layout (CacheHygieneSpec policy)
        Layouts.releaseCheckpoint(edges)
        lpaProject(fin)
      },
      Some(lpaSql),
      doc = "Label propagation, co-partitioned form: per round the " +
        "label table shuffle-hash-joins into the edges' checkpointed " +
        "HashPartitioning(src) layout — zero re-exchanges of the edge " +
        "side, no node-sized broadcast anywhere; bit-identical to " +
        "graph_label_prop (shared oracle)."),

    // ── modularity of the LPA partition (Newman & Girvan 2004) ───────
    // Q = Σ_c [e_c/E − (K_c/E)²] with E the directed (symmetric-list)
    // edge count, e_c the within-community directed edges, K_c the
    // community degree sum — exact integer counting; the one double
    // expression is the final display.
    QueryDef(
      "graph_modularity",
      (s, dir) => modularity(s, dir, bcast = true)._1,
      Some(modularitySql),
      doc = "Newman-Girvan modularity of the LPA partition: Q = e_in/E - " +
        "sum_c (K_c/E)^2, all exact integer counting (two broadcast " +
        "label joins, community-bounded rollups), one final double; the " +
        "partition-quality number read before trusting communities."),

    QueryDef(
      "graph_modularity_partitioned",
      (s, dir) => Layouts.materialize(modularity(s, dir, bcast = false)),
      Some(modularitySql),
      doc = "Newman-Girvan modularity over the co-partitioned LPA " +
        "labels: all label joins shuffle-hash (no node-sized " +
        "broadcast); exact integer counting keeps it bit-identical to " +
        "graph_modularity (shared oracle)."),

    // ── k-core peeling (Seidman 1983) ────────────────────────────────
    // The graph prune a link-spam/quality pass runs: nodes with degree
    // < k are peeled, which lowers neighbors' degrees, so peel again —
    // KcorePeels bounded rounds, unrolled identically in both engines.
    // Each round: ONE degree rollup over the current edge list + two
    // broadcast semi-joins (the surviving-node set is node-sized).
    QueryDef(
      "graph_kcore",
      (s, dir) => {
        val e0 = transactionEdges(s, dir)
          .select(col("src"), col("dst"))
        val eN = (1 to KcorePeels).foldLeft(e0) { (e, _) =>
          val kept = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= KcoreK)
            .select(col("src"))
          e.join(broadcast(kept), Seq("src"))
            .join(broadcast(kept.withColumnRenamed("src", "dst")), Seq("dst"))
            .select(col("src"), col("dst"))
        }
        eN.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
          .select(label("node").as("node"), col("deg"))
          .orderBy(col("node"))
      },
      Some(kcoreSql),
      doc = s"k-core peeling (k=$KcoreK, $KcorePeels unrolled rounds): " +
        "per round one degree rollup + two broadcast semi-joins; the " +
        "spam/quality prune that drops weakly-attached nodes; spec " +
        "verifies the fixture reaches the true fixed point in-bound. " +
        "Assumes a broadcastable surviving-node set — past that, use " +
        "graph_kcore_partitioned (the declared co-partitioned twin)."),

    QueryDef(
      "graph_kcore_partitioned",
      (s, dir) => Layouts.materialize(kcorePartitioned(s, dir)),
      Some(kcoreSql),
      doc = s"k-core peeling (k=$KcoreK, $KcorePeels rounds), " +
        "co-partitioned form: survivors shuffle-hash into the persisted " +
        "HashPartitioning(src) edge layout and degrees come off ONE " +
        "map-side-combined groupBy(dst) per round (edge symmetry: " +
        "surviving-source count = surviving-neighbor count) — zero " +
        "edge-side re-exchanges, no node-sized broadcast; bit-identical " +
        "to graph_kcore (shared oracle)."),

    // ── butterfly counting on the bipartite transaction graph ────────
    // Triangles cannot exist in a bipartite graph; the smallest cohesion
    // motif is the BUTTERFLY (2 customers × 2 suppliers, all four
    // edges). The pair stream comes from a per-supplier self-join —
    // Σ deg² wedges, the documented cost center.
    QueryDef(
      "graph_butterflies",
      (s, dir) => butterflyStats(bipartiteEdges(s, dir)),
      Some(s"""WITH $csCte,
        ${wedgePairsCtes("cs")}
        SELECT CAST(sum(w * (w - 1) // 2) AS BIGINT) AS butterflies,
          CAST(sum(w) AS BIGINT) AS wedges,
          count(*) AS n_pairs,
          max(w) AS max_shared
        FROM pairs"""),
      doc = "Butterfly (2x2 biclique) counting (Sanei-Mehri 2018): " +
        "per-supplier wedge self-join, customer-pair shared-supplier " +
        "rollup, butterflies = sum C(w,2); all exact integers; the " +
        "bipartite cohesion motif (triangles cannot exist here). " +
        "TEACHING/verify form — the wedge fan-out is sum deg^2, " +
        "quadratic in hub degree; past fixture scale use " +
        "graph_butterflies_capped (the declared node-linear twin, " +
        "the D4->D4b pattern)."),

    // ── degree-capped butterfly counting ─────────────────────────────
    // The exact form puts a hub's entire O(deg²) pair block on ONE task
    // (AQE cannot split a join key; the ×26 probe measured 24.6 s →
    // 113.8 s). The cap rule is deterministic, so DuckDB replays it; the
    // count is exact ON THE CAPPED GRAPH (a lower bound of the exact
    // count, Sanei-Mehri 2018 §5). n_edges_kept/total report how much
    // the cap bit.
    QueryDef(
      "graph_butterflies_capped",
      (s, dir) => Layouts.materialize(cappedButterflies(s, dir)),
      Some(s"""WITH $csCte,
        capped AS (
          SELECT c, sp FROM (
            SELECT c, sp,
              row_number() OVER (PARTITION BY sp ORDER BY c ASC) AS rn
            FROM cs) WHERE rn <= $ButterflyCap),
        ${wedgePairsCtes("capped")},
        stats AS (
          SELECT CAST(sum(w * (w - 1) // 2) AS BIGINT) AS butterflies,
            CAST(sum(w) AS BIGINT) AS wedges,
            count(*) AS n_pairs,
            max(w) AS max_shared
          FROM pairs),
        meta AS (
          SELECT (SELECT count(*) FROM capped) AS n_edges_kept,
                 (SELECT count(*) FROM cs) AS n_edges_total)
        SELECT butterflies, wedges, n_pairs, max_shared,
          n_edges_kept, n_edges_total
        FROM stats CROSS JOIN meta"""),
      doc = s"Degree-capped butterflies (cap=$ButterflyCap smallest " +
        "customer ids per supplier — deterministic, oracle-replayable): " +
        "wedge work bounded at cap²/2 per supplier (node-linear) where " +
        "the exact form is hub-quadratic; WindowGroupLimit bounds the " +
        "rank map-side; exact integers on the capped graph."),

    // ── degree-ordered triangle counting (Schank & Wagner 2005) ──────
    // Over the PART co-order graph (average degree ~120 at every SF;
    // the supplier graph saturates to complete at sf0.01). Orienting
    // every edge from its lower-(degree, id) endpoint bounds out-degree
    // by O(√m), so the wedge self-join does Σ outdeg² ≤ O(m^1.5) work
    // and a hub's wedge block never lands on one task. max_outdeg is
    // the witness of that bound.
    QueryDef(
      "graph_triangles",
      (s, dir) => Layouts.materialize(triangles(s, dir, bcast = true)),
      Some(trianglesSql),
      doc = "Degree-ordered triangle counting (Schank-Wagner / " +
        "Suri-Vassilvitskii) on the part co-order graph (constant " +
        "~120 average degree at every SF — the supplier graph " +
        "saturates to complete at sf0.01): every edge oriented from " +
        "its lower-(degree,id) endpoint, so out-degree — and with it " +
        "any single task's wedge block — is O(sqrt(m))-bounded; exact " +
        "integer counts; max_outdeg reported as the skew witness."),

    // the two edge ⋈ degree joins shuffle-hash instead of broadcast;
    // Round15bSpec pins the plan and bit-equality with the broadcast form
    QueryDef(
      "graph_triangles_partitioned",
      (s, dir) => Layouts.materialize(triangles(s, dir, bcast = false)),
      Some(trianglesSql),
      doc = "graph_triangles for part catalogues beyond the broadcast " +
        "budget: degree joins shuffle-hash on the edge endpoints " +
        "(hint-pinned), everything downstream unchanged — " +
        "bit-identical counts by construction, shared oracle."),

    // ── log2-binned degree histogram: the hub diagnostic ─────────────
    // One degree rollup + a ≤64-bucket aggregate. The bucket key is the
    // degree's BIT LENGTH − 1 — bit-exact floor(log2(d)) without the
    // float-edge hazard (Spark's log2(8) is ln-based and may land a
    // hair under 3.0; DuckDB's may not). Run BEFORE picking cap/salt
    // parameters for the wedge and rank operators.
    QueryDef(
      "graph_degree_hist",
      (s, dir) => {
        val deg = degrees(partEdges(s, dir, "a", "b"))
        val h = deg
          .withColumn("bucket", (length(bin(col("d"))) - 1).cast("int"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
        h.crossJoin(broadcast(deg.agg(count(lit(1)).as("total"))))
          .select(col("bucket"), col("n_nodes"), col("min_deg"),
            col("max_deg"),
            round(col("n_nodes").cast(DoubleType) /
              col("total").cast(DoubleType), 6).as("share"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH ${partEdgesCte("a", "b")},
        deg AS (
          SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        h AS (
          SELECT CAST(length(bin(d)) - 1 AS INT) AS bucket,
            CAST(count(*) AS BIGINT) AS n_nodes,
            min(d) AS min_deg, max(d) AS max_deg
          FROM deg GROUP BY 1),
        t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM deg)
        SELECT bucket, n_nodes, min_deg, max_deg,
          round(CAST(n_nodes AS DOUBLE) / CAST(total AS DOUBLE), 6)
            AS share
        FROM h CROSS JOIN t ORDER BY bucket"""),
      doc = "Log2-binned degree histogram of the part co-order graph " +
        "(bucket = bit-length of the degree — integer-exact where " +
        "floor(log2) sits on float edges): per-bucket node counts, " +
        "min/max degree, and share — the hub diagnostic run before " +
        "choosing cap/salt parameters; node-linear, ≤64 buckets; " +
        "Round15bSpec replays the binning and pins share mass = 1."),

    // ── local clustering coefficient / transitivity ──────────────────
    // Per-node LCC_v = t_v / C(deg_v, 2) from the SAME oriented wedge
    // join as graph_triangles, summarized to a 1-row corpus metric.
    QueryDef(
      "graph_clustering_coeff",
      (s, dir) => Layouts.materialize(clustering(s, dir)),
      Some(s"""$orientedCtes,
        wedges AS (
          SELECT p.src AS s, p.dst AS v, q.dst AS t
          FROM o p JOIN o q ON p.src = q.src
            AND (p.dd < q.dd OR (p.dd = q.dd AND p.dst < q.dst))),
        tri AS (
          SELECT w.s, w.v, w.t
          FROM wedges w JOIN o ON w.v = o.src AND w.t = o.dst),
        nodetri AS (
          SELECT n, count(*) AS tv FROM (
            SELECT s AS n FROM tri UNION ALL SELECT v FROM tri
            UNION ALL SELECT t FROM tri) GROUP BY n),
        base AS (
          SELECT deg.n, COALESCE(nt.tv, 0) AS tv,
            deg.d * (deg.d - 1) // 2 AS pairs,
            CAST(COALESCE(nt.tv, 0) AS DOUBLE)
              / CAST(deg.d * (deg.d - 1) // 2 AS DOUBLE) AS lcc
          FROM deg LEFT JOIN nodetri nt ON deg.n = nt.n
          WHERE deg.d >= 2),
        agg AS (
          SELECT count(*) AS n_nodes,
            CAST(sum(tv) AS BIGINT) // 3 AS n_triangles,
            CAST(sum(pairs) AS BIGINT) AS n_open_wedges,
            CAST(sum(CAST(round(lcc, 9) AS DECIMAL(28,9))) AS DOUBLE)
              AS lcc_sum,
            CAST(sum(CASE WHEN tv = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_zero,
            max(lcc) AS max_lcc_raw
          FROM base)
        SELECT n_nodes, n_triangles,
          round(lcc_sum / CAST(n_nodes AS DOUBLE), 6) AS avg_lcc,
          round(CAST(3 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
            / CAST(n_open_wedges AS DOUBLE), 6) AS transitivity,
          round(CAST(n_zero AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
            AS share_zero,
          round(max_lcc_raw, 6) AS max_lcc
        FROM agg"""),
      doc = "Local clustering coefficient + transitivity (Watts-" +
        "Strogatz avg-LCC and the global 3T/wedges ratio) over the " +
        "part co-order graph: per-node triangle counts from the " +
        "degree-ordered wedge join (each closed wedge attributed to " +
        "its 3 nodes — the Σ outdeg² bound carries over), LCC summary " +
        "in exact integers + one IEEE division per node + " +
        "DECIMAL(28,9) order-independent sum; Round15bSpec replays " +
        "per-node LCC combinatorially."),

    // ── degree-capped triangle counting (the ST26 batch twin) ────────
    // graph_triangles bounds hub work by DEGREE orientation — which
    // needs the full degree table up front, something an online stream
    // never has. The capped form uses ID orientation (src < dst, a pure
    // per-edge function computable at arrival time) and bounds hub work
    // with the cap rule instead. Deterministic ⇒ hash-green; exact ON
    // THE CAPPED GRAPH (a lower bound of graph_triangles). n_wedges
    // comes off the out-degree rollup as Σ C(k,2), never the wedge
    // stream; max_out reports the UNCAPPED hub the cap defuses.
    QueryDef(
      "graph_triangles_capped",
      (s, dir) => Layouts.materialize(cappedTriangles(s, dir)),
      Some(s"""WITH ${partEdgesCte("src", "dst")},
        capped AS (
          SELECT src, dst FROM (
            SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY dst ASC) AS rn
            FROM e) WHERE rn <= $TriCap),
        wedges AS (
          SELECT p.dst AS v, q.dst AS t
          FROM capped p JOIN capped q ON p.src = q.src AND p.dst < q.dst),
        closed AS (
          SELECT CAST(count(c.src) AS BIGINT) AS triangles
          FROM wedges LEFT JOIN capped c ON wedges.v = c.src AND wedges.t = c.dst)
        SELECT triangles,
          (SELECT CAST(sum(k * (k - 1) // 2) AS BIGINT) FROM
            (SELECT count(*) AS k FROM capped GROUP BY src)) AS n_wedges,
          (SELECT count(*) FROM capped) AS n_edges_kept,
          (SELECT count(*) FROM e) AS n_edges_total,
          (SELECT CAST(max(c) AS BIGINT) FROM
            (SELECT count(*) AS c FROM e GROUP BY src)) AS max_out
        FROM closed"""),
      doc = s"Degree-capped triangles (cap=$TriCap smallest out-neighbors " +
        "per node under ID orientation — the orientation a stream can " +
        "compute at arrival, no degree table needed): wedge work bounded " +
        "at C(cap,2) per node (node-linear) where id orientation alone " +
        "is hub-quadratic; exact integers on the capped graph, a lower " +
        "bound of graph_triangles; the ST26 streaming state reconstructs " +
        "exactly this capped adjacency.")
  )
}
