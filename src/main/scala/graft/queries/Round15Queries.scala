package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark}
import graft.operators.QuantileSketchAgg
import KnnGraphQueries.{KnnScaledBits, declared, lshGraph}

/** Round-15 batch: the promised production twins —
  *
  *  - graph_butterflies_capped: degree-CAPPED butterfly counting
  *    (Sanei-Mehri et al. 2018 §5's cap/priority family) — the
  *    scale-safe twin of the only measured-superlinear operator: per
  *    supplier keep the H smallest customers, so the wedge self-join
  *    does Σ min(deg, H)² ≤ H²·|suppliers| work — NODE-LINEAR where
  *    the exact form is Σ deg² (hub-quadratic);
  *  - graph_label_prop_partitioned / graph_modularity_partitioned: the
  *    co-partitioned (bcast=false) forms of the LPA family — the last
  *    graph operators that assumed a broadcastable node table now have
  *    declared twins whose per-round label join shuffle-hashes into the
  *    edges' checkpointed layout (the pagerank_partitioned discipline);
  *    bit-identical label tables, shared oracles;
  *  - sim_semantic_clusters_scaled: the width-scaled (bits ~ log2 n)
  *    kNN build composed into the cluster stage — closes the last
  *    quadratic inheritance in the similarity family (the fixture
  *    8-bit index puts candidates ∝ n²/2⁸; at KnnScaledBits per-bucket
  *    load stays constant as the corpus grows);
  *  - pipe_ccnet_buckets_sketch: CCNet bucketing through a MERGEABLE
  *    QUANTILE SKETCH (operators/QuantileSketchAgg — bottom-k-by-hash,
  *    deterministic and merge-order independent, so the declared query
  *    stays hash-green where a t-digest would force bounds-only) — the
  *    production form P16b's code comment promises.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object Round15Queries {

  /** Per-supplier degree cap H: capped wedge work is ≤ H²/2 per
    * supplier whatever the hub degree. 64 binds on every fixture
    * (supplier degrees are 139–679 across sf0.001–sf0.1), so the cap
    * path is genuinely exercised, and it keeps ~C(64,2)·|supp| ≈ 2M
    * wedge pairs at sf0.1 vs the exact form's Σ deg² ≈ 344M.
    */
  val ButterflyCap = 64

  /** Sketch size: rank error ~ 1/√64 ≈ 12 % — coarser than the exact
    * terciles but deterministic, mergeable, and O(k) per language. 64
    * binds at sf0.01 (every language holds ≥ 64 docs), so the
    * subsample path — not just the n ≤ k identity path — is what the
    * correctness gate checks.
    */
  val SketchK = 64

  /** DISTINCT (customer, supplier) bipartite edge set — the
    * graph_butterflies input (Round13cQueries.scala:122).
    */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    line.join(orders, line("l_orderkey") === orders("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct()
  }

  /** (result, capped edge stage, full edge stage) — result left
    * un-checkpointed so Round15Spec can pin the executed plan
    * (WindowGroupLimit, no broadcast of the capped side into the wedge
    * join); the QueryDef materializes it and releases both persisted
    * stages.
    */
  private[graft] def cappedButterflies(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val cs = bipartiteEdges(s, dir).persist()
    val w = Window.partitionBy(col("sp")).orderBy(col("c").asc)
    val capped = cs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ButterflyCap)
      .select(col("c"), col("sp"))
      .persist()
    val wedges = capped.as("a").join(capped.as("b"),
        col("a.sp") === col("b.sp") && col("a.c") < col("b.c"))
      .select(col("a.c").as("c1"), col("b.c").as("c2"))
    val pairs = wedges.groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("w"))
    val stats = pairs.agg(
      sum(expr("w * (w - 1) div 2")).as("butterflies"),
      sum(col("w")).as("wedges"),
      count(lit(1)).as("n_pairs"),
      max(col("w")).as("max_shared"))
    val res = stats
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_edges_kept"))))
      .crossJoin(broadcast(cs.agg(count(lit(1)).as("n_edges_total"))))
      .select(col("butterflies"), col("wedges"), col("n_pairs"),
        col("max_shared"), col("n_edges_kept"), col("n_edges_total"))
    (res, capped, cs)
  }

  val defs: Seq[QueryDef] = Seq(

    // ── degree-capped butterfly counting ─────────────────────────────
    // The scale-safe twin of graph_butterflies: the exact form's
    // per-supplier wedge self-join puts a hub's entire O(deg²) pair
    // block on ONE task (AQE cannot split a join key), and the ×26
    // probe measured the superlinear wall (24.6 s → 113.8 s). The cap
    // rule — per supplier keep only the ButterflyCap SMALLEST customer
    // ids — is deterministic, so DuckDB replays it and the row is
    // hash-green; the count is exact ON THE CAPPED GRAPH (a lower
    // bound of the exact count, per the cap/sampling family of
    // Sanei-Mehri 2018 §5). Shape: one per-sp rank (Spark rewrites the
    // rn<=H filter to WindowGroupLimit — each map task forwards at
    // most H rows per supplier into the exchange), then the identical
    // wedge→pair→C(w,2) pipeline bounded at H²/2 per supplier —
    // node-linear at any hub degree. n_edges_kept/total report how
    // much the cap bit.
    QueryDef(
      "graph_butterflies_capped",
      (s, dir) => {
        val (res, capped, cs) = cappedButterflies(s, dir)
        try res.localCheckpoint(true)
        finally { capped.unpersist(false); cs.unpersist(false) }
      },
      Some(s"""WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        capped AS (
          SELECT c, sp FROM (
            SELECT c, sp,
              row_number() OVER (PARTITION BY sp ORDER BY c ASC) AS rn
            FROM cs) WHERE rn <= $ButterflyCap),
        wedges AS (
          SELECT a.c AS c1, b.c AS c2
          FROM capped a JOIN capped b ON a.sp = b.sp AND a.c < b.c),
        pairs AS (
          SELECT c1, c2, count(*) AS w FROM wedges GROUP BY c1, c2),
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

    // ── co-partitioned LPA communities ───────────────────────────────
    // graph_label_prop for node tables beyond the broadcast budget:
    // the edge list is checkpointed hash-partitioned on src ONCE, and
    // each round's label join shuffle-hashes the node-sized label
    // table into that fixed layout — the edge side (the corpus-scale
    // operand) never re-exchanges; rounds localCheckpoint and release
    // the previous round's blocks. Bit-identical labels to the
    // broadcast form (exact integer counts, min-label argmax), so the
    // oracle is shared.
    QueryDef(
      "graph_label_prop_partitioned",
      (s, dir) => {
        val (edges, fin) = Round13Queries.lpaFinal(s, dir, bcast = false)
        // every round has materialized (eager checkpoints) and the
        // projection reads the final round's blocks — release the
        // persisted edge layout (CacheHygieneSpec policy)
        graft.operators.Layouts.releaseCheckpoint(edges)
        Round13Queries.lpaProject(fin)
      },
      Some(Round13Queries.lpaSql),
      doc = "Label propagation, co-partitioned form: per round the " +
        "label table shuffle-hash-joins into the edges' checkpointed " +
        "HashPartitioning(src) layout — zero re-exchanges of the edge " +
        "side, no node-sized broadcast anywhere; bit-identical to " +
        "graph_label_prop (shared oracle)."),

    // ── co-partitioned modularity ────────────────────────────────────
    // Same discipline for the partition-quality score: LPA labels from
    // the co-partitioned loop, then every label join (e_in's two, K_c)
    // is a shuffle-hash join instead of a node-sized broadcast. Exact
    // integer counting ⇒ bit-identical to graph_modularity.
    QueryDef(
      "graph_modularity_partitioned",
      (s, dir) => Round13Queries.modularityPlan(s, dir, bcast = false),
      Some(Round13Queries.modularitySql),
      doc = "Newman-Girvan modularity over the co-partitioned LPA " +
        "labels: all label joins shuffle-hash (no node-sized " +
        "broadcast); exact integer counting keeps it bit-identical to " +
        "graph_modularity (shared oracle)."),

    // ── width-scaled semantic clusters ───────────────────────────────
    // sim_semantic_clusters composing the PRODUCTION kNN build: at
    // bits = KnnScaledBits (~log2 of the probe corpora) per-bucket
    // load — hence candidate volume — stays constant as the corpus
    // grows, where the fixture 8-bit index is ∝ n²/256 (×26 probe:
    // 119.9 s). The cluster stage (τ-edges → shared CC → singleton
    // fill) is identical; only the index width changes.
    QueryDef(
      "sim_semantic_clusters_scaled",
      (s, dir) => Round13Queries.semanticClusters(s, dir, KnnScaledBits),
      None,
      doc = s"Semantic clusters over the width-scaled kNN graph " +
        s"(bits=$KnnScaledBits ~ log2 n): candidate " +
        "volume stays ~n·k as the corpus grows; same τ-edge + shared-CC " +
        "cluster stage as sim_semantic_clusters. Oracle split (SURVEY " +
        "§5 note 14): rows-only here; sim_semantic_edges_scaled is the " +
        "hash-green edge half, Round15Spec union-finds the closure."),

    // ── canonical τ-edges, width-scaled ──────────────────────────────
    // Hash-green half of the scaled cluster oracle split: this
    // variant's recursive-closure oracle was the gate's single most
    // expensive line (351 s at sf0.01, ~793 s at sf0.1, judge-measured)
    // — the edge projection keeps the full signature/bucket/cosine/
    // rank parity in DuckDB at kNN-oracle cost.
    QueryDef(
      "sim_semantic_edges_scaled",
      (s, dir) => Round13Queries.tauEdges(
        declared(lshGraph(KnnScaledBits)(_))(s, dir)),
      Some(Round13Queries.tauEdgesSql(KnnScaledBits)),
      doc = s"Canonical undirected tau-edges of the width-scaled " +
        s"(bits=$KnnScaledBits) kNN graph — the exact " +
        "CC input of sim_semantic_clusters_scaled; hash-green " +
        "replacement for the retired recursive-closure oracle."),

    // ── CCNet bucketing through a mergeable quantile sketch ──────────
    // The 100 TB form of P16/P16b: per-language tercile cutoffs from a
    // BOUNDED mergeable summary (QuantileSketchAgg — bottom-k-by-hash,
    // k=SketchK values per language, merged map-side so each partition
    // ships ≤ k rows per language), broadcast back, buckets assigned
    // in a narrow comparison pass. The corpus never sorts and no
    // language ever lands on one task. Because the sketch is a
    // deterministic function of the data (k smallest md5 tags), DuckDB
    // replays it exactly — hash-green full-value compare, not the
    // bounds-only check a t-digest/KLL would force. Cutoff rule: the
    // ⌈p·m⌉-th smallest sampled value (QuantileSketchAgg.quantile).
    QueryDef(
      "pipe_ccnet_buckets_sketch",
      (s, dir) => {
        val sketch = udaf(QuantileSketchAgg(SketchK),
          ExpressionEncoder[QuantileSketchAgg.In]())
        // persisted: the token-explode + freq-join scoring pass feeds
        // BOTH the cuts aggregation and the final join — without the
        // persist it executes twice; released after materialization
        // like the other two-consumer stages in this file
        val scored = Round12Queries.ccnetScored(s, dir).persist()
        try {
        val cuts = scored
          .withColumn("tag",
            expr(h60Spark("concat('qsk:', cast(doc_id as string))")))
          .groupBy(col("lang"))
          .agg(sketch(col("avg_surprisal"), col("tag")).as("samp"))
          .select(col("lang"),
            expr("element_at(samp, cast(ceil(size(samp) / 3.0) as int))").as("c1"),
            expr("element_at(samp, cast(ceil(2 * size(samp) / 3.0) as int))").as("c2"))
        scored.join(broadcast(cuts), Seq("lang"))
          .withColumn("ppl_bucket", expr(
            """CASE WHEN avg_surprisal <= c1 THEN 'head'
                    WHEN avg_surprisal <= c2 THEN 'middle'
                    ELSE 'tail' END"""))
          .select(col("doc_id"), col("lang"), col("avg_surprisal"),
            col("ppl_bucket"))
          .orderBy(col("doc_id"))
          .localCheckpoint(true)
        } finally scored.unpersist(false)
      },
      Some(s"""WITH ${Round12Queries.ccnetScoredDuck},
        tagged AS (
          SELECT lang, avg_surprisal,
            row_number() OVER (PARTITION BY lang
              ORDER BY ${h60Duck("'qsk:' || CAST(doc_id AS VARCHAR)")} ASC,
                       avg_surprisal ASC) AS hrn
          FROM scored),
        samp AS (
          SELECT lang, avg_surprisal,
            row_number() OVER (PARTITION BY lang
              ORDER BY avg_surprisal ASC) AS rn,
            count(*) OVER (PARTITION BY lang) AS m
          FROM tagged WHERE hrn <= $SketchK),
        cuts AS (
          SELECT lang,
            max(avg_surprisal) FILTER (WHERE rn <= CAST(ceil(m / 3.0) AS INT)) AS c1,
            max(avg_surprisal) FILTER (WHERE rn <= CAST(ceil(2 * m / 3.0) AS INT)) AS c2
          FROM samp GROUP BY lang)
        SELECT doc_id, scored.lang, avg_surprisal,
          CASE WHEN avg_surprisal <= c1 THEN 'head'
               WHEN avg_surprisal <= c2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM scored JOIN cuts ON scored.lang = cuts.lang
        ORDER BY doc_id"""),
      doc = s"CCNet bucketing, quantile-sketch form (k=$SketchK " +
        "bottom-k-by-hash per language): mergeable bounded summary " +
        "rolled up map-side, cutoffs broadcast, buckets assigned in a " +
        "narrow pass — corpus never sorts; deterministic sketch keeps " +
        "the row hash-green against the DuckDB replay.")
  )
}
