package graft.queries

import KnnGraphQueries.{KnnScaledBits, declared, lshGraph}

/** Round-15 batch: sim_semantic_clusters_scaled, the width-scaled
  * (bits ~ log2 n) kNN build composed into the cluster stage — closes
  * the last quadratic inheritance in the similarity family (the fixture
  * 8-bit index puts candidates ∝ n²/2⁸; at KnnScaledBits per-bucket
  * load stays constant as the corpus grows) — and its hash-green edge
  * half. The round's sketch row lives in `SketchQueries`.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object Round15Queries {

  val defs: Seq[QueryDef] = Seq(

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
        "replacement for the retired recursive-closure oracle.")
  )
}
