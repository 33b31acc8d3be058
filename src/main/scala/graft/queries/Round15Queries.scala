package graft.queries

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.queries.Corpus.{h60Duck, h60Spark}
import graft.operators.QuantileSketchAgg
import KnnGraphQueries.{KnnScaledBits, declared, lshGraph}

/** Round-15 batch: the promised production twins —
  *
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

  /** Sketch size: rank error ~ 1/√64 ≈ 12 % — coarser than the exact
    * terciles but deterministic, mergeable, and O(k) per language. 64
    * binds at sf0.01 (every language holds ≥ 64 docs), so the
    * subsample path — not just the n ≤ k identity path — is what the
    * correctness gate checks.
    */
  val SketchK = 64

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
