package graft

import graft.operators.Layouts

/** Partitioning-invariance: the float-bearing queries must return
  * IDENTICAL rows whatever the shuffle partition count, or the driver's
  * hash gate (and any 1000-executor deployment) would see different
  * answers per topology. This is the property the exact-decimal-sums /
  * sequential-fold / round(6) recipes exist to guarantee — pinned here
  * by running the same query under very different partition counts.
  */
class DeterminismSpec extends SparkSpec {

  private val floatHeavy = Seq(
    "q10_agg_basic", "q34_stats_agg", "q62_skew_kurt",
    "ev_anomaly", "ev_ewma", "dedup_embedding_cosine", "sim_quantize",
    "q93_typed_agg", "q97_moving_avg",
    // round-10: DSIR (decimal-summed log-ratios), the classifier
    // (dyadic-rational float sums — exact without any decimal detour),
    // and SemDeDup (rounded-cosine prune + (d2, id)-tiebroken argmin
    // assignment must not depend on partitioning)
    "pipe_dsir", "pipe_quality_classifier", "pipe_semdedup",
    // round-10 retrieval/graph: rounded-ln decimal sums (BM25) and
    // exact integer-picounit rank iterations (PageRank) must hold
    // under any partitioning
    "text_bm25_topk", "graph_pagerank",
    // held-out bigram LM: rounded-ln decimal sums over three
    // broadcast-joined count tables
    "text_lm_backoff",
    // seed-teleport integer iterations share pagerank's recipe but add
    // the union-reaggregate step
    "graph_trustrank",
    // PMI: one rounded ln over a pure-double ratio, ties broken on text
    "text_pmi_colloc",
    // HITS: integer half-steps with DECIMAL(38,0)-widened normalization
    "graph_hits",
    // round-12 float-bearing representatives: trigram backoff through
    // the context-sharded layout (rounded-ln DECIMAL sums across the
    // shard joins), KL/JS drift (round(·,9)→DECIMAL per-term sums),
    // token entropy (same recipe over a window), the EG tilt chain
    // (exact-DECIMAL renormalizations), and the star-rounds CC (its
    // labels are pure integers but the fixed-point detection must not
    // depend on partitioning)
    "text_lm_trigram_backoff_sharded", "pipe_corpus_drift",
    "text_token_entropy", "pipe_doremi_mix", "dedup_cluster_cc_star",
    // the degree-ordered wedge rows: their oriented layout is
    // Layouts.partitioned at full conf width, so the shuffle-partition
    // count changes the layout itself (integer counts, one DECIMAL sum)
    "graph_triangles", "graph_triangles_partitioned", "graph_clustering_coeff")

  private def rowsAt(name: String, conf: (String, String)*): Seq[String] =
    withConf(conf: _*) {
      try SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).toSeq
      finally spark.catalog.clearCache()
    }

  private def assertSameRows(a: Seq[String], b: Seq[String], la: String, lb: String): Unit = {
    assert(a.length == b.length, s"row counts ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  $la: $x\n  $lb: $y")
    }
  }

  floatHeavy.foreach { name =>
    test(s"$name returns identical rows at 3 and 23 shuffle partitions") {
      val a = rowsAt(name, "spark.sql.shuffle.partitions" -> "3")
      val b = rowsAt(name, "spark.sql.shuffle.partitions" -> "23")
      assertSameRows(a, b, "p3", "p23")
    }
  }

  /** The width axis: rows whose corpus input goes through
    * `Layouts.spread`, whose width is `ceil(size / maxPartitionBytes)`
    * clamped to `[1, defaultParallelism]`. At the profile's 4 MB split
    * every sf0.001 input spreads to width 1; at `narrowSplit` the same
    * inputs spread wider, so these rows run their round-robin fan-out
    * and every exchange after it at a different map width. */
  private val narrowSplit = "16k"
  private val spreadRows = Seq(
    "dedup_simhash_banded" -> "documents", "dedup_ngram_jaccard" -> "documents",
    "sim_knn_graph" -> "embeddings", "sim_semantic_clusters" -> "embeddings",
    "pipe_semdedup" -> "embeddings", "dedup_embedding_ann" -> "embeddings")

  spreadRows.foreach { case (name, table) =>
    test(s"$name returns identical rows at 4 MB and $narrowSplit splits") {
      val split = "spark.sql.files.maxPartitionBytes"
      val width = withConf(split -> narrowSplit) {
        Layouts.scaledParallelism(Tables.load(spark, sf(), table))
      }
      assert(width > 1, s"$table spreads to width $width at $narrowSplit")
      // sorted: dedup_simhash_banded declares a pair SET (no global
      // orderBy; the oracle compare row-sorts both sides)
      val a = rowsAt(name).sorted
      val b = rowsAt(name, split -> narrowSplit).sorted
      assertSameRows(a, b, "4m", narrowSplit)
    }
  }
}
