package graft.operators

import org.apache.spark.sql.GraftColumnBridge

import graft.{SparkEntry, SparkSpec}

/** Operators that persist() internal stages must release them before
  * returning (round-4 advice): a library embedder running many queries in
  * one session must not depend on Verify's per-query clearCache to avoid
  * accumulating cached stage blocks. The returned DataFrame itself may be
  * a localCheckpoint (RDD-level blocks owned by the result and freed by
  * the ContextCleaner when it is unreferenced) — only CacheManager plans
  * count as leaks here.
  */
class CacheHygieneSpec extends SparkSpec {

  private val persistingQueries = Seq(
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_cosine", "dedup_cluster_cc", "dedup_simhash_banded", "dedup_embedding_ann",
    // graph rows that persist internal stages and release them through
    // Layouts.materialize
    "graph_triangles", "graph_triangles_partitioned", "graph_clustering_coeff",
    "graph_triangles_capped", "graph_butterflies_capped",
    // rows that release their stages through Layouts.materialize
    "st_incremental_minhash", "pipe_bpe_merges", "pipe_decontaminate_bloom",
    "st_incremental_ann_auto", "sim_lsh_topk_auto", "pipe_ccnet_buckets_sketch",
    "dedup_embedding_ann_auto", "dedup_embedding_ann_auto_guarded",
    "st_incremental_ann", "sim_ivf_topk_auto", "sim_index_recall",
    // ANN rows that persisted a stage and dropped the handle
    "sim_lsh_topk", "sim_mips_lsh_topk", "sim_rrf_fusion",
    "sim_index_recall_contract")

  persistingQueries.foreach { name =>
    test(s"$name leaves no cached plans behind") {
      spark.catalog.clearCache()
      val n = SparkEntry.queries(name)(spark, sf()).count()
      assert(n >= 0)
      assert(GraftColumnBridge.noCachedPlans(spark),
        s"$name left cached plans in the session CacheManager")
    }
  }
}
