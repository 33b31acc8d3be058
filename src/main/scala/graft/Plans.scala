package graft

import graft.queries.{Corpus, GraphQueries, KnnGraphQueries}

/** Regenerates PLANS.md content: prints the AQE-final physical plan of
  * each named query (args, or the default flagship set) at sf0.001.
  *
  * Usage: sbt "runMain graft.Plans [queryName...]" > plans.txt
  */
object Plans {
  val flagships: Seq[String] = Seq(
    "q02_filter", "q04_join_broadcast", "q10_agg_basic", "sim_brute_topk",
    "dedup_ngram_jaccard", "ev_asof_attribution",
    "q32_pivot", "ev_interval_join", "sim_radius_search",
    "q63_lateral_agg", "q68_merge_upsert", "q71_recursive_cte",
    "q_tpch10", "dedup_simhash_banded", "dedup_embedding_ann",
    // round 10: segment boilerplate removal (3 keyed shuffles, no
    // window), SemDeDup with hierarchical assignment, and the
    // classifier's narrow hash-and-score pass
    "pipe_segment_dedup", "pipe_semdedup_scaled", "pipe_quality_classifier",
    // round 10b: BM25's pruned-postings broadcast shape and the
    // checkpointed-edge-list graph iterations
    "text_bm25_topk", "graph_pagerank", "graph_trustrank", "graph_hits",
    // round 11b/c: the zero-shuffle broadcast-centroid assignment and
    // the trained-quantizer IVF serving path (equi-join candidate
    // restriction + single top-k rollup)
    "sim_kmeans", "sim_ivf_kmeans_topk",
    // round 12: the fragment-replicate salted rank join, the PQ/ADC
    // shortlist + exact re-rank serving path, and the context-sharded
    // trigram-LM layout (VERDICT r11 item 8)
    "graph_pagerank_salted", "sim_pq_topk", "text_lm_trigram_backoff_sharded",
    // round 13: the two-table multiprobe kNN graph (pair-distinct before
    // the one exact verify) and the LPA label-join iteration
    "sim_knn_graph", "graph_label_prop",
    // round 15: the degree-capped butterfly wedge join (WindowGroupLimit
    // bounding the rank map-side), one co-partitioned LPA round (edge
    // cache consumed with zero re-exchange), and the quantile-sketch
    // CCNet cutoffs (map-side partial_quantilesketchagg)
    "graph_butterflies_capped", "graph_label_prop_partitioned_round",
    "pipe_ccnet_buckets_sketch",
    // round 15b: the degree-ordered wedge join (orientation bounds any
    // task's fan-out at O(√m)), the WindowGroupLimit-bounded
    // priority-sample rank, the partitioned-degree-join twin, the
    // per-node LCC attribution, and the two KMV sketch rollups
    // (map-side partial_kmvdistinctagg; sketch-only set algebra)
    "graph_triangles", "pipe_priority_sample",
    "graph_triangles_partitioned", "graph_clustering_coeff",
    "pipe_distinct_kmv", "pipe_kmv_overlap",
    "pipe_count_min", "pipe_f2_ams",
    // round 15b (carried) + round 16: the log2-binned hub diagnostic,
    // one co-partitioned k-core peel (shuffle-hash survivor join into
    // the checkpointed src layout), the ID-oriented degree-capped
    // triangle pipeline (WindowGroupLimit cap, zero-exchange wedge
    // join), and the auto-width kNN graph (broadcast width scalar,
    // runtime-length multiprobe)
    "graph_degree_hist", "graph_kcore_partitioned_peel",
    "graph_triangles_capped", "sim_knn_graph_auto",
    // round 17: the ST27 batch twin (scaled-width pair join reduced to
    // arrival-order verdicts) and the two count-derived-width IVF
    // serving paths (1-row broadcast width scalar; probe restriction
    // stays an equi-join)
    "st_incremental_ann", "sim_ivf_topk_auto", "sim_ivf_kmeans_topk_auto",
    // round 17b: the recall audit (tiny truth set left-semi joined
    // against each index's own top-k; serving pipelines shared) and
    // the zero-shuffle letterbox geometry pass
    "sim_index_recall", "mm_resize_plan",
    // round 18: the auto-width streaming-ANN batch twin (D5d pair join
    // reduced to arrival-order verdicts) and the auto-width multi-table
    // serving LSH (per-table bucket equi-joins over one shared corpus,
    // multi-table hits collapsed before one top-k rollup)
    "st_incremental_ann_auto", "sim_lsh_topk_auto",
    // round 19: the IVF-cell kNN graph (zero-shuffle broadcast-argmin
    // cell pass; candidates = ONE within-probed-cell equi-join — no
    // multi-table dedup stage — then one top-k rollup) and its
    // Lloyd-trained twin (same tail over the trained quantizer)
    "sim_knn_graph_ivf", "sim_knn_graph_ivf_kmeans",
    // round 19 carried (verdict r19 item 7): the trained-IVF streaming
    // dedup batch twin and the kNN-graph recall audit
    "st_incremental_ann_ivf", "sim_knn_graph_recall",
    // round 20: the bounded-load two-level IVF-cell graph (coarse
    // broadcast-argmin route, per-coarse compiled sub-quantizers, the
    // shared serving tail) and one un-materialized NN-Descent round
    // (co-neighbor self-join with vectors riding the adjacency, slim
    // cosine dedup, one pruned top-k re-rank)
    "sim_knn_graph_ivf_scaled", "sim_knn_graph_nnd_round",
    // round 20 (trained-fine): the hierarchical build's serving tail
    // over the trained fine table and one un-materialized grouped
    // fine-Lloyd round (broadcast per-coarse argmin assignment, slim
    // exploded decimal-mean update, dense per-coarse re-index)
    "sim_knn_graph_ivf_hier", "sim_knn_graph_hier_fine_round")

  def main(args: Array[String]): Unit = {
    // optional `-o <dir>`: additionally write each query's FULL
    // explain("formatted") to <dir>/<name>.txt (the round-20
    // optimization evidence files under plans/r20/)
    val (outDir, rest) = args.toSeq match {
      case "-o" +: d +: tail => (Some(d), tail)
      case other => (None, other)
    }
    outDir.foreach(d => new java.io.File(d).mkdirs())
    val spark = SessionProfile.session(cores = 8, logLevel = "ERROR")
    val names = if (rest.nonEmpty) rest else flagships
    val dir = "/root/testdata/sf0.001"
    names.foreach { name =>
      val (df, pinned) = name match {
        // the kNN-graph rows materialize via localCheckpoint (their
        // executed plan is a bare RDD scan) — dump the registry build's
        // un-materialized pipeline
        case "sim_knn_graph" | "sim_knn_graph_auto" | "sim_knn_graph_ivf" |
            "sim_knn_graph_ivf_kmeans" | "sim_knn_graph_ivf_scaled" |
            "sim_knn_graph_ivf_hier" =>
          KnnGraphQueries.Builds.find(_.name == name).get
            .build(Corpus.nvecs(spark, dir))
        // the declared rows checkpoint; dump the un-materialized pipelines
        case "graph_butterflies_capped" =>
          GraphQueries.cappedButterflies(spark, dir)
        case "graph_triangles" => GraphQueries.triangles(spark, dir, bcast = true)
        case "graph_triangles_partitioned" =>
          GraphQueries.triangles(spark, dir, bcast = false)
        case "graph_clustering_coeff" => GraphQueries.clustering(spark, dir)
        case "graph_triangles_capped" => GraphQueries.cappedTriangles(spark, dir)
        // the partitioned rows' final plan is a projection over the last
        // round's blocks; the novel shape is ONE co-partitioned round
        // over the checkpointed src-partitioned edge layout
        case "graph_label_prop_partitioned_round" =>
          GraphQueries.lpaOneRound(spark, dir)
        case "graph_kcore_partitioned_peel" => GraphQueries.kcoreOnePeel(spark, dir)
        case "st_incremental_ann" =>
          graft.queries.Round17Queries.annIncrementalPlan(spark, dir)
        case "sim_ivf_topk_auto" =>
          val (res, all) =
            graft.queries.Round17Queries.ivfTopkAutoPlan(spark, dir)
          (res, Seq(all))
        // the declared row checkpoints; dump with the truth pipeline
        // left un-materialized so the whole shape prints
        case "sim_index_recall" =>
          graft.queries.Round17bQueries.indexRecallPlan(spark, dir, eagerTruth = false)
        // the declared rows checkpoint; dump the un-materialized forms
        case "st_incremental_ann_auto" =>
          val (pairs, v, sigs) =
            graft.queries.Round16Queries.annAutoPairs(spark, dir)
          (graft.queries.Round17Queries.annVerdict(pairs, v), Seq(v, sigs))
        case "sim_lsh_topk_auto" =>
          graft.queries.Round18Queries.lshTopkAutoPlan(spark, dir)
        // the declared row checkpoints; dump the un-materialized twin
        case "st_incremental_ann_ivf" =>
          KnnGraphQueries.annIvfTrained(Corpus.nvecs(spark, dir))
        // ONE un-materialized NN-Descent round over the checkpointed
        // seed (the declared row checkpoints every round; the novel
        // shape is the round body itself)
        case "sim_knn_graph_nnd_round" =>
          val (seed, stages) =
            KnnGraphQueries.scaledGraph(Corpus.nvecs(spark, dir))
          val g0 = seed.localCheckpoint(true)
          val (round1, av) = KnnGraphQueries.nndRoundStaged(stages.last, g0)
          (round1, stages ++ av)
        // ONE un-materialized grouped fine-Lloyd round over the
        // persisted coarse-routed corpus and the checkpointed fine
        // init (the build checkpoints every round; the novel shape is
        // the round body itself)
        case "sim_knn_graph_hier_fine_round" =>
          val corpus = Corpus.nvecs(spark, dir).persist()
          corpus.count()
          val routed = KnnGraphQueries.coarseRouted(corpus).persist()
          routed.count()
          val init = KnnGraphQueries.fineInit(routed, corpus).localCheckpoint()
          (KnnGraphQueries.fineLloydRound(routed, init), Seq(routed, corpus))
        case _ => (SparkEntry.queries(name)(spark, dir), Nil)
      }
      df.collect() // finalize AQE so the printed plan is the executed one
      println(s"\n===== $name =====")
      println(df.queryExecution.executedPlan.toString.take(8000))
      outDir.foreach { d =>
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), formatted)
      }
      // release the pinned stages (persist-scoping discipline — the
      // builders leave them cached for the caller to scope);
      // releaseCheckpoint dispatches on the materialization, so it
      // frees persisted AND checkpointed layouts alike
      pinned.foreach(graft.operators.Layouts.releaseCheckpoint)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
