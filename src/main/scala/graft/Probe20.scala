package graft

import org.apache.spark.sql.SparkSession

/** Round-20 optimization probe: stage-level wall-time attribution for
  * the kNN-graph family (the bench's most expensive rows). Times each
  * internal stage of the bounded-load / hierarchical / NN-Descent
  * chains in isolation so the optimization targets the measured cost,
  * not the suspected one (guide §1: measure first).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe20 [sfDir]"
  * Prints one JSON line of {stage: seconds}.
  */
object Probe20 {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      out(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    // warm scan/codegen paths once (the Bench discipline)
    try SparkEntry.queries("q10_agg_basic")(spark, dir).count()
    catch { case _: Throwable => () }

    // ── the bounded-load chain, stage by stage ──────────────────────
    val base = queries.Corpus.nvecs(spark, dir)
    val corpus = timed("corpus_prepare") {
      val c = base.repartition(spark.sparkContext.defaultParallelism).persist()
      c.count(); c
    }
    val ca = timed("lloyd_coarse_train") {
      queries.Round19Queries.trainedCentArrayFrom(corpus)
    }
    ca.count()
    // ca0 = Some(ca): the stage labeled "rest" must measure only the
    // post-training work (round-20 advice — without threading the
    // precomputed quantizer the builder re-ran the full Lloyd coarse
    // training here and the attribution double-counted it)
    val stages = timed("coarse_cells_rest") {
      queries.Round20Queries.trainedCoarseCellsFrom(base, ca0 = Some(ca))
    }
    timed("serve_k5") {
      queries.Round19Queries.cellGraphServe(stages.head).count()
    }
    val g0 = timed("serve_k10_ckpt") {
      queries.Round19Queries
        .cellGraphServe(stages.head, queries.Round20Queries.KnnNndWidth)
        .localCheckpoint(true)
    }
    val g1 = timed("nnd_round1") {
      queries.Round20Queries.nndRound(stages.last, g0)
    }
    timed("nnd_round2") {
      queries.Round20Queries.nndRound(stages.last, g1)
    }
    stages.foreach(_.unpersist(false))

    // ── the hierarchical chain's fine-level stages ──────────────────
    val routed = timed("hier_coarse_route") {
      val r = queries.Round20Queries.coarseRouted(corpus).persist()
      r.count(); r
    }
    val f0 = timed("hier_fine_init") {
      queries.Round20Queries.fineInit(routed, corpus).localCheckpoint()
    }
    val f1 = timed("hier_fine_round1") {
      queries.Round20Queries.fineLloydRound(routed, f0).localCheckpoint()
    }
    timed("hier_fine_round2") {
      queries.Round20Queries.fineLloydRound(routed, f1).localCheckpoint()
    }
    routed.unpersist(false)
    corpus.unpersist(false)

    // ── whole declared rows for context (one run each) ──────────────
    Seq("sim_knn_graph_ivf_scaled", "sim_knn_graph_nnd",
      "sim_knn_graph_ivf_hier", "sim_knn_graph_recall").foreach { n =>
      timed(s"row:$n") { SparkEntry.queries(n)(spark, dir).count() }
      spark.catalog.clearCache()
    }

    val body = out.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(s"""{"metric":"probe20","sf":"$dir","stages":{$body}}""")
    spark.stop()
  }
}
