package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** Materialization helpers for iterative graph/rank loops (SURVEY §2.5).
  *
  * Three Spark facts drive both helpers, discovered by Round15Spec's
  * exchange pins plus the round-16 mover isolation re-times, all
  * invisible at correctness level:
  *
  *  1. Under AQE, `Dataset.localCheckpoint` CANNOT carry a partitioned
  *     layout: `AdaptiveSparkPlanExec.outputPartitioning` reports
  *     `UnknownPartitioning`, so the checkpoint's `LogicalRDD` forgets
  *     the `HashPartitioning` and every downstream join silently
  *     re-exchanges the materialized side — the exact shuffle the
  *     layout existed to avoid.
  *  2. An `InMemoryRelation` (persist) DOES expose the cached plan's
  *     final partitioning — but pays the columnar cache codec both
  *     ways: encode into compressed `CachedBatch`es at materialization
  *     and decode on EVERY per-round scan. The round-15 persist form
  *     cost the iterative graph twins +45–72 % at sf0.1 in isolation
  *     (pagerank_salted 2.6 → 3.9 s, hits_partitioned 2.5 → 4.3 s —
  *     BASELINE.md round-16 mover table) versus the checkpoint's raw
  *     UnsafeRow blocks. With AQE DISABLED just for the checkpoint
  *     action, the `LogicalRDD` is built from the non-adaptive plan
  *     and KEEPS its `HashPartitioning` — layout survival at raw-block
  *     cost (Round15Spec/Round16Spec pin the no-re-exchange property).
  *  3. `Dataset.unpersist` on a localCheckpointed DataFrame is a silent
  *     no-op: the blocks belong to the checkpointed RDD, which the
  *     cache manager never sees. Deterministic release needs
  *     `rdd.unpersist` on the `LogicalRDD`'s RDD (until then the
  *     node-sized blocks of every superseded round stay pinned until
  *     the ContextCleaner happens to GC the reference). Every layout
  *     this object hands out is therefore released through
  *     `releaseCheckpoint`, which dispatches on the materialization.
  */
object Layouts {

  /** Default row budget per layout partition for ITERATIVE consumers
    * (rank/label/peel loops whose per-round work is a node-sized join
    * against the layout): every co-partitioned round inherits the
    * layout's partition count, so a width fixed at
    * `numShufflePartitions` schedules full-width task waves over tiny
    * per-round tables — measured +45–72 % on the rank twins at sf0.1
    * (BASELINE.md round-16 mover table; 8-partition probe recovered the
    * r14 times on a quarter of the cores). 250 k rows/partition grows
    * the width linearly with the corpus until the conf cap — the
    * cluster's declared shuffle width — binds, which at 100 TB it
    * always does. Dense consumers (wedge self-joins that EXPLODE from
    * the layout) pass `rowsPerPartition = 0` to keep the full conf
    * width: their per-partition work is quadratic in partition size,
    * not node-sized.
    */
  val IterativeRows = 250000L

  /** Materialize `df` hash-partitioned on `cols` so the layout SURVIVES
    * for every consumer: explicit-N repartition (a bare
    * `repartition(col)` is a REPARTITION_BY_COL shuffle AQE may
    * coalesce, erasing the declared distribution) + EAGER
    * localCheckpoint compiled with AQE off, so the `LogicalRDD` keeps
    * the `HashPartitioning` (fact 1) without the columnar cache codec
    * of a persist (fact 2). AQE is restored immediately after the
    * checkpoint job; only the one-time build runs non-adaptively.
    *
    * `rowsPerPartition > 0` sizes the layout width FROM THE DATA:
    * the build is materialized once (plain checkpoint, AQE on), its
    * row count picks N = clamp(ceil(rows / rowsPerPartition), 1,
    * numShufflePartitions), and the blocks re-shuffle into the final
    * AQE-off layout (one narrow extra pass over materialized rows —
    * never a second run of the build). `rowsPerPartition = 0` keeps
    * the full conf width in a single materialization.
    *
    * Callers own the release: `releaseCheckpoint` once the last
    * consumer has materialized (the CacheHygieneSpec policy —
    * `Dataset.unpersist` cannot find checkpoint blocks, fact 3).
    *
    * SESSION-SCOPE CONTRACT: the AQE flag is toggled on `df`'s OWN
    * session for the duration of the one checkpoint job (set/restore
    * in try/finally on this thread). A batch query COMPILED on the
    * same session concurrently with that job would plan AQE-off; a
    * narrower scope is not reachable from public API — a `Dataset` is
    * bound to its session at creation, so cloned-session or
    * thread-local-conf tricks don't affect its planning, and rebinding
    * the plan to a cloned session (`Dataset.ofRows`) is private[sql].
    * This is safe in every harness entry point: Verify/Bench/specs
    * compile queries sequentially per session, and Structured
    * Streaming is immune by construction (`StreamExecution` plans
    * every microbatch on its own cloned session + conf snapshot).
    * Callers that introduce intra-session query parallelism must
    * serialize calls into this helper.
    */
  def partitioned(df: DataFrame, cols: Seq[Column],
      rowsPerPartition: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val cap = spark.sessionState.conf.numShufflePartitions
    val key = "spark.sql.adaptive.enabled"
    def checkpointAt(d: DataFrame, n: Int): DataFrame = {
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try d.repartition(n, cols: _*).localCheckpoint(true)
      finally spark.conf.set(key, prev)
    }
    if (rowsPerPartition <= 0L) checkpointAt(df, cap)
    else {
      val staged = df.localCheckpoint(true)
      try {
        // floor at 2: EnsureRequirements does not treat a 1-partition
        // HashPartitioning as co-partitionable — at N=1 every consumer
        // join re-exchanged BOTH sides (caught by the Round15/16 spec
        // pins at sf0.001), defeating the layout entirely
        val n = math.min(cap.toLong, math.max(2L,
          (staged.count() + rowsPerPartition - 1L) / rowsPerPartition)).toInt
        checkpointAt(staged, n)
      } finally releaseCheckpoint(staged)
    }
  }

  /** Size-derived round-robin spread width for a single-file (or
    * few-file) table scan feeding a compute-heavy pipeline — the
    * round-21 replacement for the fixed
    * `repartition(defaultParallelism)` at 43 query-builder sites.
    *
    * Why not the constant: the spread width is the MAP-task count of
    * every downstream exchange, and each map task writes
    * `spark.sql.shuffle.partitions` block files (sort-based shuffle).
    * On the bench fixtures (≤ 11 MB tables) the constant turned every
    * one of the kNN/NND family's ~50 exchanges into 32 map tasks × 32
    * files of ~60 rows each — thread dumps during `sim_knn_graph_nnd`
    * show the executor pool parked with the few live tasks inside
    * `BypassMergeSortShuffleWriter.write`, and the family runs FASTER
    * at 8 cores than 32 (PERF_r20 scaling 0.55–0.8): quadratic
    * shuffle-block growth (guide §2.2) as pure fixed cost. Deriving
    * the width from the INPUT SIZE (guide §2: scale-adaptive
    * partitioning, not a constant tuned for either local mode or the
    * cluster) removes it where it cannot pay: one partition per
    * `spark.sql.files.maxPartitionBytes` of estimated input — the same
    * knob that sizes scan splits, already deployment-tuned — floored
    * at 1, capped at `defaultParallelism`. At cluster volumes the cap
    * binds and the width is EXACTLY the previous constant; below it
    * the width tracks the data. Estimated size comes from the
    * optimized plan's stats (driver-side, no job); unknown/huge stats
    * saturate at the cap, i.e. fall back to the old behavior.
    */
  def scaledParallelism(df: DataFrame): Int = {
    val spark = df.sparkSession
    val target = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val cap = BigInt(math.max(1, spark.sparkContext.defaultParallelism))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes + target - 1) / target
    want.max(BigInt(1)).min(cap).toInt
  }

  /** `df.repartition(scaledParallelism(df))` — the one-line form the
    * query builders use. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(scaledParallelism(df))

  /** A `(result, stages)` pipeline's result checkpointed (composing
    * consumers read blocks, not lineage), then its stages released —
    * through `releaseCheckpoint`, so persisted stages and checkpointed
    * layouts alike are freed. The one checkpoint-and-release wrapper:
    * an embedder gets a self-contained DataFrame, and no stage cache
    * outlives the row, even when the job fails (`finally`).
    *
    * Deliberate trade-offs:
    *  - EAGER: building the DataFrame runs the whole job, even if the
    *    caller never consumes it — the price of releasing the
    *    corpus-sized stages before returning.
    *  - LOCAL checkpoint: the result lives in executor block storage,
    *    so after executor loss the truncated lineage cannot recompute
    *    it; on clusters with dynamic allocation use `spark.checkpoint`
    *    + `Dataset.checkpoint()` instead (same shape, reliable storage).
    *    Results are pair/cluster-sized, so either checkpoint is cheap.
    */
  def materialize(built: (DataFrame, Seq[DataFrame])): DataFrame = {
    val (res, stages) = built
    try res.localCheckpoint(true) finally stages.foreach(releaseCheckpoint)
  }

  /** Free a materialized round's blocks, whatever materialized it:
    * localCheckpoint → unpersist the checkpointed RDD directly (see
    * class scaladoc — `Dataset.unpersist` never finds those blocks);
    * persist / reliable checkpoint → the ordinary paths. Safe once
    * every consumer reads a LATER round: those plans scan their own
    * blocks and carry no lineage back.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }
}
