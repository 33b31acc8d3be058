package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Layouts

/** The kNN-graph family: nine builds of every vector's top-KnnK cosine
  * neighbors (vec_id, rank, neighbor_id, cosine), their measured edge
  * recall, the semantic clusters over the refined graph, and the ST28
  * trained-cell dedup twin that shares the trained-cell stage.
  *
  * Each build is ONE function over a prepared (vec_id, v, nrm) corpus
  * returning (un-materialized graph, persisted stages to release):
  *  - sign-LSH multiprobe over two tables, at a declared width (the
  *    fixture 8 bits, the scaled 12 bits) or at bits = clamp(⌈log2 n⌉)
  *    derived in-plan;
  *  - IVF cells — hash-residue sampled, Lloyd-trained, trained-coarse
  *    bounded-load, hierarchical (trained fine level) — served by ONE
  *    candidate join + exact cosine + top-k tail (`cellGraphServe`);
  *  - NN-Descent refinement over either bounded-load cell stage.
  * `Layouts.materialize` checkpoints a build and releases its stages,
  * `declared` applies it to the parquet corpus, and ONE registry
  * (`Builds`) drives the nine declared rows, the recall audit's panel
  * and the audit's DuckDB arms — so the audit cannot measure a drifted
  * copy of a row.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity
  * machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); all rows are [EXT] per SURVEY §2.7.
  */
object KnnGraphQueries {

  import AnnQueries.{NBits, hyperplaneSet}

  /** kNN graph degree. */
  val KnnK = 5

  /** Two independent sign-LSH tables for the kNN graph (family offsets
    * unused by every other LSH consumer): union-of-tables is the
    * standard recall amplifier when every vector is a query — Hamming-1
    * multiprobe on ONE table left recall at ~0.15 on the near-random
    * fixture, two tables clear ~0.3 at 2× candidate cost. Width
    * parameterized for the bits~log2(n) scale rule (the
    * dedup_embedding_ann_scaled discipline): candidates grow as
    * n²/2^bits per table, so widening the signature with the corpus
    * holds per-bucket load — and probe cost — constant.
    */
  def knnTables(bits: Int): Seq[Seq[Seq[Double]]] =
    Seq(hyperplaneSet(11, bits), hyperplaneSet(12, bits))

  /** Production-width signature for the scaled kNN twin (2^12 buckets —
    * the log2 rule's setting for the ×26–×50 probe corpora).
    */
  val KnnScaledBits = 12

  /** Query panel width for the kNN-graph recall audit: the
    * KnnRecallPanel smallest vec_ids. 32 queries × KnnK=5 truth edges =
    * a 160-row truth set — wide enough that one tie can't swing the
    * metric the way the 5-query serving panel could, still a bounded
    * broadcast at any corpus size. At 100 TB recall evaluation runs
    * exactly this way: a fixed panel, exact scores for the panel only
    * (never all-pairs), set intersection against the build's edges.
    */
  val KnnRecallPanel = 32

  /** Probed cells per query for the IVF-cell kNN GRAPH builds. This is
    * deliberately a small declared constant, NOT the serving rule's
    * nprobe = ⌈√K⌉: a serving query panel is tiny, so probing √K cells
    * costs n_q·√K·n/K ≈ nothing, but in a graph build EVERY vector is
    * a query and candidate volume is n·nprobe·(n/K) — at the K ~ √n
    * sizing each probed cell holds ~√n vectors, so nprobe is a direct
    * multiplier on the one corpus-sized join. 4 is the MEASURED sweet
    * spot (BASELINE round 19): edge recall 0.14/0.19/0.27 at ×10 and
    * 0.02/0.06/0.10 at ×52 for nprobe 1/2/4 — recall ~linear in nprobe
    * (a candidate-volume knob priced in wall time) — while even
    * nprobe=4's build stays cheaper than the auto-width LSH build at
    * every probed leg; sim_knn_graph_recall keeps the price measured.
    */
  val KnnIvfNprobe = 4

  /** Declared expected per-fine-cell LOAD (vectors per cell). The
    * load-constant discipline inverts the sampled-cell sizing: instead
    * of fixing the cell COUNT rule (K = ⌈√n⌉, load = √n grows with n),
    * fix the LOAD and let the count grow ∝ n — per-cell candidate work
    * is then a constant and the one corpus-sized candidate join is
    * LINEAR. 16 ≈ the D7b CentroidEvery regime (25) scaled to the
    * graph family's nprobe=4: candidates/vector ≈ nprobe·load = 64.
    */
  val KnnCellLoad = 16

  /** NN-Descent refinement rounds over the seed graph. Each round is
    * one bounded self-join (≤ n·(2·KnnNndWidth)² co-neighbor candidates
    * — the forward lists are width-bounded by construction and the
    * reverse lists are width-capped, the paper's sample bound) + exact
    * cosine + re-rank; the rounds/width curve is measured in BASELINE
    * round 20 — declared constants, not knobs.
    */
  val KnnNndRounds = 2

  /** INTERNAL refinement width K' (the NN-Descent paper's K): the
    * convergence engine is the co-neighbor join, and at the output
    * k=5 the lists are too narrow to propagate structure from a sparse
    * bounded-load seed (measured at ×10: recall stalled at 0.03 over 3
    * rounds). Refining at K'=2k and emitting the top k at the end is
    * the paper's own discipline — candidates stay ≤ n·(2K')² per
    * round, still linear in n.
    */
  val KnnNndWidth = 2 * KnnK

  /** Probed coarse cells per vector in the trained-coarse two-level
    * builds. The trained coarse level carries the neighbor structure
    * ("TRAINING co-locates, sampling tiles"), so a true neighbor missing
    * from the home coarse cell is usually in the runner-up — a second
    * probed coarse cell doubles the reachable fine set at constant
    * per-vector cost (the BASELINE round-20 attribution probes price
    * it).
    */
  val KnnCoarseNprobe = 2

  /** Fine-level Lloyd iterations inside each coarse cell (the
    * hierarchical build). Per-round cost is one broadcast compiled
    * argmin pass (O(n·fines-per-coarse·dim) — the flops of one
    * bounded-load fine-assignment pass) plus one grouped exact-mean
    * update (ONE shuffle of n·dim (cell, idx, decimal) rows with
    * map-side partial aggregation) — linear in n per round. The
    * declared value sits where the measured recall curve plateaus
    * (BASELINE round 20 fine-iters sweep).
    */
  val KnnFineIters = 2

  /** Packing base for global fine-cell ids: cell = c2·2³² + f. Fine
    * positions are dense per coarse cell and bounded by the per-coarse
    * fine count (≪ 2³² at any conceivable per-coarse population), so
    * the packing is collision-free; both engines compute the identical
    * arithmetic.
    */
  private val FineCellBase = 1L << 32

  // ════ builds and their two adapters ═════════════════════════════════

  /** A kNN-graph build: prepared (vec_id, v, nrm) corpus → (graph,
    * persisted stages the caller releases once the graph is
    * materialized). Plans and specs read the un-materialized graph.
    */
  type Build = DataFrame => (DataFrame, Seq[DataFrame])

  /** A build as a declared row: materialized over the parquet corpus. */
  private[graft] def declared(build: Build)
      : (SparkSession, String) => DataFrame =
    (s, dir) => Layouts.materialize(build(Corpus.nvecs(s, dir)))

  /** Every vector's top-k scored neighbors, (vec_id, rank,
    * neighbor_id, cosine): the serving tail with the query as vec_id. */
  private def knnRanked(cand: DataFrame, k: Int): DataFrame =
    AnnQueries.ranked(cand, "cosine", k, desc = true)
      .withColumnRenamed("query_id", "vec_id")

  /** The two-table multiprobe sign-LSH kNN graph at signature width
    * `bits`. Stage: the persisted bucketed corpus.
    */
  private[graft] def lshGraph(bits: Int)(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val tables = knnTables(bits)
    def bucketCol(t: Int) = AnnQueries.signBucket(tables(t))
    val all = base
      .withColumn("b0", bucketCol(0)).withColumn("b1", bucketCol(1))
      .transform(Layouts.spread)
      .persist()
    // per table: own bucket + the `bits` Hamming-1 flips; the table
    // index is folded into the join key so tables never cross-match
    def probeCol(bc: String, t: Int) = array(
      ((col(bc) + lit(t << bits)) +: (0 until bits).map(b =>
        col(bc).bitwiseXOR(lit(1 << b)) + lit(t << bits))): _*)
    // score IN-BUCKET, narrow and codegen'd, BEFORE the pair dedup: a
    // pair found by several probes/tables scores identically each time,
    // so max() dedups it and the (query, neighbor) shuffle carries 8
    // bytes of cosine instead of two 64-dim vectors — the first draft
    // shuffled first(v)/first(qv) per candidate and went quadratic in
    // shuffle BYTES (×10 probe: 241 s, ×26: out of disk); this form
    // re-scores duplicate candidates (cheap in-row math) to keep the
    // one wide-payload stage out of the plan entirely
    val cand = Seq(("b0", 0), ("b1", 1)).map { case (bc, t) =>
      val corpus = all.select(col("vec_id"), col("v"), col("nrm"),
        (col(bc) + lit(t << bits)).as("bucket"))
      val q = all.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probeCol(bc, t)).as("bucket"))
      AnnQueries.scored(corpus.join(q.hint("shuffle_hash"), Seq("bucket")),
        AnnQueries.Cos)
    }.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    (knnRanked(cand, KnnK).orderBy(col("vec_id"), col("rank")), Seq(all))
  }

  /** The auto-width sign-LSH kNN graph: bits = clamp(bitlen(n−1),
    * KnnAutoMinBits, KnnAutoMaxBits) from a 1-row broadcast count
    * scalar, every signature masked to its low `bits` bits (masking IS
    * the narrower index), multiprobe flips over ACTIVE bits only.
    * Stage: the persisted signed corpus.
    */
  private[graft] def autoGraph(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    import Round16Queries.{KnnAutoMaxBits, KnnAutoMinBits}
    val tables = knnTables(KnnAutoMaxBits)
    def sigCol(t: Int) = AnnQueries.signBucket(tables(t))
    val width = base.agg(count(lit(1)).as("n"))
      .select(
        greatest(lit(KnnAutoMinBits), least(lit(KnnAutoMaxBits),
          length(bin(col("n") - 1)))).cast("int").as("bits"))
      .withColumn("mask", expr("shiftleft(1, bits) - 1"))
    val all = base
      .crossJoin(broadcast(width))
      .withColumn("s0", sigCol(0))
      .withColumn("s1", sigCol(1))
      .transform(Layouts.spread)
      .persist()
    all.count()
    // per table: masked own bucket + the `bits` Hamming-1 flips of
    // ACTIVE bits only (runtime-length sequence); the table index
    // folds into the key as t·(mask+1) so tables never cross-match
    def cand(t: Int) = {
      val st = s"s$t"
      val corpus = all.select(col("vec_id"), col("v"), col("nrm"),
        (col(st).bitwiseAND(col("mask")) +
          lit(t) * (col("mask") + lit(1))).as("bucket"))
      val probes = expr(
        s"""transform(sequence(0, bits), i ->
           (CASE WHEN i = 0 THEN ($st & mask)
            ELSE ($st & mask) ^ shiftleft(1, i - 1) END)
           + $t * (mask + 1))""")
      val q = all.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"),
        explode(probes).as("bucket"))
      // score in-bucket BEFORE the pair dedup (the lshGraph
      // shuffle-payload lesson: 8 bytes of cosine, never vectors)
      AnnQueries.scored(corpus.join(q.hint("shuffle_hash"), Seq("bucket")),
        AnnQueries.Cos)
    }
    val res = knnRanked(cand(0).unionByName(cand(1))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine")), KnnK)
      .orderBy(col("vec_id"), col("rank"))
    (res, Seq(all))
  }

  /** The IVF-cell kNN graph over hash-residue SAMPLED cells. */
  private[graft] def ivfGraph(base: DataFrame): (DataFrame, Seq[DataFrame]) =
    served(Seq(sampledCells(base)))

  /** The IVF-cell kNN graph over the Lloyd-TRAINED quantizer. */
  private[graft] def kmeansGraph(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) =
    served(Seq(trainedCells(base)))

  /** The trained-coarse bounded-load IVF-cell kNN graph. */
  private[graft] def scaledGraph(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) =
    served(trainedCoarseCells(base))

  /** NN-Descent over the bounded-load seed. */
  private[graft] def nndGraph(base: DataFrame): (DataFrame, Seq[DataFrame]) =
    refined(trainedCoarseCells(base))

  /** The hierarchical (trained-fine) bounded-load IVF-cell kNN graph. */
  private[graft] def hierGraph(base: DataFrame): (DataFrame, Seq[DataFrame]) =
    served(hierCells(base))

  /** NN-Descent over the trained-fine seed. */
  private[graft] def nndHierGraph(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) =
    refined(hierCells(base))

  /** A cell stage served at KnnK (head = the cells stage). */
  private def served(stages: Seq[DataFrame]): (DataFrame, Seq[DataFrame]) =
    (cellGraphServe(stages.head), stages)

  /** A (cells, corpus) stage pair refined by NN-Descent: width-K' seed
    * (the cell stage served at KnnNndWidth, released once round 1 has
    * materialized) + the declared rounds (see nndChainOverSeed).
    */
  private def refined(stages: Seq[DataFrame]): (DataFrame, Seq[DataFrame]) =
    (nndChainOverSeed(stages.last,
      // the SEED is internal: nndRound repartitions it immediately, so
      // the serve's presentation sort is skipped (same rows)
      cellGraphServe(stages.head, KnnNndWidth,
        sorted = false).localCheckpoint(true),
      releaseSeed = true), stages)

  // ════ cell stages ═══════════════════════════════════════════════════

  /** Sampled-cell stage (vec_id, v, nrm, cells), persisted. Cells are
    * the V2b count-derived centroids (K = clamp(⌈√n⌉, 4, 4096) — the
    * FAISS sizing rule, in-plan) drawn by the hash-residue sample
    * (h60(vec_id) % stride = 0 — id-distribution-free; see
    * ivfTopkAutoServe's measured cell-collapse note); each vector
    * computes its KnnIvfNprobe nearest cells in ONE zero-shuffle
    * codegen pass over the broadcast centroid array (pq_argmin_k —
    * compiled insertion loop, ties to the lowest cell position;
    * positions are vec_id-ordered so the tiebreak is bit-identical to
    * the oracle's ORDER BY d2, pos).
    */
  private def sampledCells(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val corpus = base
      .transform(Layouts.spread)
    val width = AnnQueries.ivfAutoWidth(corpus, AnnQueries.IvfAutoMaxK)
    val all = corpus.crossJoin(broadcast(width))
    // hash-residue centroid sample (~K cells whatever the id layout —
    // the round-19 cell-collapse fix, see ivfTopkAutoServe): cells are
    // numbered by vec_id rank inside the broadcast array, so the
    // (d2, pos) tiebreak is monotone in cent id, exactly the oracle's
    val cents = all
      .filter(expr(Corpus.idHash60Spark("vec_id")) %
        col("stride") === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // one narrow pass: the KnnIvfNprobe nearest cells per vector, cell
    // ids = positions in the vec_id-ordered centroid array.
    // pq_argmin_k is the compiled insertion loop — the interpreted-HOF
    // slice(array_sort(transform(...))) form measured 26.9 s at the ×10
    // probe for the same O(n·K·dim) flops (per-element lambda dispatch
    // + n·K struct allocations); materialized once (both join sides of
    // the serving tail read this stage)
    val cells = corpus.crossJoin(broadcast(AnnQueries.centArray(cents)))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $KnnIvfNprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    cells
  }

  /** Shared cell-serving tail over a prepared, persisted (vec_id, v,
    * nrm, cells) stage: homes at cells[0] (the argmin IS rank 1 of the
    * same order), probes at every cell, ONE candidate equi-join (a
    * pair meets at most once — home cells are unique, and a fine cell
    * belongs to exactly one coarse cell), exact cosine, ONE
    * WindowGroupLimit-pruned top-k rollup. Shuffles: the candidate
    * equi-join and the top-k window — nothing else.
    */
  private[graft] def cellGraphServe(cells: DataFrame,
      k: Int = KnnK, sorted: Boolean = true): DataFrame = {
    val homes = cells.select(col("vec_id"), col("v"), col("nrm"),
      col("cells").getItem(0).as("cell"))
    val probes = cells.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"),
      explode(col("cells")).as("cell"))
    val res = knnRanked(AnnQueries.scored(
      homes.join(probes.hint("shuffle_hash"), Seq("cell")), AnnQueries.Cos), k)
    // sorted=false: internal consumers (the NN-Descent SEED — its next
    // stage immediately repartitions) skip the presentation sort's
    // global range exchange; declared rows keep the total ORDER BY
    // (oracle parity rule). Same rows either way.
    if (sorted) res.orderBy(col("vec_id"), col("rank")) else res
  }

  /** The trained quantizer's 1-row broadcast centroid array: K =
    * clamp(⌈√n⌉, 4, 1024), hash-residue init, KmIters k-agnostic Lloyd
    * rounds via the shared kmeansTrainFrom — materialized
    * (localCheckpoint) so composing consumers (the graph builds, the
    * ST28 dedup twin, AND the streaming index's static quantizer — the
    * production posture: train offline, assign online) read blocks,
    * not the Lloyd lineage. Self-contained: its training corpus
    * persist is released before returning.
    */
  private[graft] def trainedCentArray(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val width = AnnQueries.ivfAutoWidth(
      base, AnnQueries.IvfKmeansAutoMaxK)
    val vecs = base
      .crossJoin(broadcast(width))
      .transform(Layouts.spread)
      .persist()
    try {
      vecs.count()
      AnnQueries.centArray(AnnQueries.kmeansTrainAuto(vecs)).localCheckpoint(true)
    } finally vecs.unpersist(false)
  }

  /** Trained-cell stage (vec_id, v, nrm, cells), persisted — the
    * substrate shared by the trained-cell graph build and the ST28
    * dedup twin. `ca0`: a caller-trained quantizer over the same corpus
    * (the recall audit trains once); None = self-train.
    */
  private[graft] def trainedCells(base: DataFrame,
      ca0: Option[DataFrame] = None): DataFrame = {
    val ca = ca0.getOrElse(trainedCentArray(base))
    val cells = base
      .transform(Layouts.spread)
      .crossJoin(broadcast(ca))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $KnnIvfNprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    cells
  }

  /** 1-row width table (n, fk, ck, fstride, cstride) derived from the
    * corpus count — fine cells target n/KnnCellLoad (load ≈
    * KnnCellLoad), coarse cells target n/KnnCellLoad² (each coarse
    * cell routes ~KnnCellLoad fine cells). Integer math is
    * floor/ceil-explicit so DuckDB replays it bit-for-bit.
    */
  private[graft] def cellLoadWidth(vecs: DataFrame): DataFrame =
    vecs.agg(count(lit(1)).as("n"))
      .withColumn("fk", greatest(lit(4L),
        ceil(col("n") / lit(KnnCellLoad.toDouble))).cast("long"))
      .withColumn("ck", greatest(lit(4L),
        ceil(col("n") / lit((KnnCellLoad * KnnCellLoad).toDouble)))
        .cast("long"))
      .withColumn("fstride",
        greatest(lit(1L), floor(col("n") / col("fk")).cast("long")))
      .withColumn("cstride",
        greatest(lit(1L), floor(col("n") / col("ck")).cast("long")))

  /** Trained-coarse bounded-load cell stage — (cells, corpus), both
    * persisted. Two levels, both with a declared job:
    *  - COARSE = the V9b Lloyd-trained count-derived quantizer
    *    (trainedCentArray) — structure: trained cells co-locate
    *    neighbors (a sampled coarse level at the same cost read recall
    *    0.02 where trained read 0.16 at ×10 — the BASELINE round-20
    *    attribution table); assignment is one zero-shuffle compiled
    *    pq_argmin_k pass, O(n·K) ≤ O(n·1024) — linear past the cap;
    *  - FINE = an id-distribution-free hash-residue sample at CONSTANT
    *    expected load (the D7b discipline) routed once to its coarse
    *    cell and collected into PER-COARSE cid-ordered sub-quantizer
    *    arrays — cost: candidates are within-probed-FINE-cell pairs,
    *    n·cnprobe·fnprobe·load = LINEAR at any n.
    * Each vector probes its KnnCoarseNprobe nearest coarse cells (one
    * compiled pass) and, within each, its KnnIvfNprobe nearest fine
    * cells (one broadcast sub-quantizer join + compiled pq_argmin_k per
    * probed coarse — zero shuffle); cells array order = (coarse rank,
    * fine rank), so home = cells[0] is the nearest fine cell of the
    * nearest fine-bearing coarse cell. The sub-quantizer broadcast is
    * ~corpus/load² bytes; past ~10⁸ vectors it flips to a shuffle-hash
    * join on c2 — a declared seam that changes no semantics. `ca0`: a
    * caller-trained quantizer over the SAME corpus (training is
    * order-insensitive, so corpus-vs-base routing changes nothing).
    */
  private[graft] def trainedCoarseCells(base: DataFrame,
      ca0: Option[DataFrame] = None): Seq[DataFrame] = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val corpus = base
      .transform(Layouts.spread)
      .persist()
    corpus.count()
    val ca = ca0.getOrElse(trainedCentArray(corpus))
    val width = cellLoadWidth(corpus)
    val h60 = Corpus.idHash60Spark("vec_id")
    val fine = corpus.crossJoin(broadcast(width))
      .filter(expr(h60) % col("fstride") === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val fineRouted = fine.crossJoin(broadcast(ca))
      .withColumn("c2", expr("pq_argmin(cv, cents)"))
      .select(col("c2"), col("cid"), col("cv"))
    // per-coarse fine sub-quantizers: parallel (ids, vectors) arrays in
    // cid order — pq_argmin_k positions map back to GLOBAL fine cids
    val fineByCoarse = fineRouted
      .groupBy(col("c2"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("fs"))
      .select(col("c2"),
        expr("transform(fs, x -> x.cid)").as("fids"),
        expr("transform(fs, x -> x.cv)").as("fcvs"))
    val routed = corpus.crossJoin(broadcast(ca))
      .withColumn("cc", expr(s"pq_argmin_k(v, cents, $KnnCoarseNprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cc"))
    // one LEFT broadcast join per probed coarse rank (KnnCoarseNprobe
    // is a small declared constant): a probed coarse cell with no fine
    // routed to it contributes an empty slice, and a vector with no
    // reachable fine cell at all drops out of the graph on BOTH
    // engines (the oracle's join replays the same absence)
    val picked = (0 until KnnCoarseNprobe).foldLeft(routed) { (df, i) =>
      df.withColumn("c2", col("cc").getItem(i))
        .join(broadcast(fineByCoarse), Seq("c2"), "left")
        .withColumn(s"cells$i",
          coalesce(
            expr(s"transform(pq_argmin_k(v, fcvs, $KnnIvfNprobe), p -> fids[p])"),
            expr("CAST(array() AS array<bigint>)")))
        .drop("c2", "fids", "fcvs")
    }
    val cells = picked
      .withColumn("cells",
        concat((0 until KnnCoarseNprobe).map(i => col(s"cells$i")): _*))
      .filter(size(col("cells")) > 0)
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    Seq(cells, corpus)
  }

  /** One grouped fine-Lloyd round over the coarse-routed corpus:
    * assignment = every vector to the nearest fine centroid OF ITS
    * HOME COARSE CELL (one broadcast join + compiled pq_argmin pass),
    * update = `AnnQueries.lloydMeans` grouped by (c2, f) instead
    * of cluster (one hash aggregate, ONE shuffle of partial sums —
    * linear in n), positions re-indexed dense per coarse so empty fine
    * cells compact identically on both engines.
    */
  private[graft] def fineLloydRound(routed: DataFrame, fc: DataFrame)
      : DataFrame = {
    val assigned = routed
      .select(col("cc").getItem(0).as("c2"), col("v"))
      .join(broadcast(fineArr(fc)), Seq("c2"))
      .withColumn("f", expr("pq_argmin(v, fcvs)"))
    val wRe = Window.partitionBy(col("c2")).orderBy(col("f"))
    AnnQueries.lloydMeans(assigned, col("c2"), col("f"))
      .select(col("c2"),
        ((row_number().over(wRe)) - 1).cast("int").as("fnew"),
        col("cv"))
      .withColumnRenamed("fnew", "f")
  }

  /** Fine INIT (the bounded-load stage's exact fine geometry over the
    * routed corpus): the hash-residue sample at expected load
    * KnnCellLoad, each sampled point homed to ITS nearest coarse cell
    * (cc[0] — the argmin IS rank 1 of the routing order); identity =
    * (c2, f) with f = the sample's vec_id rank within the coarse cell.
    */
  private[graft] def fineInit(routed: DataFrame, corpus: DataFrame)
      : DataFrame = {
    val h60 = Corpus.idHash60Spark("vec_id")
    val wInit = Window.partitionBy(col("c2")).orderBy(col("cid"))
    routed.crossJoin(broadcast(cellLoadWidth(corpus)))
      .filter(expr(h60) % col("fstride") === 0)
      .select(col("cc").getItem(0).as("c2"), col("vec_id").as("cid"),
        col("v").as("cv"))
      .withColumn("f", (row_number().over(wInit) - 1).cast("int"))
      .select(col("c2"), col("f"), col("cv"))
  }

  /** The coarse-routed corpus (vec_id, v, nrm, cc) — the substrate the
    * fine init, every fine-Lloyd round, and the serving assignment all
    * read; exposed for the Plans dump of one fine round.
    */
  private[graft] def coarseRouted(corpus: DataFrame,
      ca0: Option[DataFrame] = None): DataFrame = {
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.register(s)
    val ca = ca0.getOrElse(trainedCentArray(corpus))
    corpus.crossJoin(broadcast(ca))
      .withColumn("cc", expr(s"pq_argmin_k(v, cents, $KnnCoarseNprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cc"))
  }

  /** Per-coarse fine-centroid sub-quantizer arrays: (c2, fcvs), fcvs
    * in fine-position order (f is dense per coarse, so sort_array on
    * the (f, cv) struct puts position p = f — the pq_argmin strict-<
    * tiebreak is then the oracle's ORDER BY d2, f).
    */
  private def fineArr(fcents: DataFrame): DataFrame =
    fcents.groupBy(col("c2"))
      .agg(sort_array(collect_list(struct(col("f"), col("cv")))).as("fs"))
      .select(col("c2"), expr("transform(fs, x -> x.cv)").as("fcvs"))

  /** Hierarchical-k-means cell stage — (cells, corpus), both persisted:
    * the trained-coarse bounded-load stage with the fine level TRAINED
    * instead of sampled. Three passes:
    *  - COARSE (shared): the V9b Lloyd quantizer; ONE compiled
    *    pq_argmin_k pass ranks every vector's KnnCoarseNprobe nearest
    *    coarse cells (cc[0] is the training home);
    *  - FINE INIT (fineInit): at zero fine iterations this stage IS the
    *    bounded-load stage (same cells, same candidates, same edges;
    *    Round20Spec pins the equality);
    *  - FINE LLOYD (`fineIters` rounds, grouped by coarse home — see
    *    fineLloydRound).
    * Serving assignment: KnnCoarseNprobe probed coarse cells ×
    * KnnIvfNprobe fine cells each through zero-shuffle compiled passes,
    * cells ordered (coarse rank, fine rank), global cell id = c2·2³² +
    * f. Fine cell COUNT still grows ∝ n (the init sample fixes it), so
    * candidate volume stays n·cnprobe·fnprobe·load = LINEAR — training
    * moves the centroids, not the budget.
    */
  private[graft] def hierCells(base: DataFrame,
      fineIters: Int = KnnFineIters,
      ca0: Option[DataFrame] = None): Seq[DataFrame] = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val corpus = base
      .transform(Layouts.spread)
      .persist()
    corpus.count()
    val routed = coarseRouted(corpus, ca0).persist()
    routed.count()
    var fc = fineInit(routed, corpus).localCheckpoint()
    for (_ <- 1 to fineIters)
      fc = fineLloydRound(routed, fc).localCheckpoint()
    val fbc = fineArr(fc)
    val picked = (0 until KnnCoarseNprobe).foldLeft(routed) { (df, i) =>
      df.withColumn("c2", col("cc").getItem(i))
        .join(broadcast(fbc), Seq("c2"), "left")
        .withColumn(s"cells$i",
          coalesce(
            expr(s"transform(pq_argmin_k(v, fcvs, $KnnIvfNprobe), " +
              s"p -> cast(c2 as bigint) * $FineCellBase + p)"),
            expr("CAST(array() AS array<bigint>)")))
        .drop("c2", "fcvs")
    }
    val cells = picked
      .withColumn("cells",
        concat((0 until KnnCoarseNprobe).map(i => col(s"cells$i")): _*))
      .filter(size(col("cells")) > 0)
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    routed.unpersist(false)
    Seq(cells, corpus)
  }

  // ════ NN-Descent ════════════════════════════════════════════════════

  /** One NN-Descent round over a materialized width-K' edge table:
    * undirected co-neighbor adjacency (forward lists are K'-bounded;
    * reverse lists K'-capped by (cosine desc, id asc) — the paper's
    * reverse-sample bound, so EVERY node's adjacency is ≤ 2K' and no
    * hub task exists), vectors ride the adjacency so every co-neighbor
    * candidate is born with both sides' vectors in-task and the pair
    * dedup shuffles 8 bytes of cosine, never vectors, then one
    * max-dedup (duplicates score identically) unioned with the
    * incumbent edges and one top-K' re-rank. Five exchanges per round:
    *  - `av` is materialized ONCE, repartitioned by the shared
    *    endpoint, so the self-join consumes the cache CO-PARTITIONED
    *    with ZERO exchanges on either side and the attach join executes
    *    once; the persisted stage is returned for the caller to release;
    *  - the adjacency dedup is repartition(nb) + distinct: hash(nb)
    *    satisfies the (node, nb) grouping AND is the attach join's
    *    required distribution;
    *  - the candidate dedup is repartition(query_id) + group-max:
    *    hash(query_id) satisfies the (query_id, neighbor_id) grouping
    *    AND the re-rank window's clustering.
    * Returns (round result, Seq(persisted av stage)).
    */
  private[graft] def nndRoundStaged(corpus: DataFrame, edges: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val fwd = edges.select(col("vec_id").as("node"),
      col("neighbor_id").as("nb"))
    val wr = Window.partitionBy(col("neighbor_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val rev = edges.withColumn("rrn", row_number().over(wr))
      .filter(col("rrn") <= KnnNndWidth)
      .select(col("neighbor_id").as("node"), col("vec_id").as("nb"))
    val adj = fwd.unionByName(rev).repartition(col("nb")).distinct()
    val av = adj.join(
      corpus.select(col("vec_id").as("nb"), col("v"), col("nrm"))
        .hint("shuffle_hash"), Seq("nb"))
      .select(col("node"), col("nb"), col("v"), col("nrm"))
      .repartition(col("node"))
      .persist() // lazy: the first task to touch a partition fills it,
                 // the self-join's second read of the same block hits it
    val co = av.as("x").join(av.as("y").hint("shuffle_hash"),
        col("x.node") === col("y.node"))
      .filter(col("x.nb") =!= col("y.nb"))
      .select(col("x.nb").as("query_id"), col("y.nb").as("neighbor_id"),
        round(VectorOps.cosine(col("y.v"), col("x.v"),
          col("y.nrm"), col("x.nrm")), 6).as("cosine"))
    val cand = co.unionByName(
        edges.select(col("vec_id").as("query_id"), col("neighbor_id"),
          col("cosine")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    (knnRanked(cand, KnnNndWidth), Seq(av))
  }

  /** One NN-Descent round checkpointed, its av stage released. */
  private[graft] def nndRound(corpus: DataFrame, edges: DataFrame)
      : DataFrame = Layouts.materialize(nndRoundStaged(corpus, edges))

  /** KnnNndRounds refinement rounds at K' over an ALREADY-MATERIALIZED
    * width-K' seed, each localCheckpoint'ed (the kmeansTrainFrom
    * flat-plan recipe), then ranks 1..KnnK of the final lists (no
    * re-rank). `releaseSeed`
    * frees the seed's checkpoint blocks as soon as round 1 has
    * materialized (the recall audit owns its shared seeds and releases
    * them itself).
    */
  private def nndChainOverSeed(corpus: DataFrame, seed: DataFrame,
      releaseSeed: Boolean = false): DataFrame = {
    var g = seed
    for (r <- 1 to KnnNndRounds) {
      g = nndRound(corpus, g) // checkpoints itself, releases its stage
      if (r == 1 && releaseSeed)
        Layouts.releaseCheckpoint(seed)
    }
    g.filter(col("rank") <= KnnK)
      .orderBy(col("vec_id"), col("rank"))
  }

  // ════ ST28: incremental ANN dedup over the trained IVF index ════════

  /** ST28 batch-twin pipeline over a prepared corpus: the trained-cell
    * pair rule reduced by the shared arrival-order verdict (dup_of =
    * min earlier τ-passing resident among the arrival's probed cells,
    * arrival order := vec_id order) — (result, persisted stages).
    * StreamingIvfDedupSpec builds its re-index generations with it.
    */
  private[graft] def annIvfTrained(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val cells = trainedCells(base)
    val homes = cells.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("cells").getItem(0).as("cell"))
    val probes = cells.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), explode(col("cells")).as("cell"))
    val pairs = homes.join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= DedupQueries.CosineTau)
    (DedupQueries.annVerdict(pairs, cells.select(col("vec_id"))),
      Seq(cells))
  }

  // ════ recall audit ══════════════════════════════════════════════════

  /** The graph-recall panel: the KnnRecallPanel SMALLEST vec_ids via a
    * rank, NOT `vec_id < KnnRecallPanel` — on an offset/sparse-id
    * corpus with no ids below the constant the truth panel would be
    * empty and the audit would vacuously pass.
    */
  private def smallestIds(all: DataFrame): DataFrame =
    all.join(broadcast(all.select(col("vec_id"))
      .orderBy(col("vec_id")).limit(KnnRecallPanel)), Seq("vec_id"))

  /** The cell stages the audit's trained builds share, each built at
    * most once over the audit's ONE prepared corpus and released by
    * `release`: the five trained builds train the IDENTICAL coarse
    * quantizer, and each cell stage is SERVED ONCE at the NND internal
    * width K' — the k-serve row is ranks 1..k of the SAME window
    * (identical rows), and the NND chain refines that same
    * materialized seed.
    */
  private final class AuditStages(base: DataFrame) {
    private val releases =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    // the 1-row ca and the width-K' seeds are localCheckpoint blocks
    // (Dataset.unpersist never finds those); the cell stages are
    // persisted by their builders
    private def checkpointed(df: DataFrame): DataFrame = {
      releases += (() => Layouts.releaseCheckpoint(df)); df
    }
    private def persisted(stages: Seq[DataFrame]): Seq[DataFrame] = {
      releases += (() => stages.foreach(_.unpersist(false))); stages
    }
    private lazy val ca = checkpointed(trainedCentArray(base))
    private lazy val coarse = persisted(trainedCoarseCells(base, Some(ca)))
    private lazy val hier = persisted(hierCells(base, ca0 = Some(ca)))
    private lazy val coarseSeed = checkpointed(
      cellGraphServe(coarse.head, KnnNndWidth, sorted = false)
        .localCheckpoint(true))
    private lazy val hierSeed = checkpointed(
      cellGraphServe(hier.head, KnnNndWidth, sorted = false)
        .localCheckpoint(true))
    // materialized: the seed blocks are released before the audit's
    // returned plan is read
    private def topK(seed: DataFrame): DataFrame =
      seed.filter(col("rank") <= KnnK).localCheckpoint(true)

    /** The materialized graph of registry build `b` over `corpus`. */
    def graph(b: KnnBuild, corpus: DataFrame): DataFrame = {
      // every shared stage is built over ONE corpus: a second corpus
      // would silently be served stale stages
      require(corpus eq base, "audit memo is corpus-scoped")
      b.label match {
        case "ivf_kmeans_cell" =>
          Layouts.materialize(served(Seq(trainedCells(corpus, Some(ca)))))
        case "ivf_scaled_cell" => topK(coarseSeed)
        case "nnd" =>
          nndChainOverSeed(coarse.last, coarseSeed).localCheckpoint(true)
        case "ivf_hier_cell" => topK(hierSeed)
        case "nnd_hier" =>
          nndChainOverSeed(hier.last, hierSeed).localCheckpoint(true)
        case _ => Layouts.materialize(b.build(corpus))
      }
    }

    def release(): Unit = releases.foreach(_())
  }

  /** Edge recall of every registry build against the exact cosine
    * top-KnnK panel truth (`AnnQueries.exactTopk`, same rounding and
    * tiebreak as every build), per panel query. ONE prepared corpus is
    * threaded through the truth and every build; safe to release in
    * the finally: every graph is materialized before its recall is
    * composed, and the truth is a bounded driver-side collect.
    */
  private def graphRecall(s: SparkSession, dir: String): DataFrame = {
    val base = Corpus.nvecs(s, dir).persist()
    val stages = new AuditStages(base)
    try {
      base.count()
      val truth = AnnQueries.collected(
        AnnQueries.exactTopk(base, smallestIds, AnnQueries.Cos, KnnK))
      // the panel id set rides along for each build's filter (a local
      // relation collects without a job)
      val panelIds = truth.collect().map(_.getLong(0)).distinct.sorted.toSeq
      AnnQueries.recallOf("build", Builds.map { b =>
        (b.label, truth, stages.graph(b, base)
          .filter(col("vec_id").isin(panelIds: _*))
          .select(col("vec_id").as("query_id"), col("neighbor_id")))
      })
    } finally { stages.release(); base.unpersist(false) }
  }

  // ════ DuckDB oracle builders ════════════════════════════════════════

  /** A kNN CTE chain ending in `ranked` (query_id, neighbor_id, cosine,
    * rank) as a full statement at width `k`.
    */
  private def rankedSql(ctes: String, k: Int = KnnK): String =
    s"""WITH $ctes
      SELECT query_id AS vec_id, rank, neighbor_id, cosine FROM ranked
      WHERE rank <= $k ORDER BY vec_id, rank"""

  /** The sign-LSH kNN-graph oracle CTE chain at `bits`, ending in
    * `ranked` — shared by the graph rows and the τ-edge oracles.
    */
  private[graft] def knnDuckCtes(bits: Int): String = {
    val tables = knnTables(bits)
    def bucketSql(t: Int) = AnnQueries.signBucketSql(tables(t))
    def probes(t: Int) = (0 to bits).map {
      case 0 => s"b$t + ${t << bits}"
      case b => s"xor(b$t, ${1 << (b - 1)}) + ${t << bits}"
    }.mkString("[", ", ", "]")
    s"""${Corpus.nvecsDuck},
      bucketed AS (
        SELECT vec_id, v, nrm, ${bucketSql(0)} AS b0, ${bucketSql(1)} AS b1
        FROM nvecs),
      corpus AS (
        SELECT vec_id, v, nrm, b0 AS bucket FROM bucketed
        UNION ALL
        SELECT vec_id, v, nrm, b1 + ${1 << bits} AS bucket FROM bucketed),
      q AS (
        SELECT vec_id AS query_id, unnest(${probes(0)}) AS bucket
        FROM bucketed
        UNION ALL
        SELECT vec_id AS query_id, unnest(${probes(1)}) AS bucket
        FROM bucketed),
      cand AS (
        SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
        FROM corpus a JOIN q ON a.bucket = q.bucket
          AND a.vec_id <> q.query_id),
      sims AS (
        SELECT c.query_id, c.neighbor_id,
          round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
        FROM cand c
        JOIN nvecs b ON b.vec_id = c.query_id
        JOIN nvecs a ON a.vec_id = c.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)"""
  }

  /** The auto-width kNN oracle CTE chain, ending in `ranked` with
    * `nvecs` in scope — shared by sim_knn_graph_auto and
    * sim_semantic_edges_auto.
    */
  private[graft] lazy val knnAutoDuckCtes: String = {
    import Round16Queries.{KnnAutoMaxBits, KnnAutoMinBits}
    val tables = knnTables(KnnAutoMaxBits)
    def sigSql(t: Int) = AnnQueries.signBucketSql(tables(t))
    val bitsSql =
      s"greatest($KnnAutoMinBits, least($KnnAutoMaxBits, length(bin(count(*) - 1))))"
    def probesSql(st: String, t: Int) =
      s"""list_transform(range(0, bits + 1), i ->
          (CASE WHEN i = 0 THEN ($st & mask)
           ELSE xor(($st & mask), (1 << (i - 1))) END) + $t * (mask + 1))"""
    s"""${Corpus.nvecsDuck},
      width AS (
        SELECT $bitsSql AS bits, (1 << $bitsSql) - 1 AS mask FROM vecs),
      bucketed AS (
        SELECT vec_id, v, nrm, bits, mask,
          ${sigSql(0)} AS s0, ${sigSql(1)} AS s1
        FROM nvecs CROSS JOIN width),
      corpus AS (
        SELECT vec_id, (s0 & mask) AS bucket FROM bucketed
        UNION ALL
        SELECT vec_id, (s1 & mask) + (mask + 1) AS bucket FROM bucketed),
      q AS (
        SELECT vec_id AS query_id, unnest(${probesSql("s0", 0)}) AS bucket
        FROM bucketed
        UNION ALL
        SELECT vec_id AS query_id, unnest(${probesSql("s1", 1)}) AS bucket
        FROM bucketed),
      cand AS (
        SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
        FROM corpus a JOIN q ON a.bucket = q.bucket
          AND a.vec_id <> q.query_id),
      sims AS (
        SELECT c.query_id, c.neighbor_id,
          round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
        FROM cand c
        JOIN nvecs b ON b.vec_id = c.query_id
        JOIN nvecs a ON a.vec_id = c.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)"""
  }

  /** The sampled-cell kNN oracle. The argmin/probe replay is the proven
    * cross-join + row_number form (the kmeans-auto oracle's parity
    * with Spark's compiled argmin).
    */
  private lazy val knnGraphIvfDuckSql: String = {
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""WITH ${Corpus.nvecsDuck},
      width AS (${AnnQueries.ivfAutoWidthSql("nvecs",
        AnnQueries.IvfAutoMaxK)}),
      cents AS (
        SELECT vec_id AS pos, v AS cv
        FROM nvecs CROSS JOIN width
        WHERE ${Corpus.idHash60Duck("vec_id")} % stride = 0),
      cellranks AS (
        SELECT a.vec_id, a.v, a.nrm, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $ad ASC, c.pos ASC) AS rn
        FROM nvecs a CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, v, nrm, pos FROM cellranks WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, pos
        FROM cellranks WHERE rn <= $KnnIvfNprobe),
      sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
            AS cosine
        FROM assign a JOIN probes p
          ON a.pos = p.pos AND a.vec_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id AS vec_id, rank, neighbor_id, cosine FROM ranked
    WHERE rank <= $KnnK ORDER BY vec_id, rank"""
  }

  /** Shared trained-cell oracle CTE chain — the unrolled Lloyd prefix
    * (kmDuckPrefixFrom over the named-val init sample) plus cell ranks,
    * ending in `assign` (vec_id, v, nrm, pos — the home cell) and
    * `probes` (query_id, qv, qn, pos — the KnnIvfNprobe probed cells),
    * cells = the round-KmIters trained centroids (dense re-indexed
    * positions — exactly Spark's post-training centroid-array order).
    * Nested by BOTH the trained-cell graph oracle and the ST28
    * dedup-twin oracle.
    */
  private def trainedCellDuckCtes: String = {
    val it = AnnQueries.KmIters
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""${AnnQueries.kmDuckPrefixFrom(
        AnnQueries.kmeansAutoC0Sql, it)},
      cellranks AS (
        SELECT a.vec_id, a.v, ${VectorOps.duckNorm("a.v")} AS nrm, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $ad ASC, c.pos ASC) AS rn
        FROM vecs a CROSS JOIN c$it c),
      assign AS (
        SELECT vec_id, v, nrm, pos FROM cellranks WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, pos
        FROM cellranks WHERE rn <= $KnnIvfNprobe)"""
  }

  private def knnGraphIvfKmeansDuckSql: String =
    s"""WITH $trainedCellDuckCtes,
      sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
            AS cosine
        FROM assign a JOIN probes p
          ON a.pos = p.pos AND a.vec_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id AS vec_id, rank, neighbor_id, cosine FROM ranked
    WHERE rank <= $KnnK ORDER BY vec_id, rank"""

  /** The ST28 pair rule as a full statement (vec_a, vec_b, cosine) —
    * DIRECTIONAL by construction: resident a's HOME cell must be among
    * the later arrival b's PROBED cells (only home cells hold
    * residents online), a < b, exact cosine ≥ τ. Nested verbatim by
    * the twin's verdict oracle.
    */
  private def annIvfPairsDuckSql: String =
    s"""SELECT * FROM (
      WITH $trainedCellDuckCtes
      SELECT a.vec_id AS vec_a, p.query_id AS vec_b,
        round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
          AS cosine
      FROM assign a JOIN probes p
        ON a.pos = p.pos AND a.vec_id < p.query_id) t
    WHERE cosine >= ${DedupQueries.CosineTau}"""

  /** The cellLoadWidth DuckDB CTE body (over `src`). */
  private def cellLoadWidthSql(src: String): String =
    s"""SELECT n, fk, ck,
        greatest(1, CAST(floor(CAST(n AS DOUBLE) / fk) AS BIGINT)) AS fstride,
        greatest(1, CAST(floor(CAST(n AS DOUBLE) / ck) AS BIGINT)) AS cstride
      FROM (
        SELECT n,
          greatest(4, CAST(ceil(CAST(n AS DOUBLE) / $KnnCellLoad) AS BIGINT))
            AS fk,
          greatest(4, CAST(ceil(CAST(n AS DOUBLE) /
            ${KnnCellLoad * KnnCellLoad}) AS BIGINT)) AS ck
        FROM (SELECT count(*) AS n FROM $src))"""

  /** The trained-coarse bounded-load oracle CTE chain, ending in
    * `ranked`. The coarse level replays the SHARED unrolled Lloyd chain
    * (identical to the trained-cell/ST28 oracles); the fine level
    * replays the residue sample, the routing argmin, and the
    * per-(vector, probed-coarse) fine ranks; `ordered` replays the
    * Spark cells-array order (coarse rank, fine rank) so home = overall
    * rn 1 on both engines.
    */
  private def knnGraphIvfScaledDuckCtes: String = {
    val it = AnnQueries.KmIters
    val h60 = Corpus.idHash60Duck("vec_id")
    val cd = VectorOps.duckDist2("a.v", "c.cv")
    val fcd = VectorOps.duckDist2("f.cv", "c.cv")
    val fd = VectorOps.duckDist2("p.v", "f.cv")
    s"""${AnnQueries.kmDuckPrefixFrom(
        AnnQueries.kmeansAutoC0Sql, it)},
      width AS (${cellLoadWidthSql("vecs")}),
      coarseranks AS (
        SELECT a.vec_id, a.v, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $cd ASC, c.pos ASC) AS crn
        FROM vecs a CROSS JOIN c$it c),
      fine AS (
        SELECT vec_id AS cid, v AS cv FROM vecs CROSS JOIN width
        WHERE $h60 % fstride = 0),
      frouted AS (
        SELECT cid, cv, c2 FROM (
          SELECT f.cid, f.cv, c.pos AS c2,
            row_number() OVER (PARTITION BY f.cid
              ORDER BY $fcd ASC, c.pos ASC) AS rn
          FROM fine f CROSS JOIN c$it c) WHERE rn = 1),
      vprobes AS (
        SELECT vec_id, v, pos AS c2, crn FROM coarseranks
        WHERE crn <= $KnnCoarseNprobe),
      cellranks AS (
        SELECT p.vec_id, p.v, p.crn, f.cid AS cell,
          row_number() OVER (PARTITION BY p.vec_id, p.crn
            ORDER BY $fd ASC, f.cid ASC) AS frn
        FROM vprobes p JOIN frouted f ON f.c2 = p.c2),
      ordered AS (
        SELECT vec_id, v, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY crn ASC, frn ASC) AS rn
        FROM cellranks WHERE frn <= $KnnIvfNprobe),
      assign AS (
        SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm, cell
        FROM ordered WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, ${VectorOps.duckNorm("v")} AS qn,
          cell
        FROM ordered),
      sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
            AS cosine
        FROM assign a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)"""
  }

  /** The hierarchical-k-means oracle CTE chain, ending in `ranked` —
    * the bounded-load chain with the fine level's grouped Lloyd rounds
    * unrolled: f0 = the residue sample homed to its coarse cell (f =
    * cid rank per coarse), each round = a per-vector argmin WITHIN the
    * home coarse cell (d2 asc, f asc — pq_argmin's strict-< tiebreak
    * over the f-ordered array), the shared round-9 decimal-mean update
    * grouped by (c2, f), and a dense per-coarse re-index (empty cells
    * compact identically). `hv` (rank-1 of coarseranks) is the training
    * home; serving replays the (crn, frn) order over the TRAINED fine
    * table with cell = c2·2³² + f.
    */
  private def knnGraphIvfHierDuckCtes: String = {
    val it = AnnQueries.KmIters
    val h60 = Corpus.idHash60Duck("vec_id")
    val cd = VectorOps.duckDist2("a.v", "c.cv")
    val scd = VectorOps.duckDist2("f.cv", "c.cv")
    val fad = VectorOps.duckDist2("a.v", "c.cv")
    val fd = VectorOps.duckDist2("p.v", "c.cv")
    val dim = AnnQueries.Dim
    val fineRounds = (1 to KnnFineIters).map { i =>
      s"""fa$i AS (
          SELECT vec_id, v, c2, f FROM (
            SELECT a.vec_id, a.v, a.c2, c.f,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $fad ASC, c.f ASC) AS rn
            FROM hv a JOIN f${i - 1} c ON c.c2 = a.c2) WHERE rn = 1),
        fu$i AS (
          SELECT c2, f, u.j AS idx,
            round(CAST(sum(CAST(round(v[u.j + 1], 9) AS DECIMAL(28,9))) AS DOUBLE)
                  / count(*), 9) AS mn
          FROM fa$i, unnest(range(0, $dim)) u(j)
          GROUP BY c2, f, u.j),
        f$i AS (
          SELECT c2, CAST(row_number() OVER (PARTITION BY c2 ORDER BY f) - 1
            AS INT) AS f, cv
          FROM (
            SELECT c2, f, list(mn ORDER BY idx) AS cv FROM fu$i
            GROUP BY c2, f))"""
    }.mkString(",\n      ")
    s"""${AnnQueries.kmDuckPrefixFrom(
        AnnQueries.kmeansAutoC0Sql, it)},
      width AS (${cellLoadWidthSql("vecs")}),
      coarseranks AS (
        SELECT a.vec_id, a.v, c.pos,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY $cd ASC, c.pos ASC) AS crn
        FROM vecs a CROSS JOIN c$it c),
      hv AS (
        SELECT vec_id, v, pos AS c2 FROM coarseranks WHERE crn = 1),
      fsamp AS (
        SELECT vec_id AS cid, v AS cv FROM vecs CROSS JOIN width
        WHERE $h60 % fstride = 0),
      f0r AS (
        SELECT cid, cv, c2 FROM (
          SELECT f.cid, f.cv, c.pos AS c2,
            row_number() OVER (PARTITION BY f.cid
              ORDER BY $scd ASC, c.pos ASC) AS rn
          FROM fsamp f CROSS JOIN c$it c) WHERE rn = 1),
      f0 AS (
        SELECT c2, CAST(row_number() OVER (PARTITION BY c2 ORDER BY cid) - 1
          AS INT) AS f, cv
        FROM f0r),
      $fineRounds,
      vprobes AS (
        SELECT vec_id, v, pos AS c2, crn FROM coarseranks
        WHERE crn <= $KnnCoarseNprobe),
      cellranks AS (
        SELECT p.vec_id, p.v, p.crn,
          p.c2 * $FineCellBase + c.f AS cell,
          row_number() OVER (PARTITION BY p.vec_id, p.crn
            ORDER BY $fd ASC, c.f ASC) AS frn
        FROM vprobes p JOIN f$KnnFineIters c ON c.c2 = p.c2),
      ordered AS (
        SELECT vec_id, v, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY crn ASC, frn ASC) AS rn
        FROM cellranks WHERE frn <= $KnnIvfNprobe),
      assign AS (
        SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm, cell
        FROM ordered WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, ${VectorOps.duckNorm("v")} AS qn,
          cell
        FROM ordered),
      sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6)
            AS cosine
        FROM assign a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)"""
  }

  /** The refined-graph oracle CTE chain over the bounded-load seed,
    * ending in `ranked` — shared by sim_knn_graph_nnd and its τ-edges.
    */
  private def knnGraphNndDuckCtes: String =
    knnGraphNndDuckCtesOver(rankedSql(knnGraphIvfScaledDuckCtes, KnnNndWidth))

  /** The NN-Descent rounds over ANY width-K' seed statement, ending in
    * `ranked` — the seed statement nested whole (its own WITH scope, no
    * CTE collisions) and each refinement round unrolled: adjacency
    * (UNION = the set dedup), co-neighbor candidates ∪ incumbents,
    * exact re-score, top-K'.
    */
  private def knnGraphNndDuckCtesOver(seedSql: String): String = {
    val roundCtes = (1 to KnnNndRounds).map { r =>
      s"""adj$r AS (
          SELECT query_id AS node, neighbor_id AS nb FROM e${r - 1}
          UNION
          SELECT node, nb FROM (
            SELECT neighbor_id AS node, query_id AS nb,
              row_number() OVER (PARTITION BY neighbor_id
                ORDER BY cosine DESC, query_id ASC) AS rrn
            FROM e${r - 1}) WHERE rrn <= $KnnNndWidth),
        cand$r AS (
          SELECT x.nb AS query_id, y.nb AS neighbor_id
          FROM adj$r x JOIN adj$r y ON x.node = y.node AND x.nb <> y.nb
          UNION
          SELECT query_id, neighbor_id FROM e${r - 1}),
        scored$r AS (
          SELECT c.query_id, c.neighbor_id,
            round(${VectorOps.duckDot("a.v", "q.v")} / (a.nrm * q.nrm), 6)
              AS cosine
          FROM cand$r c
          JOIN nvecs q ON q.vec_id = c.query_id
          JOIN nvecs a ON a.vec_id = c.neighbor_id),
        e$r AS (
          SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored$r) WHERE rank <= $KnnNndWidth)"""
    }.mkString(",\n        ")
    s"""${Corpus.nvecsDuck},
      e0 AS (
        SELECT vec_id AS query_id, neighbor_id, cosine
        FROM ($seedSql) seed),
      $roundCtes,
      ranked AS (
        SELECT query_id, neighbor_id, cosine, rank FROM e$KnnNndRounds)"""
  }

  /** The matching DuckDB panel truth (full statement). */
  private def bruteKnnPanelDuckSql: String =
    s"""WITH ${Corpus.nvecsDuck},
      qsel AS (SELECT vec_id FROM nvecs
               ORDER BY vec_id LIMIT $KnnRecallPanel),
      q AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nrm AS qn
            FROM nvecs n JOIN qsel USING (vec_id)),
      sims AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6)
            AS cosine
        FROM nvecs a JOIN q ON a.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id, neighbor_id FROM ranked WHERE rank <= $KnnK"""

  /** The recall oracle: every registry build's statement nested
    * verbatim, restricted to the panel, scored against the panel truth.
    */
  private def graphRecallDuckSql: String = {
    val buildCtes = Builds.map { b =>
      s"""b_${b.label} AS (
            SELECT vec_id AS query_id, neighbor_id
            FROM (${b.duckSql}) s_${b.label}
            WHERE vec_id IN (SELECT vec_id FROM panel))"""
    }.mkString(",\n          ")
    val approxArms = Builds.map { b =>
      s"SELECT '${b.label}' AS build, query_id, neighbor_id FROM b_${b.label}"
    }.mkString("\n            UNION ALL\n            ")
    val buildRows = Builds.map { b =>
      s"SELECT '${b.label}' AS build"
    }.mkString(" UNION ALL ")
    s"""WITH truth AS (
            SELECT query_id, neighbor_id FROM ($bruteKnnPanelDuckSql) tt),
          panel AS (SELECT DISTINCT query_id AS vec_id FROM truth),
          $buildCtes,
          approx AS (
            $approxArms),
          tn AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS t_n
            FROM truth GROUP BY query_id),
          hit AS (
            SELECT x.build, x.query_id, CAST(count(*) AS BIGINT) AS h
            FROM truth t JOIN approx x
              ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
            GROUP BY x.build, x.query_id),
          scaffold AS (
            SELECT b.build, n.query_id, n.t_n
            FROM ($buildRows) b CROSS JOIN tn n)
        SELECT s.build, s.query_id,
          CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
          CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(s.t_n AS DOUBLE) AS recall
        FROM scaffold s LEFT JOIN hit h
          ON s.build = h.build AND s.query_id = h.query_id
        ORDER BY s.build, s.query_id"""
  }

  // ════ the registry and the declared rows ════════════════════════════

  /** One kNN-graph build: the recall audit's panel label, the declared
    * row's name, the build, the row's oracle statement (nested verbatim
    * by the recall oracle) and the row's doc.
    */
  private[graft] final case class KnnBuild(label: String, name: String,
      build: Build, duckSql: String, doc: String)

  /** The nine declared kNN-graph builds, in the audit's panel order. */
  private[graft] val Builds: Seq[KnnBuild] = Seq(

    // ── two-table multiprobe sign-LSH kNN graph ──────────────────────
    // Every vector's top-k cosine neighbors among multiprobe
    // bucket-mates (own bucket + NBits Hamming-1 flips, over TWO
    // independent hash tables — the sim_lsh_topk recipe with the whole
    // corpus as the query side and the union-of-tables recall
    // amplifier from dedup_embedding_ann). Candidate volume is Σ
    // bucket-load² per table, pruned by the index — never the
    // all-pairs n²; a pair found by several probes/tables is deduped
    // BEFORE the one exact verify.
    KnnBuild("lsh_fixture", "sim_knn_graph", lshGraph(NBits)(_),
      rankedSql(knnDuckCtes(NBits)),
      doc = s"Sign-LSH kNN graph (k=$KnnK): every vector's top-k cosine " +
        "neighbors among multiprobe bucket-mates across TWO independent " +
        "hash tables (pair-level distinct, exact verify once); candidate " +
        "volume is sum of bucket-load^2 per table, never all-pairs; " +
        "width-scaled bits rule applies at growing corpus scale."),

    // ── width-scaled kNN graph twin (bits ~ log2 n) ──────────────────
    // Candidates grow as n²/2^bits per table, so the 8-bit index that
    // is right for the fixture goes quadratic on probe corpora (×10:
    // 16.7 s, ×26: 133 s) — at 2^12 buckets the per-bucket load (and
    // with it probe cost) drops ~16×.
    KnnBuild("lsh_scaled", "sim_knn_graph_scaled", lshGraph(KnnScaledBits)(_),
      rankedSql(knnDuckCtes(KnnScaledBits)),
      doc = s"Width-scaled kNN graph (bits=$KnnScaledBits ~ log2 of the " +
        "probe corpora): same two-table multiprobe recipe with a wider " +
        "signature — per-bucket load, hence candidate volume, stays " +
        "constant as the corpus grows."),

    // ── data-driven width: bits = ⌈log2 n⌉ derived IN-PLAN ───────────
    // At 100 TB the corpus size is a runtime fact, not a constant a
    // human re-tunes per dataset: all KnnAutoMaxBits hyperplane signs
    // are computed once per vector, a 1-row broadcast scalar carries
    // bits = clamp(bitlen(n−1), min, max) and its low-bit mask, and the
    // bucket is the signature's low `bits` bits. bitlen via
    // length(bin(n−1)) — bit-exact ⌈log2 n⌉ in BOTH engines where
    // ln-based log2 sits on float edges (the graph_degree_hist lesson).
    KnnBuild("lsh_auto", "sim_knn_graph_auto", autoGraph,
      rankedSql(knnAutoDuckCtes),
      doc = s"Auto-width kNN graph (k=$KnnK): bits = " +
        s"clamp(ceil(log2 n), ${Round16Queries.KnnAutoMinBits}, " +
        s"${Round16Queries.KnnAutoMaxBits}) derived " +
        "IN-PLAN from a 1-row broadcast count scalar via length(bin(n-1)) " +
        "(bit-exact in both engines); the bucket is a MaxBits signature " +
        "masked to its low `bits` bits, multiprobe flips generated from a " +
        "runtime-length sequence — per-bucket load stays ~1 at any corpus " +
        "size with no per-dataset retuning."),

    // ── IVF-cell kNN graph at count-derived K ────────────────────────
    // Sign-LSH candidate generation collapses in the mid-cosine regime
    // (per-bit agreement ~0.63 ⇒ per-table catch p₁^bits), while IVF
    // cells follow the data. Candidates are within-probed-cell pairs
    // (the SemDeDup D7 in-cell pruning shape): a pair meets at most
    // once by construction (home cells are unique), so the multi-table
    // dedup shuffle of the LSH builds disappears entirely. Candidate
    // volume is n·nprobe·(n/K).
    KnnBuild("ivf_cell", "sim_knn_graph_ivf", ivfGraph, knnGraphIvfDuckSql,
      doc = s"IVF-cell kNN graph (k=$KnnK): cells = " +
        "~K count-derived centroids (K = clamp(ceil(sqrt(n)), 4, " +
        "4096), the FAISS sizing rule in-plan) drawn by an " +
        "id-distribution-free hash-residue sample, every vector " +
        s"probes its $KnnIvfNprobe nearest " +
        "cells via one zero-shuffle broadcast-argmin pass (ties to " +
        "the lowest cell id), candidates = within-probed-cell pairs " +
        "(each pair meets at most once — no dedup stage), exact " +
        "cosine verify, one top-k rollup; the mid-cosine-regime " +
        "alternative to the sign-LSH graph builds, recall-priced by " +
        "sim_knn_graph_recall."),

    // ── Lloyd-TRAINED-cell kNN graph ─────────────────────────────────
    // Honest sampled cells read serving recall 0.24–0.44 at probe
    // scale while the TRAINED count-derived quantizer reads 0.88–1.00
    // through ×104 — trained cells co-locate the corpus's actual
    // neighbor structure, sampled cells only tile it. Same candidate
    // shape; only the quantizer changes.
    KnnBuild("ivf_kmeans_cell", "sim_knn_graph_ivf_kmeans", kmeansGraph,
      knnGraphIvfKmeansDuckSql,
      doc = s"Lloyd-trained IVF-cell kNN graph (k=$KnnK" +
        "): the V9b trained quantizer (K = clamp(ceil(sqrt(n)), 4, " +
        "1024), id-layout-free hash-residue init, 3 k-agnostic Lloyd " +
        s"rounds) feeding the shared cell-graph tail ($KnnIvfNprobe " +
        "probed cells per vector via compiled pq_argmin_k, " +
        "within-probed-cell candidates, exact cosine, one top-k " +
        "rollup); the trained twin of sim_knn_graph_ivf — the " +
        "round-19 audit measures what training the cells buys the " +
        "graph build's edge recall."),

    // ── trained-coarse bounded-LOAD IVF-cell kNN graph ───────────────
    // At K = clamp(⌈√n⌉, 4, cap) the candidate volume n·nprobe·(n/K) is
    // Θ(n^1.5) and quadratic past the cap; with FINE cell count ∝ n
    // the per-cell load is the declared constant and candidates are
    // n·cnprobe·fnprobe·load at ANY n. The coarse level is TRAINED
    // because structure must come from somewhere: a sampled coarse
    // level at identical cost measured recall 0.02 at ×10 where this
    // build reads 0.16 (BASELINE round 20).
    KnnBuild("ivf_scaled_cell", "sim_knn_graph_ivf_scaled", scaledGraph,
      rankedSql(knnGraphIvfScaledDuckCtes),
      doc = s"Trained-coarse bounded-load IVF-cell kNN graph " +
        s"(k=$KnnK): coarse = the V9b Lloyd " +
        "quantizer (K = clamp(ceil(sqrt(n)), 4, 1024) — assignment " +
        "one compiled pass, linear past the cap), fine = hash-residue " +
        s"sample at constant expected load $KnnCellLoad routed into " +
        "per-coarse cid-ordered sub-quantizer arrays (the D7b " +
        s"load-constant discipline); $KnnCoarseNprobe probed coarse " +
        s"cells x $KnnIvfNprobe fine cells each, " +
        "cells ordered (coarse rank, fine rank), shared " +
        "within-probed-cell candidate join and top-k rollup; " +
        "candidate volume n*cnprobe*fnprobe*load = LINEAR at any " +
        "corpus size (retires V22/V23's K clamp), recall-priced by " +
        "sim_knn_graph_recall."),

    // ── NN-Descent refinement over the bounded-load seed ─────────────
    // The family's measured recall ceiling is a CANDIDATE-GENERATION
    // gap: cells/buckets only propose geometrically-close pairs, never
    // neighbors-of-neighbors. NN-Descent (Dong et al., WWW 2011) closes
    // it with the graph itself: each round self-joins the K'-edge table
    // on the shared endpoint (≤ n·(2K')² candidates, K'-capped reverse
    // lists, no index, no hubs), scores exactly, re-ranks. Seed = the
    // linear bounded-load build, so the whole chain is linear in n per
    // round.
    KnnBuild("nnd", "sim_knn_graph_nnd", nndGraph,
      rankedSql(knnGraphNndDuckCtes),
      doc = s"NN-Descent-refined kNN graph (k=$KnnK, " +
        s"$KnnNndRounds rounds at internal width K'=$KnnNndWidth, Dong " +
        "et al. WWW 2011): seed = the bounded-load cell stage served " +
        "at K' (the paper's own discipline — k=5 lists are too narrow " +
        "to propagate structure), each round proposes co-neighbor " +
        "candidates from the CURRENT graph (self-join of the K'-edge " +
        "table on the shared endpoint, reverse lists K'-capped so " +
        "every adjacency is <= 2K'), scores them exactly in-task " +
        "(vectors ride the adjacency; the dedup shuffles cosines, not " +
        "vectors), unions the incumbents, re-ranks top-K'; output = " +
        "the top k of the final width-K' lists; the family's declared " +
        "100 TB path — linear seed + bounded refinement, recall-priced " +
        "per round by sim_knn_graph_recall."),

    // ── hierarchical-k-means (trained-fine) bounded-load graph ───────
    // The bounded-load build's remaining recall gap is the
    // seed-structure gap: trained coarse cells co-locate neighbors at
    // K≈√n granularity, but the constant-load fine tiling inside them
    // is still a random sample. Training the fine level moves the fine
    // centroids onto the local neighbor structure at the SAME cell
    // count and candidate budget — the chain stays linear.
    KnnBuild("ivf_hier_cell", "sim_knn_graph_ivf_hier", hierGraph,
      rankedSql(knnGraphIvfHierDuckCtes),
      doc = s"Hierarchical-k-means bounded-load IVF-cell kNN graph " +
        s"(k=$KnnK): V24's trained-coarse / " +
        "constant-load-fine stage with the FINE level Lloyd-TRAINED " +
        s"per coarse cell ($KnnFineIters grouped rounds — assignment " +
        "within the home coarse cell via one broadcast compiled " +
        "pq_argmin pass, the shared round-9 decimal-mean update " +
        "grouped by (coarse, fine), dense per-coarse re-index); fine " +
        "INIT = V24's residue sample (identical geometry at zero " +
        "rounds — Round20Spec pins the edge-set equality), fine cell " +
        "COUNT still grows with n so candidate volume stays " +
        "n*cnprobe*fnprobe*load = LINEAR; cell id = coarse*2^32 + " +
        "fine position, shared cellGraphServe tail; recall-priced by " +
        "sim_knn_graph_recall."),

    // ── NN-Descent over the trained-fine seed ────────────────────────
    // Refinement amplifies seed signal (over a 0.02-recall seed the
    // rounds stall, over a 0.16-recall seed they climb), so the same
    // declared rounds/width run over the best linear seed.
    KnnBuild("nnd_hier", "sim_knn_graph_nnd_hier", nndHierGraph,
      rankedSql(knnGraphNndDuckCtesOver(
        rankedSql(knnGraphIvfHierDuckCtes, KnnNndWidth))),
      doc = s"NN-Descent-refined hierarchical kNN graph " +
        s"(k=$KnnK, $KnnNndRounds rounds at internal " +
        s"width K'=$KnnNndWidth): the V25 refinement re-seeded on the " +
        "trained-fine bounded-load stage — same co-neighbor rounds, " +
        "same constants, better seed signal for the percolation to " +
        "amplify; the family's highest-recall fully-linear chain, " +
        "recall-priced per leg by sim_knn_graph_recall."),
  )

  val defs: Seq[QueryDef] =
    Builds.map(b => QueryDef(b.name, declared(b.build), Some(b.duckSql), b.doc)) ++
    Seq(

    // ── measured edge recall of the kNN-graph builds ─────────────────
    // Truth = one broadcast-panel corpus scan at the graph family's k
    // (same rounding/tiebreak as every build); each build's hits = a
    // left-semi join of the truth set against the build's own edges
    // restricted to the panel; denominator = the per-query truth count
    // computed in-plan. Both sides come from the registry — the Spark
    // side runs each row's build, the oracle nests each row's
    // statement verbatim — so the audit cannot measure a drifted copy.
    // Cost IS coverage: the row runs all nine builds (full graphs —
    // that is what the declared rows compute).
    QueryDef(
      "sim_knn_graph_recall",
      graphRecall,
      Some(graphRecallDuckSql),
      doc = s"Measured edge recall@$KnnK of the nine " +
        "declared kNN-graph builds (sign-LSH fixture/scaled/auto " +
        "widths, sampled-cell IVF, Lloyd-trained-cell IVF, " +
        "bounded-load IVF, hierarchical trained-fine IVF, and the " +
        "NN-Descent refinement over each) vs exact " +
        "brute-force truth on a " +
        s"$KnnRecallPanel-query panel (same rounding and tiebreak), " +
        "denominator = the per-query truth count computed in-plan, " +
        "ONE prepared corpus threaded through the truth and every " +
        "build: the τ-graph family's candidate generation priced the " +
        "way V18/V20 price the serving indexes — one registry holds " +
        "each row's build and oracle statement, and the audit runs " +
        "and nests exactly those, so it cannot drift from what it " +
        "measures."),

    // ── canonical τ-edges of the refined graph ───────────────────────
    QueryDef(
      "sim_semantic_edges_ivf",
      (s, dir) => Round13Queries.tauEdges(declared(nndGraph)(s, dir)),
      Some(Round13Queries.tauEdgesSqlOver(knnGraphNndDuckCtes)),
      doc = "Canonical undirected tau-edges of the NN-Descent-refined " +
        "bounded-load kNN graph — the exact CC input of " +
        "sim_semantic_clusters_ivf; hash-green half of the V12h " +
        "oracle split (SURVEY §5 note 14)."),

    // ── semantic clusters over the refined graph ─────────────────────
    // The auto-width LSH build that sim_semantic_clusters_auto composes
    // measured edge recall 0.006 at ×104 — at scale its cluster stage
    // would see ~0.6% of true semantic edges. The cluster stage itself
    // (τ-edges → shared CC → singleton fill) is IDENTICAL; only the kNN
    // build feeding it changes.
    QueryDef(
      "sim_semantic_clusters_ivf",
      (s, dir) =>
        Round13Queries.clusterStage(s, dir, declared(nndGraph)(s, dir)),
      None,
      doc = "Semantic clusters over the NN-Descent-refined bounded-load " +
        "kNN graph: the V12 composition re-based onto the " +
        "highest-recall declared build (the auto-LSH build it replaces " +
        "measured 0.006 edge recall at x104 in sim_knn_graph_recall). " +
        "Same tau-edge -> shared-CC -> singleton-fill stage. Oracle " +
        "split (SURVEY §5 note 14): rows-only here; " +
        "sim_semantic_edges_ivf is the hash-green edge half, " +
        "Round20Spec union-finds the closure."),

    // ── ST28: incremental ANN dedup over the TRAINED IVF index ───────
    // The streaming dedup service worth running keeps a Lloyd-trained
    // quantizer (trained OFFLINE — a static broadcast centroid array,
    // refreshed by a batch re-index event) and per-cell resident state;
    // an arrival assigns to its KnnIvfNprobe nearest cells in one
    // compiled pass, queries the residents of all probed cells with
    // exact cosine, and inserts at its home cell (cells[0]). This twin
    // declares those semantics with arrival order := vec_id order: the
    // pair rule is DIRECTIONAL (resident a's HOME cell ∈ later arrival
    // b's PROBED cells — only home cells hold residents online),
    // reduced by the shared annVerdict. StreamingIvfDedupSpec pins
    // IvfDedupStream ≡ this row across multi-file RocksDB replay.
    QueryDef(
      "st_incremental_ann_ivf",
      declared(annIvfTrained),
      Some(DedupQueries.annVerdictDuckSqlOver(annIvfPairsDuckSql)),
      doc = "ST28 batch twin: per vector the smallest earlier resident " +
        "of its probed TRAINED-IVF cells (K = clamp(ceil(sqrt(n)), 4, " +
        s"1024) Lloyd quantizer, $KnnIvfNprobe probed cells, home = " +
        "the argmin cell — the directional online candidate rule) " +
        "with exact cosine >= tau, arrival order := vec_id order; the " +
        "streaming ANN dedup index at the corpus-appropriate " +
        "(trained) quantizer, spec-pinned bit-for-bit against " +
        "IvfDedupStream."),
  )
}
