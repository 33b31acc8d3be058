package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-19 rows — the round-18 verdict's asks, closed:
  *
  *  - V21 `sim_knn_graph_recall`: the measured-recall program (V18/V20)
  *    extended to the last approximate family without a declared recall
  *    row — the kNN-GRAPH builds. The τ-graph family (V16/V14/V17 →
  *    V12/V12b/V12c semantic clusters) builds its edges from sign-LSH
  *    multiprobe in exactly the mid-cosine regime where V19 measured
  *    serving recall collapsing to 0.00; this row prices every build's
  *    edge recall against a brute-force kNN truth on a bounded query
  *    panel, per query, as a declared oracle-checked number instead of
  *    the spec-pinned fixture floors (LshRecallSpec) that were the sole
  *    evidence.
  *  - V22 `sim_knn_graph_ivf`: the round-18 measured conclusion
  *    ("sign-LSH has no recall-preserving bounded-cost scale path in
  *    the mid-cosine regime; the corpus-appropriate index is IVF")
  *    applied to the graph build — candidate pairs = within
  *    probed-cell pairs over the count-derived V2b cells (the SemDeDup
  *    D7 in-cell pruning shape), scored exactly, one top-k rollup.
  *  - V23 `sim_knn_graph_ivf_kmeans`: the same tail over the
  *    Lloyd-TRAINED count-derived quantizer — the round's own measured
  *    revision ("sampling doesn't preserve mid-cosine recall, TRAINING
  *    does") carried to the graph family; probe legs read its edge
  *    recall +53–56% over sampled cells at ×52–×104 at equal wall.
  *
  * Building V22's probe legs also exposed (and fixed) the V2b
  * CELL-COLLAPSE bug: the dense-id sampled-point centroid rule
  * materialized 14 cells where K=142 was derived on offset-id corpora
  * — see ivfTopkAutoServe and BASELINE round 19.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity
  * machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); all rows are [EXT] per SURVEY §2.7.
  */
object Round19Queries {

  /** Query panel width for the kNN-graph recall audit: vec_id <
    * KnnRecallPanel. 32 queries × KnnK=5 truth edges = a 160-row truth
    * set — wide enough that one tie can't swing the metric the way the
    * 5-query serving panel could, still a bounded broadcast at any
    * corpus size. At 100 TB recall evaluation runs exactly this way: a
    * fixed panel, exact scores for the panel only (never all-pairs),
    * set intersection against the build's edges.
    */
  val KnnRecallPanel = 32

  /** Probed cells per query for the IVF-cell kNN GRAPH build. This is
    * deliberately a small declared constant, NOT the serving rule's
    * nprobe = ⌈√K⌉: a serving query panel is tiny, so probing √K cells
    * costs n_q·√K·n/K ≈ nothing, but in a graph build EVERY vector is
    * a query and candidate volume is n·nprobe·(n/K) — at the K ~ √n
    * sizing each probed cell holds ~√n vectors, so nprobe is a direct
    * multiplier on the one corpus-sized join. 4 is the MEASURED sweet
    * spot (rotate probe, BASELINE round 19): the nprobe sweep reads
    * edge recall 0.14/0.19/0.27 at ×10 and 0.02/0.06/0.10 at ×52 for
    * nprobe 1/2/4 — recall ~linear in nprobe (a candidate-volume
    * knob priced in wall time) — while even nprobe=4's build stays
    * cheaper than the auto-width LSH build at every probed leg; V21
    * keeps the declared value's price measured.
    */
  val KnnIvfNprobe = 4

  /** Un-materialized IVF-cell kNN pipeline plus its persisted cell
    * stage — (result, persisted stage). Cells are the V2b count-derived
    * centroids (K = clamp(⌈√n⌉, 4, 4096) — the FAISS sizing rule,
    * in-plan) drawn by the round-19 hash-residue sample
    * (h60(vec_id) % stride = 0 — id-distribution-free; see
    * ivfTopkAutoServe's measured cell-collapse note); each vector
    * computes its KnnIvfNprobe nearest cells in ONE zero-shuffle
    * codegen pass over the broadcast centroid array (pq_argmin_k —
    * compiled insertion loop, ties to the lowest cell position;
    * positions are vec_id-ordered so the tiebreak is bit-identical to
    * the oracle's ORDER BY d2, pos), homes at cells[0] (the argmin IS
    * rank 1 of the same order); candidates = probes ⋈ homes on the
    * cell id — each (query, neighbor) pair meets AT MOST once because
    * a home cell is unique, so there is no multi-table dedup stage at
    * all — then one exact cosine verify and ONE WindowGroupLimit-
    * pruned top-KnnK rollup. Shuffles: the candidate equi-join and the
    * top-k window — nothing else.
    */
  private[graft] def knnGraphIvfPlan(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nprobe: Int = KnnIvfNprobe)
      : (DataFrame, DataFrame) =
    knnGraphIvfPlanFrom(Corpus.nvecs(s, dir), nprobe)

  /** The same pipeline over a caller-prepared (vec_id, v, nrm) corpus —
    * the round-20 shared-prepared-corpus seam (see
    * Round13Queries.knnGraphPlanFrom).
    */
  private[graft] def knnGraphIvfPlanFrom(base: DataFrame,
      nprobe: Int = KnnIvfNprobe)
      : (DataFrame, DataFrame) = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val corpus = base
      .transform(graft.operators.Layouts.spread)
    val width = Round17Queries.ivfAutoWidth(corpus, Round17Queries.IvfAutoMaxK)
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
    // + n·K struct allocations); materialized once (the knnGraphAutoPlan
    // discipline: both join sides read this stage)
    val cells = corpus.crossJoin(broadcast(Round11bQueries.centArray(cents)))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $nprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    (cellGraphServe(cells), cells)
  }

  /** Shared cell-serving tail over a prepared, persisted (vec_id, v,
    * nrm, cells) stage: homes at cells[0] (the argmin IS rank 1 of the
    * same order), probes at every cell, ONE candidate equi-join (a
    * pair meets at most once — home cells are unique), exact cosine,
    * ONE WindowGroupLimit-pruned top-KnnK rollup. ONE definition for
    * the sampled-cell and Lloyd-trained-cell graph builds.
    */
  private[graft] def cellGraphServe(cells: DataFrame,
      k: Int = Round13Queries.KnnK, sorted: Boolean = true): DataFrame = {
    val homes = cells.select(col("vec_id"), col("v"), col("nrm"),
      col("cells").getItem(0).as("cell"))
    val probes = cells.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"),
      explode(col("cells")).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val res = homes.join(probes.hint("shuffle_hash"), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id").as("vec_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
    // sorted=false: internal consumers (the NN-Descent SEED — its next
    // stage immediately repartitions) skip the presentation sort's
    // global range exchange; declared rows keep the total ORDER BY
    // (oracle parity rule). Same rows either way.
    if (sorted) res.orderBy(col("vec_id"), col("rank")) else res
  }

  /** Un-materialized Lloyd-TRAINED-cell kNN pipeline plus its persisted
    * stages — the round-19 measured conclusion ("sampling doesn't
    * preserve mid-cosine recall, TRAINING does": the trained
    * count-derived quantizer reads 0.88–1.00 through ×104 in the V20
    * audit where honest sampled cells read 0.24–0.44) applied to the
    * GRAPH build. Same composition as knnGraphIvfPlan with the cells
    * coming from the V9b recipe: K = clamp(⌈√n⌉, 4, 1024), init = the
    * hash-residue sample, 3 k-agnostic Lloyd rounds via the SHARED
    * kmeansTrainFrom, then the shared cellGraphServe tail. Training
    * cost is O(n·K) codegen'd argmin per round — the declared flat
    * path to the 1024 cap; past it the two-level routing rule
    * (pipe_semdedup_scaled) is the declared assignment path.
    */
  /** The trained quantizer's 1-row broadcast centroid array —
    * materialized (localCheckpoint) so composing consumers (the graph
    * build, the ST28 dedup twin, AND the streaming index's static
    * quantizer — the production posture: train offline, assign online)
    * read blocks, not the Lloyd lineage. Self-contained: its training
    * corpus persist is released before returning.
    */
  private[graft] def trainedCentArray(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    trainedCentArrayFrom(Corpus.nvecs(s, dir))

  /** The same trained quantizer over a caller-prepared corpus — the
    * round-20 shared-prepared-corpus seam.
    */
  private[graft] def trainedCentArrayFrom(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    graft.functions.GraftFunctions.register(s)
    val width = Round17Queries.ivfAutoWidth(
      base, Round17Queries.IvfKmeansAutoMaxK)
    val vecs = base
      .crossJoin(broadcast(width))
      .transform(graft.operators.Layouts.spread)
      .persist()
    try {
      vecs.count()
      val c0 = vecs
        .filter(expr(Corpus.idHash60Spark("vec_id")) %
          col("stride") === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val cents = Round11bQueries.kmeansTrainFrom(
        vecs.select(col("vec_id"), col("v")), c0, Round11bQueries.KmIters)
      Round11bQueries.centArray(cents).localCheckpoint(true)
    } finally vecs.unpersist(false)
  }

  /** Trained-cell stage (vec_id, v, nrm, cells) — the persisted
    * substrate shared by the V23 graph build and the ST28 dedup twin.
    */
  private[graft] def trainedCells(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nprobe: Int = KnnIvfNprobe): DataFrame =
    trainedCellsFrom(Corpus.nvecs(s, dir), nprobe)

  private[graft] def trainedCellsFrom(base: DataFrame,
      nprobe: Int = KnnIvfNprobe,
      ca0: Option[DataFrame] = None): DataFrame = {
    // ca0: caller-precomputed trained quantizer over the same corpus
    // (the recall audit trains once and threads it; None = self-train)
    val ca = ca0.getOrElse(trainedCentArrayFrom(base))
    val cells = base
      .transform(graft.operators.Layouts.spread)
      .crossJoin(broadcast(ca))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $nprobe)"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cells"))
      .persist()
    cells.count()
    cells
  }

  private[graft] def knnGraphIvfKmeansPlan(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nprobe: Int = KnnIvfNprobe)
      : (DataFrame, Seq[DataFrame]) = {
    val cells = trainedCells(s, dir, nprobe)
    (cellGraphServe(cells), Seq(cells))
  }

  private[graft] def knnGraphIvfKmeansPlanFrom(base: DataFrame,
      nprobe: Int = KnnIvfNprobe,
      ca0: Option[DataFrame] = None)
      : (DataFrame, Seq[DataFrame]) = {
    val cells = trainedCellsFrom(base, nprobe, ca0)
    (cellGraphServe(cells), Seq(cells))
  }

  /** The declared trained-cell row's fn as a named val — the V21
    * recall audit invokes this IDENTICAL function.
    */
  private[graft] val knnGraphIvfKmeansFn
      : (org.apache.spark.sql.SparkSession, String) => DataFrame =
    (s, dir) => {
      val (res, stages) = knnGraphIvfKmeansPlan(s, dir)
      try res.localCheckpoint(true) finally stages.foreach(_.unpersist(false))
    }

  /** The trained-cell kNN oracle as a named val — the recall audit
    * nests this IDENTICAL statement: the shared Lloyd chain
    * (kmDuckPrefixFrom over the named-val init sample) feeding the
    * same cell-rank serving replay as knnGraphIvfDuckSql, with cells =
    * the round-KmIters trained centroids (dense re-indexed positions —
    * exactly Spark's post-training centroid-array order).
    */
  /** Shared trained-cell oracle CTE chain — the unrolled Lloyd prefix
    * plus cell ranks, ending in `assign` (vec_id, v, nrm, pos — the
    * home cell) and `probes` (query_id, qv, qn, pos — the KnnIvfNprobe
    * probed cells). Nested by BOTH the V23 graph oracle and the ST28
    * dedup-twin oracle (one definition, no drift). A def, not a val:
    * `defs` forces the nested strings during object init.
    */
  private def trainedCellDuckCtes: String = {
    val it = Round11bQueries.KmIters
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""${Round11bQueries.kmDuckPrefixFrom(
        Round17Queries.kmeansAutoC0Sql, it)},
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

  private[graft] def knnGraphIvfKmeansDuckSql: String = {
    import Round13Queries.KnnK
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
  }

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

  /** ST28 batch-twin pipeline: the trained-cell pair rule reduced by
    * the shared arrival-order verdict (dup_of = min earlier τ-passing
    * resident among the arrival's probed cells, arrival order := vec_id
    * order) — (result, persisted stages).
    */
  private[graft] def annIvfTrainedPlan(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) =
    annIvfTrainedPlanFrom(Corpus.nvecs(s, dir))

  /** The same twin over a caller-prepared corpus — the round-20
    * re-index contract spec builds the GENERATION-A twin from the
    * accepted prefix with this seam (StreamingIvfDedupSpec).
    */
  private[graft] def annIvfTrainedPlanFrom(base: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val cells = trainedCellsFrom(base)
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
    (Round17Queries.annVerdict(pairs, cells.select(col("vec_id"))),
      Seq(cells))
  }

  /** The declared row's fn as a named val — the V21 recall audit
    * invokes this IDENTICAL function (one definition, no drift).
    */
  private[graft] val knnGraphIvfFn
      : (org.apache.spark.sql.SparkSession, String) => DataFrame =
    (s, dir) => {
      val (res, cells) = knnGraphIvfPlan(s, dir)
      try res.localCheckpoint(true) finally cells.unpersist(false)
    }

  /** The IVF-cell kNN oracle as a named val — the recall audit nests
    * this IDENTICAL statement. The argmin/probe replay is the proven
    * cross-join + row_number form (the kmeans-auto oracle's parity
    * with Spark's vec_dist2/array_sort expression argmin).
    */
  private[graft] lazy val knnGraphIvfDuckSql: String = {
    import Round13Queries.KnnK
    val ad = VectorOps.duckDist2("a.v", "c.cv")
    s"""WITH ${Corpus.nvecsDuck},
      width AS (${Round17Queries.ivfAutoWidthSql("nvecs",
        Round17Queries.IvfAutoMaxK)}),
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

  /** Exact cosine top-KnnK truth for the graph-recall panel — the V18
    * truth shape (broadcast panel, one corpus scan, same rounding and
    * (cosine desc, id asc) tiebreak as every build) at the graph
    * family's k. (query_id, neighbor_id) projection: the recall joins
    * need sets, not scores.
    */
  private def bruteKnnPanelFrom(all: DataFrame): DataFrame = {
    // The panel is the KnnRecallPanel SMALLEST vec_ids via a rank, NOT
    // `vec_id < KnnRecallPanel` (round 20 — the same dense-contiguous-id
    // assumption round 19 retired from centroid sampling: on an
    // offset/sparse-id corpus with no ids below the constant the truth
    // panel would be empty and the audit would vacuously pass). On the
    // fixtures and replica-0-bearing probe corpora the two rules pick
    // the identical 32 ids, so declared hashes are unchanged.
    val panel = all.select(col("vec_id"))
      .orderBy(col("vec_id")).limit(KnnRecallPanel)
    val q = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Round13Queries.KnnK)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The matching DuckDB panel truth (full statement, nested by the
    * recall oracle).
    */
  private def bruteKnnPanelDuckSql: String = {
    import Round13Queries.KnnK
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
  }

  /** Recall arithmetic over ANY set of (label, build-over-corpus fn) —
    * ONE definition for the declared multi-build row and the
    * ScaleProbe's scale-path subset (at probe corpora the fixture
    * 8-bit build is the known-quadratic teaching config; probing the
    * auto/ivf recall trajectory must not pay its n²/2⁸ wall).
    *
    * ONE prepared corpus is threaded through the panel truth and every
    * build (round 20 — the r17 serve-over-prepared-corpus move applied
    * to the audit: each build re-scanned and re-normalized the parquet
    * corpus itself). Safe to release in the finally: every build fn
    * materializes its graph (localCheckpoint) before returning, and
    * the truth is a bounded driver-side collect.
    */
  private[graft] def graphRecallOver(
      s: org.apache.spark.sql.SparkSession, dir: String,
      builds: Seq[(String, DataFrame => DataFrame)]): DataFrame = {
    val base = Corpus.nvecs(s, dir).persist()
    try {
      base.count()
      // The panel truth is ≤ KnnRecallPanel·KnnK rows BY CONSTRUCTION —
      // collect it to the driver and rebuild it as a local relation
      // (round 20: the round-19 localCheckpoint pinned RDD blocks for
      // the session's lifetime across the ScaleProbe sweeps, which
      // invoke this repeatedly; a bounded collect is the documented
      // scalar pattern). The panel id set rides along for each build's
      // filter — id-distribution-free, same values as the retired
      // `vec_id < KnnRecallPanel` on every dense-id corpus.
      val truthRows = bruteKnnPanelFrom(base).collect().toSeq
      val panelIds = truthRows.map(_.getLong(0)).distinct.sorted
      import s.implicits._
      val truth = broadcast(
        truthRows.map(r => (r.getLong(0), r.getLong(1)))
          .toDF("query_id", "neighbor_id"))
      val tn = truth.groupBy(col("query_id"))
        .agg(count(lit(1)).as("t_n"))
      builds.map { case (bld, f) =>
        val approx = f(base)
          .filter(col("vec_id").isin(panelIds: _*))
          .select(col("vec_id").as("query_id"), col("neighbor_id"))
        val hit = truth
          .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
        tn.join(hit, Seq("query_id"), "left")
          .select(lit(bld).as("build"), col("query_id"),
            coalesce(col("h"), lit(0L)).as("hits"),
            (coalesce(col("h"), lit(0L)).cast("double") /
              col("t_n").cast("double")).as("recall"))
      }.reduce(_ unionByName _)
        .orderBy(col("build"), col("query_id"))
    } finally base.unpersist(false)
  }

  /** Materializing From-forms of the two round-19 builds, shared by
    * the recall audit (the declared rows' (s, dir) fns delegate to the
    * IDENTICAL PlanFrom bodies — one definition, no drift).
    */
  private[graft] val knnGraphIvfFromFn: DataFrame => DataFrame =
    base => {
      val (res, cells) = knnGraphIvfPlanFrom(base)
      try res.localCheckpoint(true) finally cells.unpersist(false)
    }
  private[graft] val knnGraphIvfKmeansFromFn: DataFrame => DataFrame =
    base => {
      val (res, stages) = knnGraphIvfKmeansPlanFrom(base)
      try res.localCheckpoint(true) finally stages.foreach(_.unpersist(false))
    }

  /** Attribution twin for the BASELINE round-19 recall table — NOT a
    * declared row: V2b's serving pipeline with the RETIRED dense-id
    * sampled-point centroid rule, plus its recall vs the exact panel
    * truth, so the probe can separate the honest-cells fix's recall
    * effect from a driver fixture redraw ON THE SAME corpus (the
    * rounds-16/17 drift-hunt lesson: attribute before narrating).
    */
  private[graft] def ivfOldCellsRecall(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import SimilarityQueries.IvfTopK
    val corpus = Corpus.nvecs(s, dir)
      .transform(graft.operators.Layouts.spread)
      .persist()
    try {
      val width = Round17Queries.ivfAutoWidth(corpus, Round17Queries.IvfAutoMaxK)
      val all = corpus.crossJoin(broadcast(width))
      val cents = all
        .filter(col("vec_id") % col("stride") === 0 &&
          col("vec_id") < col("stride") * col("kk"))
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val approx = SimilarityQueries.ivfServe(all, cents, col("npr"))
        .select(col("query_id"), col("neighbor_id"))
      val truth = SimilarityQueries.bruteTopk(all, IvfTopK)
        .select(col("query_id"), col("neighbor_id"))
      val tn = truth.groupBy(col("query_id")).agg(count(lit(1)).as("t_n"))
      val hit = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      tn.join(hit, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)).cast("double") /
            col("t_n").cast("double")).as("recall"))
        .orderBy(col("query_id"))
        .localCheckpoint(true)
    } finally corpus.unpersist(false)
  }

  /** Materializing From-form of the auto-width LSH build (audit use). */
  private[graft] val knnGraphAutoFromFn: DataFrame => DataFrame =
    base => {
      val (res, all) = Round16Queries.knnGraphAutoPlanFrom(base)
      try res.localCheckpoint(true) finally all.unpersist(false)
    }

  /** The scale-path builds alone (auto-width LSH, the IVF-cell family,
    * the NN-Descent-refined chain) — the ScaleProbe recall-trajectory
    * subset.
    */
  private[graft] def scalePathBuilds
      : Seq[(String, DataFrame => DataFrame)] =
    Seq(
      "lsh_auto" -> knnGraphAutoFromFn,
      "ivf_cell" -> knnGraphIvfFromFn,
      "ivf_kmeans_cell" -> knnGraphIvfKmeansFromFn,
      "ivf_scaled_cell" -> Round20Queries.knnGraphIvfScaledFromFn,
      "nnd" -> Round20Queries.knnGraphNndFromFn,
      "ivf_hier_cell" -> Round20Queries.knnGraphIvfHierFromFn,
      "nnd_hier" -> Round20Queries.knnGraphNndHierFromFn)

  /** (panel label, build) — the nine declared kNN-graph builds, each
    * measured by the SAME panel truth: the three sign-LSH widths
    * (fixture 8-bit, declared 12-bit, in-plan auto), the two
    * round-19 IVF-cell builds (sampled cells, Lloyd-trained cells),
    * and the round-20 scale path (bounded-load cells, the
    * hierarchical trained-fine stage, NN-Descent refinement over
    * each).
    */
  private val GraphPanel: Seq[(String, String)] = Seq(
    "lsh_fixture" -> "sim_knn_graph",
    "lsh_scaled" -> "sim_knn_graph_scaled",
    "lsh_auto" -> "sim_knn_graph_auto",
    "ivf_cell" -> "sim_knn_graph_ivf",
    "ivf_kmeans_cell" -> "sim_knn_graph_ivf_kmeans",
    "ivf_scaled_cell" -> "sim_knn_graph_ivf_scaled",
    "nnd" -> "sim_knn_graph_nnd",
    "ivf_hier_cell" -> "sim_knn_graph_ivf_hier",
    "nnd_hier" -> "sim_knn_graph_nnd_hier")

  val defs: Seq[QueryDef] = Seq(

    // ── V22: IVF-cell kNN graph at count-derived K ───────────────────
    // The round-18 measured conclusion applied to the graph family:
    // sign-LSH candidate generation collapses in the mid-cosine regime
    // (per-bit agreement ~0.63 ⇒ per-table catch p₁^bits), while IVF
    // cells follow the data — the same audit read the count-derived
    // IVF serving index at recall 1.00. Candidates here are
    // within-probed-cell pairs (the SemDeDup D7 in-cell pruning
    // shape): homes = each vector's nearest cell, probes = its
    // KnnIvfNprobe nearest cells, one equi-join — a pair meets at
    // most once by construction (home cells are unique), so the
    // multi-table dedup shuffle of the LSH builds disappears
    // entirely. Candidate volume is n·nprobe·(n/K) — the declared
    // nprobe constant is priced by V21's measured recall.
    QueryDef(
      "sim_knn_graph_ivf",
      knnGraphIvfFn,
      Some(knnGraphIvfDuckSql),
      doc = s"IVF-cell kNN graph (k=${Round13Queries.KnnK}): cells = " +
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

    // ── V23: Lloyd-TRAINED-cell kNN graph ────────────────────────────
    // The round's central measured result applied to the graph build:
    // honest sampled cells read serving recall 0.24–0.44 at probe
    // scale while the TRAINED count-derived quantizer reads 0.88–1.00
    // through ×104 — trained cells co-locate the corpus's actual
    // neighbor structure, sampled cells only tile it. Same candidate
    // shape as sim_knn_graph_ivf (within-probed-cell pairs, shared
    // cellGraphServe tail); only the quantizer changes: K =
    // clamp(⌈√n⌉, 4, 1024), hash-residue init, 3 shared Lloyd rounds.
    QueryDef(
      "sim_knn_graph_ivf_kmeans",
      knnGraphIvfKmeansFn,
      Some(knnGraphIvfKmeansDuckSql),
      doc = s"Lloyd-trained IVF-cell kNN graph (k=${Round13Queries.KnnK}" +
        "): the V9b trained quantizer (K = clamp(ceil(sqrt(n)), 4, " +
        "1024), id-layout-free hash-residue init, 3 k-agnostic Lloyd " +
        s"rounds) feeding the shared cell-graph tail ($KnnIvfNprobe " +
        "probed cells per vector via compiled pq_argmin_k, " +
        "within-probed-cell candidates, exact cosine, one top-k " +
        "rollup); the trained twin of sim_knn_graph_ivf — the " +
        "round-19 audit measures what training the cells buys the " +
        "graph build's edge recall."),

    // ── ST28: incremental ANN dedup over the TRAINED IVF index ───────
    // The round's measured serving conclusion carried to the ONLINE
    // index: the streaming dedup service worth running keeps a
    // Lloyd-trained quantizer (trained OFFLINE — the production
    // posture: a static broadcast centroid array, refreshed by a batch
    // re-index event) and per-cell resident state; an arrival assigns
    // to its KnnIvfNprobe nearest cells in one compiled pass, queries
    // the residents of all probed cells with exact cosine, and inserts
    // at its home cell (cells[0]). This twin declares those semantics
    // with arrival order := vec_id order: the pair rule is DIRECTIONAL
    // (resident a's HOME cell ∈ later arrival b's PROBED cells — only
    // home cells hold residents online), reduced by the shared
    // annVerdict. StreamingIvfDedupSpec pins IvfDedupStream ≡ this row
    // across multi-file RocksDB replay.
    QueryDef(
      "st_incremental_ann_ivf",
      (s, dir) => {
        val (out, stages) = annIvfTrainedPlan(s, dir)
        try out.localCheckpoint(true)
        finally stages.foreach(_.unpersist(false))
      },
      Some(DedupQueries.annVerdictDuckSqlOver(annIvfPairsDuckSql)),
      doc = "ST28 batch twin: per vector the smallest earlier resident " +
        "of its probed TRAINED-IVF cells (K = clamp(ceil(sqrt(n)), 4, " +
        s"1024) Lloyd quantizer, $KnnIvfNprobe probed cells, home = " +
        "the argmin cell — the directional online candidate rule) " +
        "with exact cosine >= tau, arrival order := vec_id order; the " +
        "streaming ANN dedup index at the corpus-appropriate " +
        "(trained) quantizer, spec-pinned bit-for-bit against " +
        "IvfDedupStream."),

    // ── V21: measured edge recall of the kNN-graph builds ────────────
    // The V18/V20 recall discipline applied to the last approximate
    // family without a declared measured-recall row. Truth = one
    // broadcast-panel corpus scan at the graph family's k (same
    // rounding/tiebreak as every build); each build's hits = a
    // left-semi join of the truth set against the build's own edges
    // restricted to the panel; denominator = the per-query truth
    // count computed in-plan (the round-18 V18 rule). Both the Spark
    // side (the declared rows' own fn, by name) and the oracle (their
    // named-val SQL, nested verbatim — knnGraphDuckSql /
    // knnGraphAutoDuckSql / knnGraphIvfDuckSql, promoted this round)
    // reuse one definition per build, so the audit cannot measure a
    // drifted copy. Cost IS coverage: the row runs all five declared
    // builds (full graphs — that is what the declared rows compute).
    QueryDef(
      "sim_knn_graph_recall",
      (s, dir) => {
        // Round-20 optimization (the r17 serve-over-prepared-corpus
        // move, one level deeper): the five TRAINED builds of this
        // audit train the IDENTICAL coarse quantizer over the ONE
        // prepared corpus, and the two NND chains refine the SAME cell
        // stages their seed rows serve — so train once, build each
        // cell stage once, and compose every build from the SAME named
        // bodies the declared rows use (cellGraphServe / nndChainOver /
        // the *CellsFrom stage builders — one definition, no drift).
        // Scoped to THIS evaluation: the cache key is the closure, the
        // substrates are built over the audit's own corpus when first
        // demanded, and the finally releases them — nothing survives
        // the call, so every bench/oracle run still computes from the
        // parquet inputs.
        val cache = scala.collection.mutable.Map.empty[String, AnyRef]
        // every memoized substrate is built over the ONE corpus
        // graphRecallOver threads through the builds; pin that (round-20
        // advice: the memo keys ignore `base`, so a second corpus would
        // silently be served stale stages)
        var base0: DataFrame = null
        def pinned(base: DataFrame): DataFrame = {
          if (base0 == null) base0 = base
          require(base0 eq base, "audit memo is corpus-scoped")
          base
        }
        def ca(base: DataFrame): DataFrame =
          cache.getOrElseUpdate("ca", trainedCentArrayFrom(pinned(base)))
            .asInstanceOf[DataFrame]
        def coarse(base: DataFrame): Seq[DataFrame] =
          cache.getOrElseUpdate("coarse",
            Round20Queries.trainedCoarseCellsFrom(pinned(base),
              ca0 = Some(ca(base)))).asInstanceOf[Seq[DataFrame]]
        def hier(base: DataFrame): Seq[DataFrame] =
          cache.getOrElseUpdate("hier",
            Round20Queries.hierCellsFrom(pinned(base),
              ca0 = Some(ca(base)))).asInstanceOf[Seq[DataFrame]]
        // round 21: each cell stage is SERVED ONCE, at the NND internal
        // width K' — the k-serve row is ranks 1..k of the SAME window
        // (identical rows, one definition), and the NND chain refines
        // the same materialized seed instead of re-serving the stage
        def seedOf(key: String, stages: Seq[DataFrame]): DataFrame =
          cache.getOrElseUpdate(key,
            cellGraphServe(stages.head, Round20Queries.KnnNndWidth,
              sorted = false).localCheckpoint(true))
            .asInstanceOf[DataFrame]
        // materialized: the audit's finally releases the seed blocks,
        // and graphRecallOver's returned plan must not read them
        def topK(seed: DataFrame): DataFrame =
          seed.filter(col("rank") <= Round13Queries.KnnK)
            .localCheckpoint(true)
        val buildFn = Map[String, DataFrame => DataFrame](
          "sim_knn_graph" ->
            (base => Round13Queries.knnGraphFrom(base)),
          "sim_knn_graph_scaled" ->
            (base => Round13Queries.knnGraphFrom(base,
              Round13Queries.KnnScaledBits)),
          "sim_knn_graph_auto" -> knnGraphAutoFromFn,
          "sim_knn_graph_ivf" -> knnGraphIvfFromFn,
          "sim_knn_graph_ivf_kmeans" -> (base => {
            val (res, stages) =
              knnGraphIvfKmeansPlanFrom(base, ca0 = Some(ca(base)))
            try res.localCheckpoint(true)
            finally stages.foreach(_.unpersist(false))
          }),
          "sim_knn_graph_ivf_scaled" -> (base =>
            topK(seedOf("seed_coarse", coarse(base)))),
          "sim_knn_graph_nnd" -> (base =>
            Round20Queries.nndChainOverSeed(coarse(base).last,
              seedOf("seed_coarse", coarse(base)))
              .localCheckpoint(true)),
          "sim_knn_graph_ivf_hier" -> (base =>
            topK(seedOf("seed_hier", hier(base)))),
          "sim_knn_graph_nnd_hier" -> (base =>
            Round20Queries.nndChainOverSeed(hier(base).last,
              seedOf("seed_hier", hier(base)))
              .localCheckpoint(true)))
        try graphRecallOver(s, dir,
          GraphPanel.map { case (bld, name) => bld -> buildFn(name) })
        finally cache.values.foreach {
          // the shared cell stages are persisted by their builders —
          // release them here (every consumer checkpointed its graph);
          // the 1-row ca and the width-K' seeds are localCheckpoint-
          // materialized — release their RDD blocks explicitly
          // (round-20 advice: Dataset.unpersist never finds checkpoint
          // blocks, and ScaleProbe invokes this audit repeatedly)
          case stages: Seq[_] => stages.asInstanceOf[Seq[DataFrame]]
            .foreach(_.unpersist(false))
          case df: Dataset[_] => graft.operators.Layouts.releaseCheckpoint(df.toDF())
          case _ => ()
        }
      },
      Some {
        val buildSql = Map(
          "lsh_fixture" -> Round13Queries.knnGraphDuckSql(),
          "lsh_scaled" ->
            Round13Queries.knnGraphDuckSql(Round13Queries.KnnScaledBits),
          "lsh_auto" -> Round16Queries.knnGraphAutoDuckSql,
          "ivf_cell" -> knnGraphIvfDuckSql,
          "ivf_kmeans_cell" -> knnGraphIvfKmeansDuckSql,
          "ivf_scaled_cell" -> Round20Queries.knnGraphIvfScaledDuckSql,
          "nnd" -> Round20Queries.knnGraphNndDuckSql,
          "ivf_hier_cell" -> Round20Queries.knnGraphIvfHierDuckSql,
          "nnd_hier" -> Round20Queries.knnGraphNndHierDuckSql)
        val buildCtes = GraphPanel.map { case (bld, _) =>
          s"""b_$bld AS (
            SELECT vec_id AS query_id, neighbor_id
            FROM (${buildSql(bld)}) s_$bld
            WHERE vec_id IN (SELECT vec_id FROM panel))"""
        }.mkString(",\n          ")
        val approxArms = GraphPanel.map { case (bld, _) =>
          s"SELECT '$bld' AS build, query_id, neighbor_id FROM b_$bld"
        }.mkString("\n            UNION ALL\n            ")
        val buildRows = GraphPanel.map { case (bld, _) =>
          s"SELECT '$bld' AS build"
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
      },
      doc = s"Measured edge recall@${Round13Queries.KnnK} of the nine " +
        "declared kNN-graph builds (sign-LSH fixture/scaled/auto " +
        "widths, sampled-cell IVF, Lloyd-trained-cell IVF, " +
        "bounded-load IVF, hierarchical trained-fine IVF, and the " +
        "NN-Descent refinement over each) vs exact " +
        "brute-force truth on a " +
        s"$KnnRecallPanel-query panel (same rounding and tiebreak), " +
        "denominator = the per-query truth count computed in-plan, " +
        "ONE prepared corpus threaded through the truth and every " +
        "build (round 20): the τ-graph family's candidate generation " +
        "priced the way V18/V20 price the serving indexes — the " +
        "declared rows' fns and the audit delegate to the IDENTICAL " +
        "PlanFrom bodies and named-val oracles, so the audit cannot " +
        "drift from what it measures."),
  )
}
