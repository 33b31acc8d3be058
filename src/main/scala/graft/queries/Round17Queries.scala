package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Corpus.{idHash60Duck, idHash60Spark}
import graft.operators.Layouts

/** Round-17 batch rows:
  *
  *  - ST27 batch twin `st_incremental_ann`: the declared, oracle-checked
  *    semantics of the streaming sign-LSH embedding-ANN dedup index
  *    (graft.streaming.AnnDedupStream) — per vector, the smallest
  *    earlier-arrived (arrival order := vec_id order) sign-LSH ball-mate
  *    with exact cosine ≥ τ, at the dedup_embedding_ann_scaled config;
  *  - the IVF family onto the round-16 in-plan width discipline:
  *    `sim_ivf_topk_auto` (sampled-point centroids, K = clamp(⌈√n⌉, 4,
  *    4096) — the FAISS sizing rule — and nprobe = ⌈√K⌉ derived from
  *    the same 1-row broadcast count) and `sim_ivf_kmeans_topk_auto`
  *    (the Lloyd-trained quantizer at the derived K — the training
  *    rounds were always k-agnostic; only the init set was a literal).
  *
  * Reference scope note: alxmancilla/parquet-demo's streaming surface is
  * a thread-pooled Mongo ingest (examples/ingest_parquet_to_mongo_stream
  * .py:130-160) with no similarity machinery; all rows here are [EXT]
  * like SURVEY §2.7.
  */
object Round17Queries {

  /** IVF auto-width bounds: K = clamp(⌈√n⌉, min, max) — the FAISS
    * K ~ √n sizing rule with a floor that keeps tiny fixtures
    * exercising a real multi-cell index and a cap that bounds the
    * broadcast centroid table (4096 × 64 doubles ≈ 2 MB). The kmeans
    * variant caps at 1024: its flat training argmin is O(n·K) per
    * Lloyd round, and past that scale the hierarchical routing rule
    * (pipe_semdedup_scaled's two-level assignment) is the declared
    * 100 TB path.
    */
  val IvfAutoMinK = 4L
  val IvfAutoMaxK = 4096L
  val IvfKmeansAutoMaxK = 1024L

  /** 1-row width table (n, kk, stride, npr) derived from the corpus
    * count — the round-16 dedup_embedding_ann_auto pattern applied to
    * IVF: corpus size is a runtime fact, not a constant a human
    * re-tunes. Integer math is floor/ceil-explicit so DuckDB replays
    * it bit-for-bit (both engines' `/` is true division; DuckDB's
    * CAST rounds where Spark's truncates, so floor() is spelled out).
    */
  private[queries] def ivfAutoWidth(vecs: DataFrame, maxK: Long): DataFrame =
    vecs.agg(count(lit(1)).as("n"))
      .withColumn("kk",
        greatest(lit(IvfAutoMinK), least(lit(maxK), ceil(sqrt(col("n")))))
          .cast("int"))
      .withColumn("stride",
        greatest(lit(1L), floor(col("n") / col("kk")).cast("long")))
      .withColumn("npr", ceil(sqrt(col("kk"))).cast("int"))

  /** Arrival-order verdict reduction over a canonical pair set — the
    * ST27 semantics (dup_of = min earlier τ-passing ball-mate) as a
    * pure function of (pairs, corpus): one definition for every declared
    * batch twin (the fixed-width, auto-width and trained-IVF pair rules).
    */
  private[graft] def annVerdict(pairs: DataFrame, v: DataFrame): DataFrame = {
    val verdict = pairs
      .groupBy(col("vec_b"))
      .agg(min(struct(col("vec_a"), col("cosine"))).as("m"))
      .select(col("vec_b").as("vec_id"), col("m.vec_a").as("dup_of"),
        col("m.cosine").as("cosine"))
    v.select(col("vec_id"))
      .join(verdict, Seq("vec_id"), "left")
      .withColumn("status",
        when(col("dup_of").isNull, "uniq").otherwise("dup"))
      .orderBy(col("vec_id"))
  }

  /** Un-materialized ST27 batch-twin pipeline plus its persisted
    * stages — the declared row checkpoints and releases; Plans dumps
    * this form (a checkpointed row's own plan is a bare RDD scan).
    */
  private[graft] def annIncrementalPlan(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    import DedupQueries.{AnnProbeRadius, AnnScaledBits, AnnTables, CosineTau}
    val (pairs, v, sigs) = DedupQueries.embeddingAnnPairs(
      s, dir, AnnScaledBits, AnnProbeRadius, AnnTables, CosineTau)
    (annVerdict(pairs, v), Seq(v, sigs))
  }

  /** The matching DuckDB width CTE body (over `nvecs`/`vecs`). */
  private[queries] def ivfAutoWidthSql(src: String, maxK: Long): String =
    s"""SELECT n, kk,
        greatest(1, CAST(floor(CAST(n AS DOUBLE) / kk) AS BIGINT)) AS stride,
        CAST(ceil(sqrt(kk)) AS INT) AS npr
      FROM (
        SELECT count(*) AS n,
          CAST(greatest($IvfAutoMinK, least($maxK,
            CAST(ceil(sqrt(count(*))) AS BIGINT))) AS INT) AS kk
        FROM $src)"""

  /** Count-derived IVF serving over a caller-prepared (and persisted)
    * (vec_id, v, nrm) corpus — the recall audit threads ONE shared
    * persisted corpus through every index builder (round-17 advice);
    * the width crossJoin is narrow over the cache, cheap to
    * re-evaluate per consumer.
    *
    * Centroids are a HASH-RESIDUE sample since round 19:
    * h60(vec_id) % stride = 0 — expected n/stride ≈ K cells whatever
    * the id layout. The round-17 sampled-point rule (vec_id % stride
    * = 0 AND vec_id < stride·kk) silently assumed a dense contiguous
    * id space: on any offset/sparse layout (probe corpora replicate
    * ids into disjoint 10^7 blocks; production ids are never
    * contiguous) only ids below stride·kk qualify, collapsing the
    * cell count — MEASURED at the ×10 rotate corpus: 14 cells where
    * K=142 was derived, which silently turned "probe npr cells" into
    * "scan most of the corpus" (recall 1.00 bought by a broken
    * prune, the exact subsidy pattern of the round-18 correlated
    * hyperplanes). The hash residue is a pure function of vec_id, so
    * both engines replay the identical sample; cell count is binomial
    * around K (±2√K) — an IVF quantizer needs "about K spread cells",
    * not exactly K.
    */
  private[graft] def ivfTopkAutoServe(corpus: DataFrame): DataFrame = {
    val width = ivfAutoWidth(corpus, IvfAutoMaxK)
    val all = corpus.crossJoin(broadcast(width))
    // serving is the SHARED SimilarityQueries.ivfServe pipeline
    // (review finding: the first draft duplicated it verbatim — the
    // drift trap the firstSurvivors refactor exists to prevent)
    val cents = all
      .filter(expr(idHash60Spark("vec_id")) % col("stride") === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    SimilarityQueries.ivfServe(all, cents, col("npr"))
  }

  /** Un-materialized count-derived IVF serving pipeline plus its
    * persisted vector stage — the declared row checkpoints and
    * releases; Plans dumps this form.
    */
  private[graft] def ivfTopkAutoPlan(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpus = Corpus.nvecs(s, dir)
      .transform(Layouts.spread)
      .persist()
    (ivfTopkAutoServe(corpus), corpus)
  }

  /** The auto-width IVF oracle as a named val — the round-17b recall
    * row nests this IDENTICAL statement (one definition, no drift).
    */
  private[queries] val ivfTopkAutoDuckSql: String =
    SimilarityQueries.ivfServeDuckSql(
      s"""${Corpus.nvecsDuck},
        width AS (${ivfAutoWidthSql("nvecs", IvfAutoMaxK)}),
        cents AS (
          SELECT vec_id AS cent_id, v AS cv
          FROM nvecs CROSS JOIN width
          WHERE ${idHash60Duck("vec_id")} % stride = 0)""",
      "(SELECT npr FROM width)")

  val defs: Seq[QueryDef] = Seq(

    // ── ST27 batch twin: incremental ANN dedup vs arrival order ──────
    // Reuses the scaled-width pair pipeline VERBATIM (same signatures,
    // ball, τ-verify as dedup_embedding_ann_scaled) and reduces the
    // canonical pair set to the arrival-order verdict the online index
    // emits: dup_of = min earlier τ-passing ball-mate. The state the
    // stream holds is (bucket → vectors), so this twin compares exactly
    // what the online index can compute; StreamingAnnDedupSpec pins
    // stream ≡ this query across multi-file replays and a restart.
    QueryDef(
      "st_incremental_ann",
      (s, dir) => Layouts.materialize(annIncrementalPlan(s, dir)),
      Some(DedupQueries.annIncrementalDuckSql),
      doc = "ST27 batch twin: per vector the smallest earlier sign-LSH " +
        "ball-mate (scaled width, radius-2, 4 tables) with exact cosine " +
        ">= tau — arrival order := vec_id order; the streaming index's " +
        "declared semantics (AnnDedupStream), spec-pinned bit-for-bit."),

    // ── IVF top-k with count-derived K and nprobe ────────────────────
    // sim_ivf_topk's serving pipeline with every width a runtime fact:
    // K = clamp(ceil(sqrt(n)), 4, 4096) (FAISS sizing), centroids = a
    // hash-residue sample of ~K vectors (h60(vec_id) % stride = 0 —
    // id-distribution-free since round 19; see ivfTopkAutoServe's
    // measured cell-collapse note), nprobe = ceil(sqrt(K)).
    // Same plan shape: broadcast centroid table, one-pass argmin
    // assignment, per-query in-ball probe list, equi-join candidate
    // restriction, ONE top-k rollup shuffle (literal IvfTopK keeps the
    // WindowGroupLimit prune).
    QueryDef(
      "sim_ivf_topk_auto",
      (s, dir) => {
        val (out, all) = ivfTopkAutoPlan(s, dir)
        Layouts.materialize((out, Seq(all)))
      },
      Some(ivfTopkAutoDuckSql),
      doc = "IVF top-k with K = clamp(ceil(sqrt(n)), 4, 4096) and " +
        "nprobe = ceil(sqrt(K)) derived from a 1-row broadcast count " +
        "(the FAISS sizing rule, in-plan), centroids = an " +
        "id-distribution-free hash-residue sample of ~K vectors: " +
        "sim_ivf_topk's serving pipeline with zero per-dataset width " +
        "retuning."),

    // ── Lloyd-trained IVF with count-derived K and nprobe ────────────
    // The sim_ivf_kmeans_topk composition at the derived K: the Lloyd
    // rounds were always k-agnostic (the centroid table is data); only
    // the INIT set was a declaration-time literal. Init = the
    // hash-residue sample of ~K vectors (round 19 — id-layout-free),
    // training via the shared kmeansTrainFrom, serving identical with
    // nprobe a column.
    // Flat training argmin is O(n·K) per round — fine to the 1024 cap;
    // past it the two-level routing rule (pipe_semdedup_scaled) is the
    // declared assignment path.
    QueryDef(
      "sim_ivf_kmeans_topk_auto",
      (s, dir) => {
        import Round11cQueries.{IvfNQueries, IvfTopK}
        graft.functions.GraftFunctions.register(s)
        val width = ivfAutoWidth(Corpus.vecs(s, dir),
          IvfKmeansAutoMaxK)
        // persisted: the width crossJoin feeds c0, every Lloyd round's
        // assignment, the cell-posting pass AND the query probes — each
        // would otherwise re-run the corpus count (review finding; the
        // plan/stages pattern of ivfTopkAutoPlan)
        val vecs = Corpus.vecs(s, dir)
          .crossJoin(broadcast(width))
          .persist()
        try {
        // init = the hash-residue sample (~kk seeds whatever the id
        // layout — the round-19 V2b cell-collapse fix applied to the
        // init rule too: `vec_id < kk` is EMPTY on a corpus whose ids
        // start above kk); Lloyd re-indexes to dense positions after
        // round 1 either way, and the oracle's c0 pos = vec_id ranks
        // identically (monotone)
        val c0 = vecs
          .filter(expr(idHash60Spark("vec_id")) % col("stride") === 0)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val cents = Round11bQueries.kmeansTrainFrom(
          vecs.select(col("vec_id"), col("v")), c0, Round11bQueries.KmIters)
        val ca = Round11bQueries.centArray(cents)
        val codes = Round11bQueries
          .assign(vecs.select(col("vec_id"), col("v")), cents)
          .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
          .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
        val qprobes = vecs.filter(col("vec_id") < IvfNQueries)
          .crossJoin(broadcast(ca))
          .select(
            col("vec_id").as("query_id"),
            col("v").as("qv"),
            sqrt(VectorOps.dot(col("v"), col("v"))).as("qn"),
            explode(expr(
              """transform(
                    slice(array_sort(transform(cents,
                      (c, i) -> struct(vec_dist2(v, c) AS d2, i AS pos))), 1, npr),
                    x -> x.pos)""")).as("probe"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        codes
          .join(broadcast(qprobes), col("cluster") === col("probe"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(VectorOps.dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
              .as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= IvfTopK)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            col("cosine"))
          .orderBy(col("query_id"), col("rank"))
          .localCheckpoint(true)
        } finally vecs.unpersist(false)
      },
      Some(ivfKmeansTopkAutoDuckSql),
      doc = "Lloyd-trained IVF (FAISS IndexIVFFlat recipe) at K = " +
        "clamp(ceil(sqrt(n)), 4, 1024), nprobe = ceil(sqrt(K)), both " +
        "derived in-plan: the k-agnostic Lloyd rounds over an " +
        "id-layout-free hash-residue init sample; serving identical " +
        "to sim_ivf_kmeans_topk with nprobe a column."),
  )

  /** ONE definition of the Lloyd-auto K clamp — referenced by the init
    * threshold, the serving width, AND the round-19 trained-quantizer
    * graph oracle (review finding: hand-spelled copies could drift
    * into an internally inconsistent oracle).
    */
  // defs, not vals: `defs` (declared above) forces the nested oracle
  // strings during object init, BEFORE later vals would be assigned —
  // a val here interpolates as "null" into the SQL
  private[queries] def kmeansAutoKClampSql: String =
    s"""greatest($IvfAutoMinK, least($IvfKmeansAutoMaxK,
        CAST(ceil(sqrt(count(*))) AS BIGINT)))"""

  /** The Lloyd-auto init sample as a named val (round 19 —
    * id-layout-free hash residue; pos = vec_id ranks identically to
    * Spark's cid-sorted centroid array): stride = greatest(1,
    * floor(n / kk)), the ivfAutoWidthSql integer math inlined over
    * the same aggregate. Shared by the declared V9b oracle and the
    * round-19 trained-quantizer graph oracle.
    */
  private[queries] def kmeansAutoC0Sql: String = {
    val strideSql =
      s"""SELECT greatest(1, CAST(floor(CAST(count(*) AS DOUBLE)
          / ($kmeansAutoKClampSql)) AS BIGINT)) FROM vecs"""
    s"""SELECT vec_id AS pos, v AS cv FROM vecs
      WHERE ${idHash60Duck("vec_id")} % ($strideSql) = 0"""
  }

  /** The count-derived Lloyd-IVF oracle as a named val — the round-18
    * contract recall row nests this IDENTICAL statement.
    */
  private[queries] lazy val ivfKmeansTopkAutoDuckSql: String = {
        import Round11cQueries.{IvfNQueries, IvfTopK}
        val enc = VectorOps.duckDist2("a.v", "c.cv")
        val qd = VectorOps.duckDist2("q.v", "c.cv")
        val cos = s"round(${VectorOps.duckDot("co.v", "p.qv")} / (co.nrm * p.qn), 6)"
        // ONE definition of the K clamp, referenced by both the init
        // threshold and the serving width (review finding: two
        // hand-spelled copies could drift into an internally
        // inconsistent oracle)
        val kClampSql = kmeansAutoKClampSql
        val c0Sql = kmeansAutoC0Sql
        s"""WITH ${Round11bQueries.kmDuckPrefixFrom(c0Sql, Round11bQueries.KmIters)},
          kwidth AS (
            SELECT kk, CAST(ceil(sqrt(kk)) AS INT) AS npr FROM (
              SELECT CAST($kClampSql AS INT) AS kk
              FROM vecs)),
          codes AS (
            SELECT vec_id, v, nrm, cluster FROM (
              SELECT a.vec_id, a.v, ${VectorOps.duckNorm("a.v")} AS nrm, c.pos AS cluster,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY $enc ASC, c.pos ASC) AS rn
              FROM vecs a CROSS JOIN c${Round11bQueries.KmIters} c) WHERE rn = 1),
          qp AS (
            SELECT query_id, qv, qn, probe FROM (
              SELECT q.vec_id AS query_id, q.v AS qv, ${VectorOps.duckNorm("q.v")} AS qn,
                c.pos AS probe,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY $qd ASC, c.pos ASC) AS rn
              FROM vecs q CROSS JOIN c${Round11bQueries.KmIters} c
              WHERE q.vec_id < $IvfNQueries)
            WHERE rn <= (SELECT npr FROM kwidth)),
          cand AS (
            SELECT p.query_id, co.vec_id AS neighbor_id, $cos AS cosine
            FROM codes co JOIN qp p ON co.cluster = p.probe
            WHERE co.vec_id <> p.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM cand)
        SELECT query_id, rank, neighbor_id, cosine FROM ranked
        WHERE rank <= $IvfTopK ORDER BY query_id, rank"""
  }
}
