package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.operators.Layouts
import graft.queries.Corpus.{h60Duck, h60Spark, idHash60Duck, idHash60Spark}

/** ANN serving over `embeddings(vec_id, embedding array<float>)`: the
  * exact top-k truths, the vector indexes, their shared stages and the
  * two recall audits.
  *
  *  - One `AnnIndex` registry (`Indexes`) holds every approximate
  *    top-k index: its audit label, declared row, metric, k, build,
  *    DuckDB oracle and doc. It drives the declared index rows, both
  *    audits' panels and their DuckDB arms.
  *  - One Spark exact top-k builder (`exactTopk`) serves cosine, inner
  *    product and L2: the declared `sim_brute_topk` and `sim_mips_topk`,
  *    every audit truth here and `sim_knn_graph_recall`'s panel truth.
  *  - Each index stage is written once: sampled cells and the argmin
  *    and probe ranking (`sampledCents`, `rankedCells`), the PQ
  *    codebook, encode, LUT, ADC shortlist and exact re-rank, Lloyd-IVF
  *    serving with `nprobe` a parameter (`lloydIvfServe`), and the
  *    per-query top-k tail (`topk`).
  *  - One recall composition (`recallOf`) serves `sim_index_recall`,
  *    `sim_index_recall_contract` and `sim_knn_graph_recall`. Each
  *    audit computes each (metric, k) truth once, collects it to the
  *    driver (it is panel-bounded) and broadcasts it.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity
  * machinery (its compute surface is schema-driven Parquet I/O); every
  * row here is [EXT] per SURVEY §2.7.
  */
object AnnQueries {

  // ── panel and index constants ──────────────────────────────────────
  // These precede every oracle builder: other query objects read them
  // while they initialize.

  /** k of the exact cosine baseline and the Lloyd-IVF rows. */
  val TopK = 10
  /** k of the sampled-IVF, sign-LSH, PQ and MIPS rows. */
  val IvfTopK = 5
  /** vec_id < NQueries are the query vectors. */
  val NQueries = 5
  val NProbe = 4 // probe 4 of the (≤64) cells — recall@5 0.36 → 0.56 on the fixture
  val CentroidEvery = 25 // vec_id % 25 == 0 → deterministic centroid set
  // Cap the centroid count: centroids come from the first CentroidEvery ×
  // CentroidCap ids (≙ k-means trained on a fixed sample). Without the cap
  // the centroid count grows with the corpus and the assignment step turns
  // O(n²/CentroidEvery) — measured superlinear in ScaleProbe (1.1 s → 12.5 s
  // at ×10). With it, assignment is O(n·C): 12.5 s → ~2 s at ×10.
  val CentroidCap = 64

  // NBits sign-bits → 2^NBits buckets. Hyperplane components are pure
  // arithmetic (no RNG), interpolated VERBATIM into both the Spark plan
  // and the oracle SQL — identical doubles ⇒ identical dot signs ⇒
  // identical buckets in both engines.
  val NBits = 8
  /** Embedding dimensionality (FIXTURES.md). */
  val Dim = 64

  /** Lloyd k-means: K clusters (init = the first K vectors), unrolled
    * rounds. */
  val KmK = 8
  val KmIters = 3
  /** Cells probed per query by the Lloyd-trained IVF. With K=8 cells,
    * nprobe=2 scans ~1/4 of the corpus per query — the recall/cost dial. */
  val IvfNProbe = 2

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

  /** Independent sign-LSH tables for the auto-width serving index: the
    * dedup family's recall lever applied to top-k serving (4 matches
    * AnnTables); probe cost per query is tables·(1+bits) buckets. */
  val LshAutoTables = 4

  // ── product quantization (Jégou et al. 2011) ───────────────────────
  /** 64-dim embeddings split into M=8 blocks of 8 dims — the paper's
    * canonical m=8 / k*=256 config (8 bytes per vector). */
  val PqM = 8
  val PqSubDim = 8
  /** Codewords per subspace codebook (k* = 2^8 in the paper). */
  val PqK = 256
  /** Deterministic codeword source: subvectors of the first PqK vectors
    * (the sim_ivf_topk "trained on a fixed sample" stance). */
  val PqCentEvery = 1
  /** ADC retrieves a shortlist, exact re-rank returns the top-k — the
    * IVFADC+R refinement of the paper (recall@5 = 0.92 on the fixture
    * vs 0.0 for raw 2-byte ADC on near-random 64-dim data). */
  val PqShortlist = 50
  val PqTopK = 5

  /** Hard negatives returned per query. */
  val HnK = 5
  /** Random-projection target dimensionality. 16 = 4² keeps the 1/√R
    * scale EXACT (÷4), so no irrational constant enters the compare. */
  val RpDim = 16

  // ════ sign-LSH hyperplanes ══════════════════════════════════════════

  /** Deterministic 64-bit mix (splitmix64 finalizer, Vigna — public
    * domain): the hyperplane component source. Unsigned-remainder at
    * the end so the [0, 1009) range matches an unsigned interpretation
    * of the mixed word.
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Table `t` of the hyperplane family: table 0 is the sim_lsh_topk
    * index; higher tables are the extra independent sign-LSH tables the
    * bucketed dedup path (DedupQueries.dedup_embedding_ann) unions for
    * recall. The `bits` overload serves the width-scaled variants.
    * Components come from a full 64-bit MIX of the plane/coordinate
    * index (identical doubles interpolated into both engines' plans).
    *
    * Why the mix (round 18): the original family h(k) = (2654435761·k
    * mod 1009) made every plane a segment of ONE progression — planes
    * within a table measured pairwise |cos| up to 0.82 (mean 0.35),
    * which skews the sign-pattern prior: the hottest masked bucket
    * carried ~1% of ANY corpus (300× uniform at 15 bits), Σp² decayed
    * ~0.8×/extra bit instead of 0.5×, and the "linear at the width
    * rule" candidate volume kept a slowly-decaying quadratic term. The
    * mixed family measures mean pairwise |cos| 0.108 ≈ the 1/√64
    * random-plane floor, max prior 23× lower, Σp² at the random-plane
    * floor (~2× uniform).
    */
  def hyperplaneSet(t: Int, bits: Int): Seq[Seq[Double]] =
    (0 until bits).map { b =>
      (0 until Dim).map { d =>
        java.lang.Long.remainderUnsigned(
          mix64(((t * bits + b) * Dim + d + 1).toLong), 1009L)
          .toDouble / 1009.0 - 0.5
      }
    }

  def hyperplaneSet(t: Int): Seq[Seq[Double]] = hyperplaneSet(t, NBits)

  val Hyperplanes: Seq[Seq[Double]] = hyperplaneSet(0)

  /** The sign-LSH bucket of `v` under `planes`: Σ 2^b · [dot(v, h_b) ≥ 0]. */
  private[queries] def signBucket(planes: Seq[Seq[Double]]): Column =
    planes.indices.map { b =>
      when(VectorOps.dot(col("v"), typedLit(planes(b))) >= 0.0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** `signBucket` in DuckDB over the list column `v` (identical plane
    * literals ⇒ identical signs in both engines). */
  private[queries] def signBucketSql(planes: Seq[Seq[Double]]): String =
    planes.indices.map { b =>
      val lits = planes(b).mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  /** A bucket and its Hamming-1 flips: the multi-probe list. */
  private def hamming1(bucket: Column): Column =
    array(bucket +: (0 until NBits).map(b => bucket.bitwiseXOR(lit(1 << b))): _*)

  private def hamming1Sql(bucket: String): String =
    (bucket +: (0 until NBits).map(b => s"xor($bucket, ${1 << b})"))
      .mkString("[", ", ", "]")

  /** 65-dim hyperplanes for the MIPS AUGMENTED space (64 vector dims +
    * the norm-completion dim), same mixed-hash family as
    * `hyperplaneSet`, table offset 7 so the planes are independent of
    * every other LSH table.
    */
  val MipsHyperplanes: Seq[Seq[Double]] =
    (0 until NBits).map { b =>
      (0 to Dim).map { d =>
        java.lang.Long.remainderUnsigned(mix64(
          ((7 * NBits + b) * (Dim + 1) + d + 1).toLong), 1009L)
          .toDouble / 1009.0 - 0.5
      }
    }

  // ════ exact top-k: metrics, panels, the tail and the builder ════════

  /** An exact top-k metric: the score column's name, its rank
    * direction, the audit key, the panel query projection and the
    * score over a corpus row (`v`, `nrm`) and a panel query (`qv`,
    * `qn`), rounded to 6 dp in every engine.
    */
  sealed abstract class Metric(val score: String, val desc: Boolean,
      val key: String) {
    def queryCols: Seq[Column]
    def value: Column
    /** The fixture corpus this metric's truth scans. */
    def corpus(s: SparkSession, dir: String): DataFrame
  }
  case object Cos extends Metric("cosine", desc = true, "cos") {
    def queryCols: Seq[Column] = Seq(col("v").as("qv"), col("nrm").as("qn"))
    def value: Column =
      round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
    def corpus(s: SparkSession, dir: String): DataFrame = Corpus.nvecs(s, dir)
  }
  case object Ip extends Metric("ip", desc = true, "ip") {
    def queryCols: Seq[Column] = Seq(col("v").as("qv"))
    def value: Column = round(VectorOps.dot(col("v"), col("qv")), 6)
    def corpus(s: SparkSession, dir: String): DataFrame = Corpus.vecs(s, dir)
  }
  case object L2 extends Metric("d2", desc = false, "l2") {
    def queryCols: Seq[Column] = Seq(col("v").as("qv"))
    def value: Column = round(VectorOps.dist2(col("v"), col("qv")), 6)
    def corpus(s: SparkSession, dir: String): DataFrame = Corpus.vecs(s, dir)
  }

  /** The query panel of every serving row: vec_id < NQueries. */
  private def firstIds(all: DataFrame): DataFrame =
    all.filter(col("vec_id") < NQueries)

  /** Panel queries as (query_id, qv). */
  private def queries(all: DataFrame): DataFrame =
    firstIds(all).select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** The per-query top-k tail: rank by `score` (then neighbor id
    * ascending — ties cannot blur set comparisons), keep ranks ≤ k,
    * (query_id, rank, neighbor_id, score) in (query_id, rank) order.
    * A literal k keeps the WindowGroupLimit prune.
    */
  private def topk(scored: DataFrame, score: String, k: Int,
      desc: Boolean = true): DataFrame =
    ranked(scored, score, k, desc).orderBy(col("query_id"), col("rank"))

  /** `topk` without the final order (a truth that is collected). */
  private[queries] def ranked(scored: DataFrame, score: String, k: Int,
      desc: Boolean): DataFrame = {
    val order = if (desc) col(score).desc else col(score).asc
    val w = Window.partitionBy(col("query_id"))
      .orderBy(order, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(score))
  }

  /** Candidate (query, vector) rows scored by `m` (the query itself
    * dropped), cut to the top k. */
  private def scoredTopk(cands: DataFrame, m: Metric, k: Int): DataFrame =
    topk(scored(cands, m), m.score, k, m.desc)

  private[queries] def scored(cands: DataFrame, m: Metric): DataFrame =
    cands.filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        m.value.as(m.score))

  /** Exact top-k of every `panel(corpus)` query over `corpus` by
    * `metric`, unordered — the ONE Spark exact top-k builder: the query
    * side is tiny → broadcast; the corpus side is one scan. `corpus`
    * carries (vec_id, v) plus `nrm` for cosine.
    */
  private[queries] def exactTopk(corpus: DataFrame,
      panel: DataFrame => DataFrame, metric: Metric, k: Int): DataFrame = {
    val q = panel(corpus)
      .select(col("vec_id").as("query_id") +: metric.queryCols: _*)
    ranked(corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        metric.value.as(metric.score)),
      metric.score, k, metric.desc)
  }

  /** The exact truth of the serving panel at (metric, k). */
  private def exactTruth(s: SparkSession, dir: String, m: Metric, k: Int)
      : DataFrame =
    exactTopk(m.corpus(s, dir), firstIds, m, k)

  // ════ recall: one composition ═══════════════════════════════════════

  /** A panel truth collected to the driver as a broadcast (query_id,
    * neighbor_id) local relation: it is panel·k rows by construction,
    * so every consumer reads it without re-running the truth job.
    */
  private[queries] def collected(truth: DataFrame): DataFrame = {
    val s = truth.sparkSession
    import s.implicits._
    broadcast(truth.select(col("query_id"), col("neighbor_id")).collect()
      .toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .toDF("query_id", "neighbor_id"))
  }

  /** Per-query recall of labelled approximate top-k sets, each against
    * its exact truth: hits = truth ∩ approx per query, denominator =
    * the per-query truth count computed in-plan (a corpus with ≤ k
    * non-query vectors must still read 1.0). One row per (label,
    * truth query), in (label, query_id) order.
    */
  private[queries] def recallOf(labelCol: String,
      arms: Seq[(String, DataFrame, DataFrame)]): DataFrame =
    arms.map { case (label, truth, approx) =>
      val tn = truth.groupBy(col("query_id")).agg(count(lit(1)).as("t_n"))
      val hit = truth
        .join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      tn.join(hit, Seq("query_id"), "left")
        .select(lit(label).as(labelCol), col("query_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)).cast("double") /
            col("t_n").cast("double")).as("recall"))
    }.reduce(_ unionByName _)
      .orderBy(col(labelCol), col("query_id"))

  // ════ IVF cells ══════════════════════════════════════════════════════

  /** Sampled-point cells: every CentroidEvery-th of the first
    * CentroidEvery·CentroidCap vectors, as (cent_id, cv). */
  private[queries] def sampledCents(all: DataFrame): DataFrame =
    all.filter(col("vec_id") % CentroidEvery === 0 &&
        col("vec_id") < CentroidEvery * CentroidCap)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** Each row of `rows` (keyed by `keep.head`) against the broadcast
    * cell table `cents` (cent_id, cv): cells ranked by exact L2 of
    * vector column `v` (deterministic tiebreak on cent_id), cut by
    * `within` over the rank `rn` — `=== 1` is the argmin assignment,
    * `<= nprobe` a probe list. Output: keep…, cent_id.
    */
  private[queries] def rankedCells(rows: DataFrame, keep: Seq[String], v: String,
      cents: DataFrame, within: Column => Column): DataFrame = {
    val w = Window.partitionBy(col(keep.head))
      .orderBy(col("d2").asc, col("cent_id").asc)
    rows.join(broadcast(cents), lit(true))
      .select(keep.map(col) ++ Seq(col("cent_id"),
        VectorOps.dist2(col(v), col("cv")).as("d2")): _*)
      .withColumn("rn", row_number().over(w))
      .filter(within(col("rn")))
      .select(keep.map(col) :+ col("cent_id"): _*)
  }

  /** IVF serving over a cell table (one definition for the fixed-knob
    * sim_ivf_topk and the count-derived sim_ivf_topk_auto): every
    * vector posts to its nearest cell, each query probes its `nprobe`
    * nearest cells, the candidate restriction is a plain equi-join,
    * then ONE WindowGroupLimit-pruned top-IvfTopK rollup. `all` carries
    * (vec_id, v, nrm) plus whatever column `nprobe` references.
    */
  private def ivfServe(all: DataFrame, cents: DataFrame,
      nprobe: Column): DataFrame = {
    val assign = rankedCells(all.select(col("vec_id"), col("v"), col("nrm")),
      Seq("vec_id", "v", "nrm"), "v", cents, _ === 1)
    val q = firstIds(all)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), nprobe.as("npr_"))
    val probes = rankedCells(q, Seq("query_id", "qv", "qn", "npr_"), "qv",
      cents, _ <= col("npr_"))
    scoredTopk(probes.join(assign, Seq("cent_id")), Cos, IvfTopK)
  }

  /** The matching DuckDB serving tail over a prepared `cents` CTE
    * (cent_id, cv) with `nvecs` in scope — `nprobeSql` is a literal for
    * the fixed row, a scalar subquery for the auto row.
    */
  private def ivfServeDuckSql(prefixCtes: String, nprobeSql: String): String =
    s"""WITH $prefixCtes,
      assign AS (
        SELECT vec_id, v, nrm, cent_id FROM (
          SELECT a.vec_id, a.v, a.nrm, c.cent_id,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY ${VectorOps.duckDist2("a.v", "c.cv")} ASC, c.cent_id ASC) AS rn
          FROM nvecs a CROSS JOIN cents c)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
            FROM nvecs WHERE vec_id < $NQueries),
      probes AS (
        SELECT query_id, qv, qn, cent_id FROM (
          SELECT q.query_id, q.qv, q.qn, c.cent_id,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY ${VectorOps.duckDist2("q.qv", "c.cv")} ASC, c.cent_id ASC) AS rn
          FROM q CROSS JOIN cents c)
        WHERE rn <= $nprobeSql),
      sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "p.qv")} / (a.nrm * p.qn), 6) AS cosine
        FROM probes p JOIN assign a ON p.cent_id = a.cent_id
        WHERE a.vec_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked
    WHERE rank <= $IvfTopK ORDER BY query_id, rank"""

  private def ivfTopkDuckSql: String = ivfServeDuckSql(
    s"""${Corpus.nvecsDuck},
      cents AS (
        SELECT vec_id AS cent_id, v AS cv FROM nvecs
        WHERE vec_id % $CentroidEvery = 0
          AND vec_id < ${CentroidEvery * CentroidCap})""",
    NProbe.toString)

  /** 1-row width table (n, kk, stride, npr) derived from the corpus
    * count — corpus size is a runtime fact, not a constant a human
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

  /** Count-derived IVF serving: K = clamp(⌈√n⌉, 4, 4096) cells, nprobe
    * = ⌈√K⌉, both off a 1-row broadcast count. Centroids are a
    * HASH-RESIDUE sample, h60(vec_id) % stride = 0 — expected n/stride
    * ≈ K cells whatever the id layout. The round-17 sampled-point rule
    * (vec_id % stride = 0 AND vec_id < stride·kk) assumed a dense
    * contiguous id space: at the ×10 rotate corpus it kept 14 cells
    * where K=142 was derived, which turned "probe npr cells" into "scan
    * most of the corpus" (recall 1.00 bought by a broken prune).
    */
  private def ivfTopkAutoServe(corpus: DataFrame): DataFrame = {
    val all = corpus.crossJoin(broadcast(ivfAutoWidth(corpus, IvfAutoMaxK)))
    val cents = all
      .filter(expr(idHash60Spark("vec_id")) % col("stride") === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    ivfServe(all, cents, col("npr"))
  }

  private def ivfTopkAutoDuckSql: String =
    ivfServeDuckSql(
      s"""${Corpus.nvecsDuck},
        width AS (${ivfAutoWidthSql("nvecs", IvfAutoMaxK)}),
        cents AS (
          SELECT vec_id AS cent_id, v AS cv
          FROM nvecs CROSS JOIN width
          WHERE ${idHash60Duck("vec_id")} % stride = 0)""",
      "(SELECT npr FROM width)")

  // ════ sign-LSH serving ═════════════════════════════════════════════

  /** Sign-LSH top-k over a prepared (vec_id, v, nrm) corpus. bucket =
    * Σ 2^b · [dot(v, h_b) ≥ 0]: one narrow pass over the corpus, then
    * the probe is an equi-join on the bucket — a data-independent index
    * (no clustering job). Multi-probe: each query also probes the NBits
    * buckets at Hamming distance 1, the standard fix for sign-LSH's
    * near-empty-bucket recall collapse; the probe count is independent
    * of corpus size, so the scan stays pruned.
    */
  private def lshServe(corpus: DataFrame): DataFrame = {
    // narrow over the persisted corpus: re-evaluating the bucket per
    // consumer costs NBits cached-read dot products, never a rescan
    val all = corpus.withColumn("bucket", signBucket(Hyperplanes))
    val q = firstIds(all)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(hamming1(col("bucket"))).as("bucket"))
    scoredTopk(all.join(broadcast(q), Seq("bucket")), Cos, IvfTopK)
  }

  private def lshTopkDuckSql: String = {
    s"""WITH ${Corpus.nvecsDuck},
      bucketed AS (
        SELECT vec_id, v, nrm, ${signBucketSql(Hyperplanes)} AS bucket FROM nvecs),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
              unnest(${hamming1Sql("bucket")}) AS bucket
            FROM bucketed WHERE vec_id < $NQueries),
      sims AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6) AS cosine
        FROM bucketed a JOIN q ON a.bucket = q.bucket AND a.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked
    WHERE rank <= $IvfTopK ORDER BY query_id, rank"""
  }

  /** Auto-width serving sign-LSH over a prepared (vec_id, v, nrm)
    * corpus: in-plan width (bits = clamp(bitlen(n−1), 8,
    * AnnAutoMaxBits) off a 1-row broadcast count, signatures computed
    * once at AnnAutoMaxBits and masked), LshAutoTables independent
    * tables with the table index folded into the Long bucket key as
    * t·(mask+1), queries probe own bucket + the `bits` Hamming-1 flips
    * per table, per-table equi-joins, (query, neighbor) dedup by max
    * (cosine is a pair function, so max only collapses multi-table
    * hits), ONE WindowGroupLimit-pruned top-IvfTopK rollup.
    */
  private def lshTopkAutoServe(corpus: DataFrame): DataFrame = {
    import Round16Queries.AnnAutoMaxBits
    // all tables' masked signatures in one corpus pass; narrow over the
    // persisted corpus, so re-evaluating it per table join costs a few
    // cached-read dot products, never a rescan
    val sigs = corpus.crossJoin(broadcast(Round16Queries.annAutoWidth(corpus)))
      .select(Seq(col("vec_id"), col("v"), col("nrm"), col("bits"),
        col("mask")) ++
        (0 until LshAutoTables).map(t =>
          DedupQueries.annSigCol(t, AnnAutoMaxBits)
            .bitwiseAND(col("mask")).as(s"sig_$t")): _*)
    def tableHits(t: Int): DataFrame = {
      val bucketed = sigs.select(col("vec_id"), col("v"), col("nrm"),
        (col(s"sig_$t") + lit(t) * (col("mask") + lit(1L))).as("bucket"))
      val probes = expr(
        s"""transform(sequence(0, bits), i ->
           (CASE WHEN i = 0 THEN sig_$t
            ELSE sig_$t ^ shiftleft(CAST(1 AS BIGINT), i - 1) END)
           + $t * (mask + 1))""")
      val q = firstIds(sigs)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), explode(probes).as("bucket"))
      scored(bucketed.join(broadcast(q), Seq("bucket")), Cos)
    }
    topk((0 until LshAutoTables).map(tableHits).reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine")), "cosine", IvfTopK)
  }

  private def lshTopkAutoDuckSql: String = {
    import Round16Queries.AnnAutoMaxBits
    def sigSql(t: Int) = signBucketSql(hyperplaneSet(t, AnnAutoMaxBits))
    val bitsSql = Round16Queries.annAutoBitsSql
    def probesSql(t: Int) =
      s"""list_transform(range(0, bits + 1), i ->
          (CASE WHEN i = 0 THEN sig_$t
           ELSE xor(sig_$t, CAST(1 AS BIGINT) << (i - 1)) END)
          + $t * (mask + 1))"""
    val corpusArms = (0 until LshAutoTables).map(t =>
      s"SELECT vec_id, v, nrm, sig_$t + $t * (mask + 1) AS bucket FROM sigs")
      .mkString("\n        UNION ALL\n        ")
    val probeArms = (0 until LshAutoTables).map(t =>
      s"""SELECT vec_id AS query_id, v AS qv, nrm AS qn,
            unnest(${probesSql(t)}) AS bucket
          FROM sigs WHERE vec_id < $NQueries""")
      .mkString("\n        UNION ALL\n        ")
    s"""WITH ${Corpus.nvecsDuck},
      width AS (
        SELECT $bitsSql AS bits,
          (CAST(1 AS BIGINT) << $bitsSql) - 1 AS mask FROM vecs),
      sigs AS (
        SELECT vec_id, v, nrm, bits, mask, ${(0 until LshAutoTables)
          .map(t => s"(${sigSql(t)}) & mask AS sig_$t").mkString(", ")}
        FROM nvecs CROSS JOIN width),
      corpus AS (
        $corpusArms),
      q AS (
        $probeArms),
      cand AS (
        SELECT DISTINCT q.query_id, q.qv, q.qn, a.vec_id AS neighbor_id,
          a.v, a.nrm
        FROM corpus a JOIN q ON a.bucket = q.bucket
          AND a.vec_id <> q.query_id),
      sims AS (
        SELECT query_id, neighbor_id,
          round(${VectorOps.duckDot("v", "qv")} / (nrm * qn), 6) AS cosine
        FROM cand),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM sims)
    SELECT query_id, rank, neighbor_id, cosine FROM ranked
    WHERE rank <= $IvfTopK ORDER BY query_id, rank"""
  }

  // ════ Lloyd k-means (shared by sim_kmeans, the Lloyd-IVF rows and
  // the trained kNN-graph cells) ═══════════════════════════════════════

  /** One row holding the K centroid vectors sorted by cluster id, so
    * position = cluster label (compacted when a cluster empties — the
    * oracle re-indexes identically). */
  private[queries] def centArray(cents: DataFrame): DataFrame =
    cents
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cs0"))
      .select(expr("transform(cs0, x -> x.cv)").as("cents"))

  /** Zero-shuffle assignment pass: broadcast the one-row centroid array,
    * argmin with the codegen'd pq_argmin (strict <, ties to the lowest
    * cluster id — the oracle's ORDER BY d2, pos tiebreak). */
  private[queries] def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centArray(cents)))
      .withColumn("cluster", expr("pq_argmin(v, cents)"))

  /** Lloyd update: element-wise mean per cluster (`lloydMeans` grouped
    * by cluster), as (cid, cv). */
  private def update(assigned: DataFrame): DataFrame =
    lloydMeans(assigned, col("cluster"))
      .select(col("cluster").as("cid"), col("cv"))

  /** The Lloyd mean update shared by the flat and the grouped-fine
    * rounds: element-wise mean of `v` per `keys` group, as ONE
    * aggregation — Dim decimal sum columns plus a count (round 21: the
    * previous posexplode form fanned every vector to Dim rows and paid
    * TWO exchanges where one hash aggregate with a Dim-wide buffer
    * ships the identical partial sums through ONE). Means stay exact
    * and order-free: round(val,9) → DECIMAL(28,9) sums per element,
    * ONE double division at the end. Output: keys…, cv.
    *
    * Input invariant: every `v` holds exactly Dim non-null elements. A
    * short vector or a null element would drop out of an element's sum
    * while still counting in `cnt`, a silently wrong mean; the input
    * projection raises instead (in the plan, so no extra job runs).
    */
  private[graft] def lloydMeans(assigned: DataFrame, keys: Column*): DataFrame = {
    val checked = when(size(col("v")) === Dim && forall(col("v"), _.isNotNull), col("v"))
      .otherwise(raise_error(
        lit(s"Lloyd input: every vector needs exactly $Dim non-null elements")))
    val sums = (0 until Dim).map { i =>
      sum(expr(s"cast(round(v[$i], 9) as decimal(28,9))")).as(s"s$i")
    } :+ count(lit(1)).as("cnt")
    val means = (0 until Dim).map { i =>
      round(col(s"s$i").cast(DoubleType) / col("cnt"), 9)
    }
    assigned
      .select(keys :+ checked.as("v"): _*)
      .groupBy(keys: _*)
      .agg(sums.head, sums.tail: _*)
      .select(keys :+ array(means: _*).as("cv"): _*)
  }

  /** Final labeled output: (vec_id, cluster, d2). */
  private def kmeansFinish(vecs: DataFrame, cents: DataFrame): DataFrame =
    assign(vecs, cents)
      .withColumn("d2",
        round(VectorOps.dist2(col("v"), element_at(col("cents"), col("cluster") + 1)), 6))
      .select(col("vec_id"), col("cluster"), col("d2"))
      .orderBy(col("vec_id"))

  private def kmeansInit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val vecs = Corpus.vecs(s, dir)
    val c0 = vecs.filter(col("vec_id") < KmK)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
    (vecs, c0)
  }

  /** Fixed-iteration Lloyd loop, labeled corpus out. */
  def kmeans(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val (vecs, c0) = kmeansInit(s, dir)
    kmeansFinish(vecs, kmeansTrainFrom(vecs, c0, iters))
  }

  /** The Lloyd loop from an ARBITRARY init centroid table — the rounds
    * are k-agnostic (the centroid set is data, not a literal), which is
    * what lets sim_ivf_kmeans_topk_auto derive K from the runtime
    * corpus count. The K-row centroid table is localCheckpoint'ed each
    * round: the plan stays flat instead of nesting every prior
    * iteration's aggregation into the next broadcast subtree.
    *
    * Round 21 A/B note: a no-per-iteration-checkpoint variant (the
    * whole chain as one action's nested-broadcast job tree) was
    * measured SLOWER same-window on every training consumer
    * (sim_kmeans 3.07 vs 2.22 s, st_incremental_ann_ivf 4.84 vs
    * 2.60 s, sim_knn_graph_ivf_scaled 4.87 vs 2.97 s at sf0.1) — AQE
    * re-plans the deep chain per materialization and the nested
    * broadcast builds serialize.
    */
  private[queries] def kmeansTrainFrom(
      vecs: DataFrame, c0: DataFrame, iters: Int): DataFrame = {
    var cents = c0
    for (_ <- 1 to iters)
      cents = update(assign(vecs, cents)).localCheckpoint()
    cents
  }

  /** The Lloyd loop at a count-derived K over a corpus crossed with its
    * `ivfAutoWidth` row: the init is the hash-residue sample
    * h60(vec_id) % stride = 0 (~kk seeds whatever the id layout). */
  private[queries] def kmeansTrainAuto(vecs: DataFrame): DataFrame =
    kmeansTrainFrom(vecs.select(col("vec_id"), col("v")),
      vecs.filter(expr(idHash60Spark("vec_id")) % col("stride") === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv")), KmIters)

  /** Convergence-driven Lloyd loop: stop when the max centroid movement
    * (squared L2) falls below eps or at maxIters; the per-round
    * movement check is a 1-row scalar collect. Returns the labeled
    * corpus plus the number of rounds run. */
  def kmeansUntil(s: SparkSession, dir: String, eps: Double, maxIters: Int): (DataFrame, Int) = {
    val (vecs, c0) = kmeansInit(s, dir)
    var cents = c0.localCheckpoint()
    var rounds = 0
    var moved = Double.MaxValue
    while (moved > eps && rounds < maxIters) {
      val next = update(assign(vecs, cents)).localCheckpoint()
      // K-row join: movement of every surviving centroid. Position
      // re-indexing means a dropped cluster shows up as a missing cid;
      // treat that (never on the fixture) as full movement.
      val mv = cents.select(col("cid"), col("cv").as("prev"))
        .join(next, Seq("cid"), "full")
        .select(max(when(col("cv").isNull || col("prev").isNull, Double.MaxValue)
          .otherwise(VectorOps.dist2(col("cv"), col("prev")))).as("mv"))
        .collect()(0)
      moved = if (mv.isNullAt(0)) 0.0 else mv.getDouble(0)
      cents = next
      rounds += 1
    }
    (kmeansFinish(vecs, cents), rounds)
  }

  /** Oracle WITH-fragment: vecs + c0..c{iters} (the trained centroid
    * CTE chain) from the first-K init. */
  private def kmDuckPrefix(iters: Int): String =
    kmDuckPrefixFrom(
      s"""SELECT CAST(vec_id AS INT) AS pos, v AS cv FROM vecs
          WHERE vec_id < $KmK""", iters)

  /** Same oracle chain over an ARBITRARY c0 SELECT (must yield (pos,
    * cv) rows over `vecs`). */
  private[queries] def kmDuckPrefixFrom(c0Sql: String, iters: Int): String =
    s"""${Corpus.vecsDuck},
        c0 AS ($c0Sql),
        ${(1 to iters).map(kmDuckIter).mkString(",\n")}"""

  private def kmDuckIter(i: Int): String = {
    val d2 = VectorOps.duckDist2("a.v", "c.cv")
    s"""a$i AS (
          SELECT vec_id, v, pos FROM (
            SELECT a.vec_id, a.v, c.pos,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $d2 ASC, c.pos ASC) AS rn
            FROM vecs a CROSS JOIN c${i - 1} c) WHERE rn = 1),
        u$i AS (
          SELECT pos, u.j AS idx,
            round(CAST(sum(CAST(round(v[u.j + 1], 9) AS DECIMAL(28,9))) AS DOUBLE)
                  / count(*), 9) AS mn
          FROM a$i, unnest(range(0, $Dim)) u(j)
          GROUP BY pos, u.j),
        c$i AS (
          SELECT row_number() OVER (ORDER BY pos) - 1 AS pos, cv FROM (
            SELECT pos, list(mn ORDER BY idx) AS cv FROM u$i GROUP BY pos))"""
  }

  private def kmeansOracle: String = {
    val fin = VectorOps.duckDist2("a.v", "c.cv")
    s"""WITH ${kmDuckPrefix(KmIters)},
        fin AS (
          SELECT vec_id, pos AS cluster, d2 FROM (
            SELECT a.vec_id, c.pos, $fin AS d2,
              row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $fin ASC, c.pos ASC) AS rn
            FROM vecs a CROSS JOIN c$KmIters c) WHERE rn = 1)
        SELECT vec_id, cluster, round(d2, 6) AS d2 FROM fin ORDER BY vec_id"""
  }

  // ════ Lloyd-trained IVF ═════════════════════════════════════════════

  /** IVF serving over a trained centroid table (cid, cv): one
    * zero-shuffle pass posts every `corpus` vector (vec_id, v) to its
    * cell, each `queries` panel vector ranks the cells IN-ROW off the
    * same broadcast centroid array and probes its `nprobe` nearest (a
    * literal or a column of `queries`), the candidate restriction is an
    * equi-join on the cell, then one top-TopK rollup.
    */
  private def lloydIvfServe(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, nprobe: String): DataFrame = {
    val ca = centArray(cents)
    val codes = assign(corpus, cents)
      .withColumn("nrm", sqrt(VectorOps.dot(col("v"), col("v"))))
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
    val qprobes = firstIds(queries)
      .crossJoin(broadcast(ca))
      .select(
        col("vec_id").as("query_id"),
        col("v").as("qv"),
        sqrt(VectorOps.dot(col("v"), col("v"))).as("qn"),
        explode(expr(
          s"""transform(
                slice(array_sort(transform(cents,
                  (c, i) -> struct(vec_dist2(v, c) AS d2, i AS pos))), 1, $nprobe),
                x -> x.pos)""")).as("probe"))
    scoredTopk(codes.join(broadcast(qprobes), col("cluster") === col("probe")),
      Cos, TopK)
  }

  /** Lloyd-IVF (FAISS IndexIVFFlat recipe) at K = KmK cells. */
  private def ivfKmeansTopk(s: SparkSession, dir: String): DataFrame = {
    val (vecs, c0) = kmeansInit(s, dir)
    val cents = kmeansTrainFrom(vecs, c0, KmIters)
    lloydIvfServe(vecs, vecs, cents, IvfNProbe.toString)
  }

  /** Lloyd-IVF at the count-derived K and nprobe: the k-agnostic Lloyd
    * rounds from the hash-residue init sample (`vec_id < kk` would be
    * EMPTY on a corpus whose ids start above kk). The width crossJoin
    * is persisted: it feeds c0, every
    * Lloyd round's assignment, the cell posting AND the query probes,
    * each of which would otherwise re-run the corpus count. Eager: the
    * training jobs run inside the `try`, so the release cannot wait
    * for a ready pipeline.
    */
  private def ivfKmeansTopkAuto(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val width = ivfAutoWidth(Corpus.vecs(s, dir), IvfKmeansAutoMaxK)
    val vecs = Corpus.vecs(s, dir)
      .crossJoin(broadcast(width))
      .persist()
    try {
      lloydIvfServe(vecs.select(col("vec_id"), col("v")), vecs,
        kmeansTrainAuto(vecs), "npr").localCheckpoint(true)
    } finally vecs.unpersist(false)
  }

  /** The Lloyd-IVF oracle after `head` (the trained centroid chain and
    * any width CTE): cell posting, per-query probes cut by `probeCut`,
    * candidates, ranked; every line of it indented by `indent` more.
    */
  private def lloydIvfDuckSql(head: String, probeCut: String,
      indent: String = ""): String = {
    val enc = VectorOps.duckDist2("a.v", "c.cv")
    val qd = VectorOps.duckDist2("q.v", "c.cv")
    val cos = s"round(${VectorOps.duckDot("co.v", "p.qv")} / (co.nrm * p.qn), 6)"
    val body = s"""
      codes AS (
        SELECT vec_id, v, nrm, cluster FROM (
          SELECT a.vec_id, a.v, ${VectorOps.duckNorm("a.v")} AS nrm, c.pos AS cluster,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY $enc ASC, c.pos ASC) AS rn
          FROM vecs a CROSS JOIN c$KmIters c) WHERE rn = 1),
      qp AS (
        SELECT query_id, qv, qn, probe FROM (
          SELECT q.vec_id AS query_id, q.v AS qv, ${VectorOps.duckNorm("q.v")} AS qn,
            c.pos AS probe,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY $qd ASC, c.pos ASC) AS rn
          FROM vecs q CROSS JOIN c$KmIters c
          WHERE q.vec_id < $NQueries)$probeCut),
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
    WHERE rank <= $TopK ORDER BY query_id, rank"""
    s"WITH $head," + body.replace("\n", "\n" + indent)
  }

  private def ivfKmeansTopkDuckSql: String =
    lloydIvfDuckSql(kmDuckPrefix(KmIters), s" WHERE rn <= $IvfNProbe")

  /** ONE definition of the Lloyd-auto K clamp — referenced by the init
    * threshold, the serving width, AND the trained-quantizer graph
    * oracles. */
  private def kmeansAutoKClampSql: String =
    s"""greatest($IvfAutoMinK, least($IvfKmeansAutoMaxK,
        CAST(ceil(sqrt(count(*))) AS BIGINT)))"""

  /** The Lloyd-auto init sample (id-layout-free hash residue; pos =
    * vec_id ranks identically to Spark's cid-sorted centroid array):
    * stride = greatest(1, floor(n / kk)), the ivfAutoWidthSql integer
    * math inlined over the same aggregate. */
  private[queries] def kmeansAutoC0Sql: String = {
    val strideSql =
      s"""SELECT greatest(1, CAST(floor(CAST(count(*) AS DOUBLE)
          / ($kmeansAutoKClampSql)) AS BIGINT)) FROM vecs"""
    s"""SELECT vec_id AS pos, v AS cv FROM vecs
      WHERE ${idHash60Duck("vec_id")} % ($strideSql) = 0"""
  }

  private def ivfKmeansTopkAutoDuckSql: String =
    lloydIvfDuckSql(
      s"""${kmDuckPrefixFrom(kmeansAutoC0Sql, KmIters)},
          kwidth AS (
            SELECT kk, CAST(ceil(sqrt(kk)) AS INT) AS npr FROM (
              SELECT CAST($kmeansAutoKClampSql AS INT) AS kk
              FROM vecs))""",
      "\n        WHERE rn <= (SELECT npr FROM kwidth)", indent = "    ")

  // ════ product quantization ══════════════════════════════════════════

  /** The PQ codebook: the PqM subspace slices of the first PqK vectors
    * (read as column `vcol`, the oracle's name), as (m, code_id, cw). */
  private def pqCodebook(all: DataFrame, vcol: String): DataFrame =
    all.filter(col("vec_id") % PqCentEvery === 0 &&
        col("vec_id") < PqCentEvery * PqK)
      .select((col("vec_id") / PqCentEvery).cast("int").as("code_id"),
        col("v").as(vcol))
      .select(col("code_id"), col(vcol),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("m"), col("code_id"),
        expr(s"slice($vcol, m * $PqSubDim + 1, $PqSubDim)").as("cw"))

  /** The index build: a zero-shuffle narrow encode of every vector to
    * (vec_id, m, code_id). The codebook aggregates to PqM broadcast
    * rows, codewords sorted by id (code_id = source vec_id is
    * contiguous 0..K-1, so the sorted position IS the code); the argmin
    * is the native codegen'd pq_argmin (the interpreted HOF route
    * measured ~1.2 ms/vector at ×10).
    */
  private def pqCodes(all: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.groupBy(col("m"))
      .agg(sort_array(collect_list(struct(col("code_id"), col("cw")))).as("cws0"))
      .select(col("m"), expr("transform(cws0, c -> c.cw)").as("cws"))
    all.select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .join(broadcast(cbArr), Seq("m"))
      .withColumn("sub", expr(s"slice(v, m * $PqSubDim + 1, $PqSubDim)"))
      .withColumn("code_id", expr("pq_argmin(sub, cws)"))
      .select(col("vec_id"), col("m"), col("code_id"))
  }

  /** The query-side lookup table: exact subspace distances of every
    * panel query (query_id, qv) to every codeword, rounded into
    * DECIMAL(18,6) so the ADC sum is order-free. */
  private def pqLut(q: DataFrame, cb: DataFrame): DataFrame =
    q.crossJoin(broadcast(cb))
      .select(col("query_id"), col("m"), col("code_id"),
        round(VectorOps.dist2(
          expr(s"slice(qv, m * $PqSubDim + 1, $PqSubDim)"), col("cw")), 6)
          .cast(DecimalType(18, 6)).as("lutd"))

  /** ADC shortlist: the approximate distance of a (query_id, vec_id)
    * is the sum of its PqM looked-up `lutd`s; the PqShortlist nearest
    * per query, as (query_id, neighbor_id). */
  private def adcShortlist(lookups: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    lookups.groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("lutd")).cast(DoubleType).as("adc"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("srank", row_number().over(w))
      .filter(col("srank") <= PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact L2 re-rank of the bounded shortlist (the "+R" stage): it
    * broadcasts onto the vector store as a point-lookup semi-join, so
    * full vectors are touched ONLY for shortlisted ids. */
  private def rerankL2(all: DataFrame, shortlist: DataFrame, q: DataFrame)
      : DataFrame =
    topk(all.select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), L2.value.as("d2")),
      "d2", PqTopK, desc = false)

  /** PQ/ADC with exact re-rank: the corpus' full vectors never move
    * after encoding; the per-query LUT broadcasts onto the code table
    * and the scan aggregates with ONE rollup shuffle. */
  private def pqTopk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s) // vec_dist2 on the SQL surface
    val all = Corpus.vecs(s, dir)
    val cb = pqCodebook(all, "cv")
    val shortlist = adcShortlist(pqCodes(all, cb)
      .join(broadcast(pqLut(queries(all), cb)), Seq("m", "code_id"))
      .filter(col("vec_id") =!= col("query_id")))
    rerankL2(all, shortlist, queries(all))
  }

  /** IVFPQ (FAISS IndexIVFPQ shape, no-residual variant — codes quantize
    * the raw vectors): the sampled-cell coarse quantizer restricts ADC
    * scoring to each query's NProbe cells. */
  private def ivfpqTopk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val all = Corpus.vecs(s, dir)
    val cents = sampledCents(all)
    val cells = rankedCells(all, Seq("vec_id"), "v", cents, _ === 1)
    val cb = pqCodebook(all, "cw0")
    val q = queries(all)
    val probes = rankedCells(q, Seq("query_id"), "qv", cents, _ <= NProbe)
    // ADC restricted to probed cells: codes ⋈ cells ⋈ probes ⋈ lut
    val shortlist = adcShortlist(pqCodes(all, cb)
      .join(broadcast(cells), Seq("vec_id"))
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(pqLut(q, cb)), Seq("query_id", "m", "code_id")))
    rerankL2(all, shortlist, q)
  }

  /** The PQ oracle's index CTEs: the codebook source `src` (vector
    * column `vcol`), the subspace codebook `cb`, the encode and the
    * codes. */
  private def pqCodesDuck(src: String, vcol: String): String =
    s"""$src AS (
            SELECT CAST(vec_id / $PqCentEvery AS INT) AS code_id, v AS $vcol FROM vecs
            WHERE vec_id % $PqCentEvery = 0 AND vec_id < ${PqCentEvery * PqK}),
          cb AS (
            SELECT u.m AS m, code_id,
              $vcol[u.m * $PqSubDim + 1 : u.m * $PqSubDim + $PqSubDim] AS cw
            FROM $src, unnest(range(0, $PqM)) u(m)),
          enc AS (
            SELECT a.vec_id, c.m, c.code_id,
              ${VectorOps.duckDist2(
                s"a.v[c.m * $PqSubDim + 1 : c.m * $PqSubDim + $PqSubDim]", "c.cw")} AS d2
            FROM vecs a CROSS JOIN cb c),
          codes AS (
            SELECT vec_id, m, code_id FROM (
              SELECT vec_id, m, code_id,
                row_number() OVER (PARTITION BY vec_id, m
                  ORDER BY d2 ASC, code_id ASC) AS rn
              FROM enc)
            WHERE rn = 1)"""

  /** The PQ oracle's ADC shortlist CTE over `adc`. */
  private def pqShortlistDuck: String =
    s"""shortlist AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc ASC, neighbor_id ASC) AS srank
              FROM adc)
            WHERE srank <= $PqShortlist),"""

  /** The PQ oracle's top-PqTopK tail over the re-rank CTE `src`. */
  private def pqRankedDuck(src: String): String =
    s"""ranked AS (
            SELECT query_id, neighbor_id, d2,
              row_number() OVER (PARTITION BY query_id
                ORDER BY d2 ASC, neighbor_id ASC) AS rank
            FROM $src)
        SELECT query_id, rank, neighbor_id, d2 FROM ranked
        WHERE rank <= $PqTopK ORDER BY query_id, rank"""

  private def pqTopkDuckSql: String =
    s"""WITH ${Corpus.vecsDuck},
          ${pqCodesDuck("cents", "cv")},
          lut AS (
            SELECT q.vec_id AS query_id, c.m, c.code_id,
              CAST(round(${VectorOps.duckDist2(
                s"q.v[c.m * $PqSubDim + 1 : c.m * $PqSubDim + $PqSubDim]", "c.cw")}, 6)
                AS DECIMAL(18,6)) AS lutd
            FROM vecs q CROSS JOIN cb c
            WHERE q.vec_id < $NQueries),
          adc AS (
            SELECT l.query_id, co.vec_id AS neighbor_id,
              CAST(sum(l.lutd) AS DOUBLE) AS adc
            FROM codes co JOIN lut l ON co.m = l.m AND co.code_id = l.code_id
            WHERE co.vec_id <> l.query_id
            GROUP BY l.query_id, co.vec_id),
          $pqShortlistDuck
          rer AS (
            SELECT s.query_id, s.neighbor_id,
              round(${VectorOps.duckDist2("a.v", "q.v")}, 6) AS d2
            FROM shortlist s
            JOIN vecs a ON a.vec_id = s.neighbor_id
            JOIN vecs q ON q.vec_id = s.query_id),
          ${pqRankedDuck("rer")}"""

  private def ivfpqTopkDuckSql: String =
    s"""WITH ${Corpus.vecsDuck},
          cents AS (
            SELECT vec_id AS cent_id, v AS cv FROM vecs
            WHERE vec_id % $CentroidEvery = 0
              AND vec_id < ${CentroidEvery * CentroidCap}),
          cells AS (
            SELECT vec_id, cent_id FROM (
              SELECT a.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY ${VectorOps.duckDist2("a.v", "c.cv")} ASC, c.cent_id ASC) AS rn
              FROM vecs a CROSS JOIN cents c)
            WHERE rn = 1),
          ${pqCodesDuck("pqc", "cw0")},
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
                WHERE vec_id < $NQueries),
          probes AS (
            SELECT query_id, cent_id FROM (
              SELECT q.query_id, c.cent_id,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY ${VectorOps.duckDist2("q.qv", "c.cv")} ASC, c.cent_id ASC) AS rn
              FROM q CROSS JOIN cents c)
            WHERE rn <= $NProbe),
          lut AS (
            SELECT q.query_id, c.m, c.code_id,
              CAST(round(${VectorOps.duckDist2(
                s"q.qv[c.m * $PqSubDim + 1 : c.m * $PqSubDim + $PqSubDim]", "c.cw")}, 6)
                AS DECIMAL(18,6)) AS lutd
            FROM q CROSS JOIN cb c),
          adc AS (
            SELECT l.query_id, co.vec_id AS neighbor_id,
              CAST(sum(l.lutd) AS DOUBLE) AS adc
            FROM codes co
            JOIN cells ce ON co.vec_id = ce.vec_id
            JOIN probes p ON ce.cent_id = p.cent_id
            JOIN lut l ON co.m = l.m AND co.code_id = l.code_id
              AND l.query_id = p.query_id
            WHERE co.vec_id <> l.query_id
            GROUP BY l.query_id, co.vec_id),
          $pqShortlistDuck
          rerank AS (
            SELECT s.query_id, s.neighbor_id,
              round(${VectorOps.duckDist2("a.v", "q.qv")}, 6) AS d2
            FROM shortlist s
            JOIN vecs a ON a.vec_id = s.neighbor_id
            JOIN q ON q.query_id = s.query_id),
          ${pqRankedDuck("rerank")}"""

  // ════ MIPS ══════════════════════════════════════════════════════════

  /** Simple-LSH MIPS (Neyshabur & Srebro 2015): with M = max ‖x‖ over
    * the corpus (a 1-row broadcast scalar), x' = [x/M ; √(1−‖x/M‖²)]
    * has unit norm and cos(q', x') ∝ dot(q, x) for q' = [q ; 0], so
    * sign-LSH buckets on x' (65-dim hyperplane literals identical in
    * both engines) with Hamming-1 multi-probe; survivors score by the
    * EXACT raw dot. The bucketed corpus is read once (the probe join),
    * so it is not persisted.
    */
  private def mipsLshTopk(s: SparkSession, dir: String): DataFrame = {
    val all = Corpus.vecs(s, dir)
      .withColumn("nrm", VectorOps.norm(col("v")))
    val mx = all.agg(max(col("nrm")).as("mm"))
    // corpus bucket: sign bits of dot([v/M; ext], h) =
    // dot(v, h[0..63])/M + ext·h[64]
    val bucketCol = (0 until NBits).map { b =>
      val h = MipsHyperplanes(b)
      val head = VectorOps.dot(col("v"), typedLit(h.take(Dim))) / col("mm")
      val ext = sqrt(greatest(
        lit(1.0) - (col("nrm") / col("mm")) * (col("nrm") / col("mm")), lit(0.0)))
      when(head + ext * lit(h(Dim)) >= 0.0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    val bucketed = all.crossJoin(broadcast(mx))
      .withColumn("bucket", bucketCol)
      .transform(Layouts.spread)
    // query bucket: q' = [q; 0] ⇒ sign(dot(q, h[0..63])) — M > 0
    // scales, never flips
    val q = firstIds(Corpus.vecs(s, dir))
      .withColumn("qb", signBucket(MipsHyperplanes.map(_.take(Dim))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(hamming1(col("qb"))).as("bucket"))
    scoredTopk(bucketed.join(broadcast(q), Seq("bucket")), Ip, IvfTopK)
  }

  private def mipsTopkDuckSql: String =
    s"""WITH ${Corpus.vecsDuck},
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
                WHERE vec_id < $NQueries),
          ips AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
              round(${VectorOps.duckDot("a.v", "q.qv")}, 6) AS ip
            FROM vecs a JOIN q ON a.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, ip,
              row_number() OVER (PARTITION BY query_id
                ORDER BY ip DESC, neighbor_id ASC) AS rank
            FROM ips)
        SELECT query_id, rank, neighbor_id, ip FROM ranked
        WHERE rank <= $IvfTopK ORDER BY query_id, rank"""

  private def mipsLshTopkDuckSql: String = {
        def headSql(b: Int) =
          VectorOps.duckDot("v", MipsHyperplanes(b).take(Dim).mkString("[", ", ", "]"))
        val bucketSql = (0 until NBits).map { b =>
          s"""(CASE WHEN ${headSql(b)} / mm
                + sqrt(greatest(1.0 - (nrm / mm) * (nrm / mm), 0.0))
                  * (${MipsHyperplanes(b)(Dim)}) >= 0.0
              THEN ${1 << b} ELSE 0 END)"""
        }.mkString(" + ")
        val qBucketSql = signBucketSql(MipsHyperplanes.map(_.take(Dim)))
        s"""WITH ${Corpus.vecsDuck},
          nv AS (SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM vecs),
          mx AS (SELECT max(nrm) AS mm FROM nv),
          bucketed AS (
            SELECT vec_id, v, $bucketSql AS bucket FROM nv CROSS JOIN mx),
          q AS (
            SELECT vec_id AS query_id, v AS qv,
              unnest(${hamming1Sql("qb")}) AS bucket
            FROM (SELECT vec_id, v, $qBucketSql AS qb FROM vecs
                  WHERE vec_id < $NQueries)),
          ips AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
              round(${VectorOps.duckDot("a.v", "q.qv")}, 6) AS ip
            FROM bucketed a JOIN q ON a.bucket = q.bucket
              AND a.vec_id <> q.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, ip,
              row_number() OVER (PARTITION BY query_id
                ORDER BY ip DESC, neighbor_id ASC) AS rank
            FROM ips)
        SELECT query_id, rank, neighbor_id, ip FROM ranked
        WHERE rank <= $IvfTopK ORDER BY query_id, rank"""
  }

  /** The exact cosine oracle at `k` (sim_brute_topk; the recall
    * audits' cosine truth). */
  private def bruteTopkDuckSql(k: Int): String =
    s"""WITH ${Corpus.nvecsDuck},
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nvecs WHERE vec_id < $NQueries),
        sims AS (
          SELECT q.query_id, a.vec_id AS neighbor_id,
            round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6) AS cosine
          FROM nvecs a JOIN q ON a.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM sims)
      SELECT query_id, rank, neighbor_id, cosine FROM ranked
      WHERE rank <= $k ORDER BY query_id, rank"""

  /** The exact L2 truth of the PQ panel, (query_id, neighbor_id). */
  private def bruteL2DuckSql: String =
    s"""WITH ${Corpus.nvecsDuck},
      q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
            WHERE vec_id < $NQueries),
      d AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
          round(${VectorOps.duckDist2("a.v", "q.qv")}, 6) AS d2
        FROM vecs a JOIN q ON a.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY d2 ASC, neighbor_id ASC) AS rank
        FROM d)
    SELECT query_id, neighbor_id FROM ranked WHERE rank <= $PqTopK"""

  // ════ the index registry ════════════════════════════════════════════

  /** How a registry index is built. */
  sealed trait AnnBuild
  /** Served over a prepared (vec_id, v, nrm) corpus. A `staged` row
    * spreads and persists `Corpus.nvecs`, checkpoints its result and
    * releases the corpus; `sim_index_recall` threads its one prepared
    * corpus through every served index. */
  final case class Served(serve: DataFrame => DataFrame,
      staged: Boolean = true) extends AnnBuild
  /** Built from the fixture directory alone (trained or differently
    * prepared corpora). */
  final case class Standalone(fn: (SparkSession, String) => DataFrame)
      extends AnnBuild

  /** One approximate top-k index: the recall audits' panel label, the
    * declared row's name, the metric and k it approximates, the build,
    * the row's oracle statement (nested verbatim by the audit oracles)
    * and the row's doc.
    */
  private[graft] final case class AnnIndex(label: String, name: String,
      metric: Metric, k: Int, build: AnnBuild, duckSql: String, doc: String)

  /** The spread, persisted (vec_id, v, nrm) corpus a served index reads. */
  private def prepared(s: SparkSession, dir: String): DataFrame =
    Corpus.nvecs(s, dir).transform(Layouts.spread).persist()

  /** Un-materialized served pipeline plus its persisted corpus — the
    * declared row checkpoints and releases; Plans dumps this form. */
  private[graft] def servedPlan(serve: DataFrame => DataFrame,
      s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val corpus = prepared(s, dir)
    (serve(corpus), Seq(corpus))
  }

  /** The declared row of a registry build. */
  private[graft] def declared(build: AnnBuild): (SparkSession, String) => DataFrame =
    build match {
      case Standalone(fn) => fn
      case Served(serve, false) => (s, dir) => serve(Corpus.nvecs(s, dir))
      case Served(serve, true) =>
        (s, dir) => Layouts.materialize(servedPlan(serve, s, dir))
    }

  /** Every approximate top-k index, in the audits' panel order: the
    * cosine@IvfTopK indexes served over one corpus (sim_index_recall's
    * panel), then the indexes of other metrics or k
    * (sim_index_recall_contract's panel).
    */
  private[graft] lazy val Indexes: Seq[AnnIndex] = Seq(

    // ── IVF over sampled-point cells ─────────────────────────────────
    // Every vector posts to its nearest centroid (the "inverted file"),
    // each query probes only its NProbe nearest cells: at 100 TB the
    // assignment is a one-off job and the probe prunes the scan to
    // nprobe/ncentroids of the data.
    AnnIndex("ivf_fixed", "sim_ivf_topk", Cos, IvfTopK,
      Served(all => ivfServe(all, sampledCents(all), lit(NProbe)), staged = false),
      ivfTopkDuckSql, doc = ""),

    // ── IVF with count-derived K and nprobe ──────────────────────────
    AnnIndex("ivf_auto", "sim_ivf_topk_auto", Cos, IvfTopK,
      Served(ivfTopkAutoServe), ivfTopkAutoDuckSql,
      doc = "IVF top-k with K = clamp(ceil(sqrt(n)), 4, 4096) and " +
        "nprobe = ceil(sqrt(K)) derived from a 1-row broadcast count " +
        "(the FAISS sizing rule, in-plan), centroids = an " +
        "id-distribution-free hash-residue sample of ~K vectors: " +
        "sim_ivf_topk's serving pipeline with zero per-dataset width " +
        "retuning."),

    // ── fixed-width sign-LSH ─────────────────────────────────────────
    AnnIndex("lsh", "sim_lsh_topk", Cos, IvfTopK, Served(lshServe),
      lshTopkDuckSql,
      doc = "Sign-LSH bucketing: data-independent ANN index; identical " +
        "hyperplane literals in both engines ⇒ identical buckets."),

    // ── auto-width multi-table serving sign-LSH ──────────────────────
    // The BOUNDED-COST serving form of sim_lsh_topk: candidates per
    // query stay ~tables·(1+bits) at ANY corpus size. sim_index_recall
    // MEASURES what that pruning costs: recall 0.12/0.04/0.00 at
    // ×10/×26/×52 vs the fixed index's 0.16/0.12/0.16, because this
    // corpus's true top-5 neighbors sit at cosine 0.33–0.42 (per-bit
    // sign agreement p ≈ 0.63), where per-table catch decays as p^bits
    // and LSH theory prices recall-preserving scaling at L ~ n^ρ
    // tables with ρ ≈ 0.67 — hundreds of tables by ×52. The measured
    // conclusion (BASELINE.md rounds 18–19): the corpus-appropriate
    // serving index is the Lloyd-TRAINED count-derived IVF
    // (sim_ivf_kmeans_topk_auto — 0.88–1.00 through ×104); sampled
    // cells read 0.24–0.44. This row stays declared so the audit keeps
    // that trade-off measured rather than asserted.
    AnnIndex("lsh_auto", "sim_lsh_topk_auto", Cos, IvfTopK,
      Served(lshTopkAutoServe), lshTopkAutoDuckSql,
      doc = s"Auto-width serving sign-LSH top-k: $LshAutoTables " +
        "independent tables at bits = clamp(ceil(log2 n), 8, 20) " +
        "derived in-plan (signatures computed once at MaxBits and " +
        "masked), radius-1 multiprobe per table, multi-table hits " +
        "collapsed before one top-k rollup. The BOUNDED-COST serving " +
        "form: candidates/query stay ~tables*(1+bits) at any corpus " +
        "size; the V18 audit measures the recall price of that bound " +
        "in this corpus's mid-cosine regime (see BASELINE round 18 — " +
        "the measured conclusion is that IVF, not LSH, is the " +
        "recall-preserving serving index here)."),

    // ── IVF, Lloyd-trained coarse quantizer ──────────────────────────
    // train (KmIters Lloyd rounds) → index (one zero-shuffle assignment
    // pass) → serve (each query ranks the K cell centroids IN-ROW off
    // the broadcast centroid array, probes its nprobe nearest, and the
    // candidate restriction is an EQUI-JOIN). ONE shuffle in the
    // serving path: the per-query top-k rollup. At 100 TB K grows as
    // √n, the centroid array stays a broadcast, and nprobe/K is the
    // recall dial.
    AnnIndex("ivf_kmeans", "sim_ivf_kmeans_topk", Cos, TopK,
      Standalone(ivfKmeansTopk), ivfKmeansTopkDuckSql,
      doc = "IVF ANN with a Lloyd-TRAINED coarse quantizer (FAISS " +
        "IndexIVFFlat recipe): kmeansTrain centroids broadcast, " +
        "zero-shuffle cell posting, in-row nprobe=2 cell ranking, " +
        "equi-join candidate restriction, one top-k rollup shuffle."),

    // ── Lloyd-trained IVF with count-derived K and nprobe ────────────
    // Flat training argmin is O(n·K) per round — fine to the 1024 cap;
    // past it the two-level routing rule (pipe_semdedup_scaled) is the
    // declared assignment path.
    AnnIndex("ivf_kmeans_auto", "sim_ivf_kmeans_topk_auto", Cos, TopK,
      Standalone(ivfKmeansTopkAuto), ivfKmeansTopkAutoDuckSql,
      doc = "Lloyd-trained IVF (FAISS IndexIVFFlat recipe) at K = " +
        "clamp(ceil(sqrt(n)), 4, 1024), nprobe = ceil(sqrt(K)), both " +
        "derived in-plan: the k-agnostic Lloyd rounds over an " +
        "id-layout-free hash-residue init sample; serving identical " +
        "to sim_ivf_kmeans_topk with nprobe a column."),

    // ── product-quantization ANN with asymmetric distance (Jégou'11) ─
    // Vectors are stored as PqM codes (argmin codeword per subspace),
    // queries compute one M×K lookup table of exact subspace distances,
    // and the approximate distance of every vector is M TABLE LOOKUPS.
    // Determinism: per-subspace LUT distances round to 6 dp into
    // DECIMAL(18,6), so the ADC sum is order-free; the encode-side d2
    // compares raw doubles, bit-identical in both engines.
    AnnIndex("pq", "sim_pq_topk", L2, PqTopK, Standalone(pqTopk),
      pqTopkDuckSql,
      doc = "PQ/ADC ANN (Jégou 2011, m=8/k*=256 + re-rank): 8-byte codes, " +
        "zero-shuffle codebook encode, per-query distance LUT broadcast " +
        "onto the code table, ONE rollup shuffle, exact re-rank of the " +
        "bounded shortlist; full vectors touched only for shortlisted ids."),

    // ── IVFPQ: inverted file × product quantization × re-rank ────────
    // ONE rollup shuffle in the serving path (the ADC sum), everything
    // else broadcast or narrow. No-residual variant: classic IVFADC
    // quantizes cell residuals for tighter codes — same plan shape,
    // different codebook input.
    AnnIndex("ivfpq", "sim_ivfpq_topk", L2, PqTopK, Standalone(ivfpqTopk),
      ivfpqTopkDuckSql,
      doc = "IVFPQ serving composition (FAISS IndexIVFPQ shape, " +
        "no-residual variant): coarse cells restrict ADC to nprobe/K of " +
        "the corpus, PQ codes keep the scanned payload at 8 B/vector, " +
        "exact re-rank touches full vectors only for the shortlist; ONE " +
        "rollup shuffle in the serving path."),

    // ── simple-LSH bucketed MIPS (the scale path) ────────────────────
    AnnIndex("mips_lsh", "sim_mips_lsh_topk", Ip, IvfTopK,
      Standalone(mipsLshTopk), mipsLshTopkDuckSql,
      doc = "Simple-LSH MIPS (Neyshabur & Srebro 2015): norm-augmented " +
        "x' = [x/M; sqrt(1-|x/M|^2)] reduces inner product to cosine; " +
        "sign-LSH buckets on the 65-dim space, Hamming-1 multi-probe, " +
        "exact raw-dot scoring on survivors."),
  )

  private[graft] def index(label: String): AnnIndex =
    Indexes.find(_.label == label)
      .getOrElse(sys.error(s"no ANN index labelled $label"))

  /** sim_index_recall's panel: the served indexes with their serve. */
  private[graft] def recallPanel: Seq[(AnnIndex, DataFrame => DataFrame)] =
    Indexes.collect { case i @ AnnIndex(_, _, _, _, Served(serve, _), _, _) =>
      (i, serve) }

  /** sim_index_recall_contract's panel: the standalone indexes. */
  private[graft] def contractPanel: Seq[AnnIndex] =
    Indexes.filter(_.build.isInstanceOf[Standalone])

  /** The exact-truth oracle statement the contract audit nests for a
    * (metric, k), as a (query_id, neighbor_id) subquery. */
  private[graft] def truthDuckSql(m: Metric, k: Int): Option[String] =
    (m, k) match {
      case (Cos, TopK) => Some(s"""(SELECT query_id, neighbor_id FROM
              (${bruteTopkDuckSql(TopK)}) tc)""")
      case (L2, PqTopK) => Some(s"($bruteL2DuckSql)")
      case (Ip, IvfTopK) => Some(s"""(SELECT query_id, neighbor_id FROM
              ($mipsTopkDuckSql) ti)""")
      case _ => None
    }

  // ════ the recall audits ═════════════════════════════════════════════

  /** Recall@IvfTopK of the served indexes vs exact cosine truth (the
    * sim_brute_topk builder cut at IvfTopK), ONE prepared corpus
    * threaded through the truth and every index; the declared row
    * checkpoints the output and releases the corpus. */
  private def indexRecall(s: SparkSession, dir: String): DataFrame = {
    val all = prepared(s, dir)
    // the truth job fills the corpus cache that every index then reads
    val truth = collected(exactTopk(all, firstIds, Cos, IvfTopK))
    Layouts.materialize((recallOf("idx",
      recallPanel.map { case (i, serve) => (i.label, truth, serve(all)) }),
      Seq(all)))
  }

  private def indexRecallDuckSql: String =
    s"""WITH truth_full AS (${bruteTopkDuckSql(IvfTopK)}),
          truth AS (SELECT query_id, neighbor_id FROM truth_full),
          ${recallPanel.map { case (i, _) => s"${i.label} AS (${i.duckSql})" }
            .mkString(",\n          ")},
          approx AS (
            ${recallPanel.map { case (i, _) =>
              s"SELECT '${i.label}' AS idx, query_id, neighbor_id FROM ${i.label}"
            }.mkString("\n            UNION ALL\n            ")}),
          hit AS (
            SELECT x.idx, x.query_id, CAST(count(*) AS BIGINT) AS h
            FROM approx x JOIN truth t
              ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
            GROUP BY x.idx, x.query_id),
          scaffold AS (
            SELECT i.idx, q.query_id, q.t_n
            FROM (${recallPanel.map(_._1.label).zipWithIndex.map {
              case (l, 0) => s"SELECT '$l' AS idx"
              case (l, _) => s"SELECT '$l'"
            }.grouped(2).map(_.mkString(" UNION ALL "))
              .mkString("\n                  UNION ALL ")}) i
            CROSS JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS t_n
                        FROM truth GROUP BY query_id) q)
        SELECT s.idx, s.query_id,
          CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
          CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(s.t_n AS DOUBLE) AS recall
        FROM scaffold s LEFT JOIN hit h
          ON s.idx = h.idx AND s.query_id = h.query_id
        ORDER BY s.idx, s.query_id"""

  /** Recall of the standalone indexes, each against the exact truth of
    * its own metric and k; each (metric, k) truth is computed once. */
  private def indexRecallContract(s: SparkSession, dir: String): DataFrame = {
    val truths = contractPanel.map(i => (i.metric, i.k)).distinct.map {
      case (m, k) => (m, k) -> collected(exactTruth(s, dir, m, k))
    }.toMap
    recallOf("idx", contractPanel.map(i =>
      (i.label, truths((i.metric, i.k)), declared(i.build)(s, dir))))
  }

  private def indexRecallContractDuckSql: String = {
    val panel = contractPanel
    val truthArms = panel.map { i =>
      s"SELECT '${i.label}' AS idx, query_id, neighbor_id FROM t_${i.metric.key}"
    }.mkString("\n            UNION ALL\n            ")
    val approxArms = panel.map { i =>
      s"SELECT '${i.label}' AS idx, query_id, neighbor_id FROM i_${i.label}"
    }.mkString("\n            UNION ALL\n            ")
    val truthCtes = panel.map(i => (i.metric, i.k)).distinct.map { case (m, k) =>
      s"t_${m.key} AS ${truthDuckSql(m, k).get}"
    }.mkString(",\n          ")
    val idxCtes = panel.map { i =>
      s"i_${i.label} AS (SELECT query_id, neighbor_id FROM (${i.duckSql}) s_${i.label})"
    }.mkString(",\n          ")
    s"""WITH $truthCtes,
          $idxCtes,
          truths AS (
            $truthArms),
          approx AS (
            $approxArms),
          tn AS (
            SELECT idx, query_id, CAST(count(*) AS BIGINT) AS t_n
            FROM truths GROUP BY idx, query_id),
          hit AS (
            SELECT t.idx, t.query_id, CAST(count(*) AS BIGINT) AS h
            FROM truths t JOIN approx x
              ON t.idx = x.idx AND t.query_id = x.query_id
              AND t.neighbor_id = x.neighbor_id
            GROUP BY t.idx, t.query_id)
        SELECT n.idx, n.query_id,
          CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
          CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(n.t_n AS DOUBLE) AS recall
        FROM tn n LEFT JOIN hit h
          ON n.idx = h.idx AND n.query_id = h.query_id
        ORDER BY n.idx, n.query_id"""
  }

  // ════ the declared rows ═════════════════════════════════════════════

  /** `Corpus.nvecsDuck` keeping `label` — sim_hard_negatives' oracle. */
  private val labelledVecsDuck =
    s"""vecs AS (
         SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v,
           label
         FROM embeddings),
       nvecs AS (
         SELECT vec_id, v, label, %s AS nrm FROM vecs)"""
      .format(VectorOps.duckNorm("v"))

  lazy val defs: Seq[QueryDef] =
    Indexes.map(i => QueryDef(i.name, declared(i.build), Some(i.duckSql), i.doc)) ++
    Seq(

    // ── exact brute-force cosine top-k ───────────────────────────────
    // The correctness baseline: a broadcast of the (small) query set
    // against one full scan of the corpus, no shuffle except the top-k.
    QueryDef(
      "sim_brute_topk",
      (s, dir) => exactTruth(s, dir, Cos, TopK)
        .orderBy(col("query_id"), col("rank")),
      Some(bruteTopkDuckSql(TopK))),

    // ── brute-force MIPS top-k (exact baseline) ──────────────────────
    QueryDef(
      "sim_mips_topk",
      (s, dir) => exactTruth(s, dir, Ip, IvfTopK)
        .orderBy(col("query_id"), col("rank")),
      Some(mipsTopkDuckSql),
      doc = "Exact MIPS top-k: raw inner product (not cosine — length " +
        "matters), query side broadcast, one corpus scan, " +
        "WindowGroupLimit-pruned per-query top-k."),

    // ── int8 vector quantization (compression for ANN at scale) ──────
    // Normalize to unit length, scale to [-127, 127], round to integers —
    // the standard 4× memory compression before an ANN index. All
    // arithmetic is the shared IEEE recipe (sequential-fold norm, same
    // op order both engines) so the quantized codes are bit-identical;
    // emitted as a joined string because the driver compare can't hash
    // array cells.
    QueryDef(
      "sim_quantize",
      (s, dir) =>
        Corpus.nvecs(s, dir)
          .filter(col("nrm") > 0)
          .select(col("vec_id"),
            expr("array_join(transform(v, x -> cast(cast(round(x / nrm * 127.0, 0) as bigint) as string)), ',')")
              .as("q_str"),
            size(col("v")).cast("bigint").as("dim"))
          .orderBy(col("vec_id")),
      Some(s"""WITH v AS (
          SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v FROM embeddings),
        n AS (
          SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM v)
        SELECT vec_id,
          array_to_string(list_transform(v,
            x -> CAST(CAST(round(x / nrm * 127.0, 0) AS BIGINT) AS VARCHAR)), ',') AS q_str,
          len(v) AS dim
        FROM n WHERE nrm > 0 ORDER BY vec_id""")),

    // ── Lloyd's k-means over the embedding corpus ────────────────────
    // Init = first K vectors, KmIters Lloyd rounds, then the labeled
    // corpus. Per round: ONE zero-shuffle assignment scan (broadcast
    // K-row centroid array; argmin = codegen'd pq_argmin) + ONE groupBy
    // whose partial aggregate ships ≤K rows per task. A cluster that
    // loses all members compacts out (the oracle re-indexes with the
    // same rule; the spec pins all 8 alive on the fixture).
    QueryDef(
      "sim_kmeans",
      (s, dir) => kmeans(s, dir, KmIters),
      Some(kmeansOracle),
      doc = "Lloyd k-means (K=8, 3 rounds, first-K init): zero-shuffle " +
        "broadcast-centroid assignment via codegen'd pq_argmin, exact " +
        "DECIMAL centroid means, one partial-agg exchange per round; " +
        "kmeansUntil(eps) is the convergence-driven twin."),

    // ── Achlioptas ±1 random projection (Johnson-Lindenstrauss) ──────
    // Sign matrix s(k,j) ∈ {±1} from md5 parity of "rp:k:j" — seeded,
    // engine-independent, and generated INSIDE the plan as one
    // broadcast row (16×64 doubles). Projection = native vec_dot(v,
    // sgn[k]) / 4 (1/√16 exact), a ZERO-SHUFFLE narrow pass over the
    // corpus — the only exchange in the plan is the output ORDER BY.
    QueryDef(
      "sim_rp_project",
      (s, dir) => {
        val sgnExpr =
          s"""transform(sequence(0, ${RpDim - 1}), kk ->
                transform(sequence(0, ${Dim - 1}), j ->
                  CASE WHEN ${h60Spark("concat('rp:', cast(kk as string), ':', cast(j as string))")} % 2 = 0
                       THEN cast(1.0 as double) ELSE cast(-1.0 as double) END))"""
        val sgn = Corpus.vecs(s, dir).sparkSession.range(1)
          .select(expr(sgnExpr).as("sgn"))
        Corpus.vecs(s, dir)
          .crossJoin(broadcast(sgn))
          .select(col("vec_id"), col("v"), col("sgn"),
            explode(sequence(lit(0), lit(RpDim - 1))).as("k"))
          .select(col("vec_id"), col("k"),
            round(VectorOps.dot(col("v"), element_at(col("sgn"), col("k") + 1)) / 4, 6)
              .as("proj"))
          .orderBy(col("vec_id"), col("k"))
      },
      Some(s"""WITH ${Corpus.vecsDuck},
          sgn AS (
            SELECT list_transform(range(0, $RpDim), kk ->
              list_transform(range(0, $Dim), j ->
                CASE WHEN ${h60Duck("'rp:' || CAST(kk AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % 2 = 0
                     THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)) AS sgn)
          SELECT vec_id, u.kk AS k,
            round(${VectorOps.duckDot("v", "sgn[u.kk + 1]")} / 4, 6) AS proj
          FROM vecs, sgn, unnest(range(0, $RpDim)) u(kk)
          ORDER BY vec_id, k"""),
      doc = "Achlioptas ±1 JL projection 64→16 dims: hash-seeded sign " +
        "matrix built in-plan as one broadcast row, native vec_dot fold, " +
        "exact ÷4 scale, zero-shuffle narrow corpus pass."),

    // ── DPR-style hard-negative mining (Karpukhin et al. 2020) ───────
    // For each query vector, the top-k most COSINE-SIMILAR vectors
    // whose label DIFFERS. The sim_brute_topk shape with the label
    // predicate pushed into the join condition (the scan never
    // materializes same-label pairs).
    QueryDef(
      "sim_hard_negatives",
      (s, dir) => {
        val all = Corpus.nvecs(s, dir, "label")
        val q = firstIds(all)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qn"), col("label").as("qlabel"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neg_id").asc)
        all.join(broadcast(q),
            col("vec_id") =!= col("query_id") &&
              col("label") =!= col("qlabel"))
          .select(col("query_id"), col("qlabel"),
            col("vec_id").as("neg_id"), col("label").as("neg_label"),
            Cos.value.as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= HnK)
          .select(col("query_id"), col("rank"), col("neg_id"),
            col("qlabel"), col("neg_label"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $labelledVecsDuck,
          q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
                  label AS qlabel
                FROM nvecs WHERE vec_id < $NQueries),
          sims AS (
            SELECT q.query_id, q.qlabel, a.vec_id AS neg_id,
              a.label AS neg_label,
              round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6) AS cosine
            FROM nvecs a JOIN q
              ON a.vec_id <> q.query_id AND a.label <> q.qlabel),
          ranked AS (
            SELECT query_id, qlabel, neg_id, neg_label, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neg_id ASC) AS rank
            FROM sims)
        SELECT query_id, rank, neg_id, qlabel, neg_label, cosine
        FROM ranked WHERE rank <= $HnK
        ORDER BY query_id, rank"""),
      doc = s"DPR-style hard negatives (top-$HnK cosine, different " +
        "label): broadcast query side, label predicate inside the join " +
        "condition (same-label pairs never materialize); LSH/IVF " +
        "candidate restriction composes in front at scale."),

    // ── reciprocal-rank fusion of two ANN indexes ────────────────────
    // RRF (Cormack, Clarke & Buettcher SIGIR 2009): score(d) =
    // Σ_systems 1/(60 + rank_s(d)) — rank-only ensembling, no score
    // calibration. It fuses the data-independent sign-LSH and the
    // clustered IVF paths over their shared query set; both inputs are
    // query-bounded, so the fusion touches k·|q| rows.
    QueryDef(
      "sim_rrf_fusion",
      (s, dir) => {
        val l = declared(index("lsh").build)(s, dir)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("lr"))
        val i = declared(index("ivf_fixed").build)(s, dir)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("ir"))
        topk(l.join(i, Seq("query_id", "neighbor_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("ir")), lit(0.0)), 9)),
          "rrf", IvfTopK)
      },
      Some(s"""WITH lsh AS (${index("lsh").duckSql}),
          ivf AS (${index("ivf_fixed").duckSql}),
          uni AS (
            SELECT coalesce(l.query_id, i.query_id) AS query_id,
              coalesce(l.neighbor_id, i.neighbor_id) AS neighbor_id,
              l.rank AS lr, i.rank AS ir
            FROM lsh l FULL OUTER JOIN ivf i
              ON l.query_id = i.query_id AND l.neighbor_id = i.neighbor_id),
          sc AS (
            SELECT query_id, neighbor_id,
              round(coalesce(1.0 / (60 + lr), 0.0)
                + coalesce(1.0 / (60 + ir), 0.0), 9) AS rrf
            FROM uni),
          rk AS (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC) AS rank
            FROM sc)
        SELECT query_id, rank, neighbor_id, rrf FROM rk
        WHERE rank <= $IvfTopK
        ORDER BY query_id, rank"""),
      doc = "Reciprocal-rank fusion (k=60) of the sign-LSH and IVF ANN " +
        "rankings over the shared query set: rank-only ensembling, no " +
        "score calibration; fusion runs on k·|q| rows regardless of " +
        "corpus size."),

    // ── V18: recall@k of the served indexes vs exact truth ───────────
    // At 100 TB recall evaluation runs exactly this way: a fixed query
    // panel, exact scores for the panel only (never all-pairs), set
    // intersection against the index output.
    QueryDef(
      "sim_index_recall",
      indexRecall,
      Some(indexRecallDuckSql),
      doc = "Recall@k of the four IvfTopK-contract ANN indexes " +
        "(fixed-knob IVF, count-derived IVF, fixed sign-LSH, " +
        "auto-width multi-table sign-LSH) vs exact truth (same " +
        "tiebreak), denominator = the per-query truth count computed " +
        "in-plan: the measured index-quality number the auto-width " +
        "rules are accountable to — fixed query panel, exact scores " +
        "for the panel only, set intersection against each index's " +
        "top-k."),

    // ── V20: measured recall of the k=10/k=5 contract indexes ────────
    // Every approximate row ships its recall twin (SURVEY §5 note 16):
    // the indexes outside the cosine@IvfTopK panel, each against the
    // exact truth of its own metric and k. Both sides come from the
    // registry, so the audit cannot measure a drifted copy.
    QueryDef(
      "sim_index_recall_contract",
      indexRecallContract,
      Some(indexRecallContractDuckSql),
      doc = "Measured recall of the five contract ANN indexes outside " +
        "the IvfTopK=5 cosine panel — Lloyd-IVF and its count-derived " +
        "twin (cosine@10, truth = sim_brute_topk), PQ and IVFPQ " +
        "(L2@5), simple-LSH MIPS (inner-product@5, truth = " +
        "sim_mips_topk) — each against the exact truth of its own " +
        "metric, per query, denominator = the in-plan truth count; " +
        "the declared rows' own fn and named-val oracles are reused " +
        "verbatim so the audit cannot drift from what it measures."),
  )
}
