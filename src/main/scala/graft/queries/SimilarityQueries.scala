package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over `embeddings(vec_id, embedding array<float>)`.
  *
  * Two declared paths:
  *  - `sim_brute_topk` — exact cosine top-k, the correctness baseline.
  *    At scale this is a broadcast of the (small) query set against a
  *    full scan of the corpus: one pass, no shuffle except the top-k.
  *  - `sim_ivf_topk` — IVF-style ANN: assign every vector to its nearest
  *    centroid (the "inverted file"), probe only the `NProbe` centroids
  *    nearest to each query. At 100 TB the assignment is a one-off
  *    clustering job and the probe prunes the scan to nprobe/ncentroids
  *    of the data — the same partition-pruning shape Spark applies to
  *    partitioned tables.
  */
object SimilarityQueries {

  val TopK = 10
  val IvfTopK = 5
  val NProbe = 4 // probe 4 of the (≤64) cells — recall@5 0.36 → 0.56 on the fixture
  val CentroidEvery = 25 // vec_id % 25 == 0 → deterministic centroid set
  // Cap the centroid count: centroids come from the first CentroidEvery ×
  // CentroidCap ids (≙ k-means trained on a fixed sample). Without the cap
  // the centroid count grows with the corpus and the assignment step turns
  // O(n²/CentroidEvery) — measured superlinear in ScaleProbe (1.1 s → 12.5 s
  // at ×10). With it, assignment is O(n·C): 12.5 s → ~2 s at ×10.
  val CentroidCap = 64
  val NQueries = 5 // vec_id < 5 are the query vectors

  // ── random-hyperplane LSH constants ────────────────────────────────
  // NBits sign-bits → 2^NBits buckets. Hyperplane components are a pure
  // arithmetic sequence (no RNG), computed once here and interpolated
  // VERBATIM into both the Spark plan and the oracle SQL — identical
  // doubles ⇒ identical dot signs ⇒ identical buckets in both engines.
  val NBits = 8
  val Dim = 64

  /** Deterministic 64-bit mix (splitmix64 finalizer, Vigna — public
    * domain): the hyperplane component source. Unsigned-remainder at
    * the end so the [0, 1009) range matches an unsigned interpretation
    * of the mixed word.
    */
  private[queries] def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Table `t` of the hyperplane family: table 0 is the sim_lsh_topk
    * index; higher tables are the extra independent sign-LSH tables the
    * bucketed dedup path (DedupQueries.dedup_embedding_ann) unions for
    * recall. The `bits` overload serves the width-scaled dedup variant
    * (signature width ~ log2(corpus) keeps bucket load constant at
    * scale). Components are still pure arithmetic (no RNG, identical
    * doubles interpolated into both engines' plans) but now come from
    * a full 64-bit MIX of the plane/coordinate index instead of one
    * shared arithmetic progression mod 1009.
    *
    * Why the mix (round 18): the original family h(k) = (2654435761·k
    * mod 1009) made every plane a segment of ONE progression — planes
    * within a table measured pairwise |cos| up to 0.82 (mean 0.35),
    * which skews the sign-pattern prior: the hottest masked bucket
    * carried ~1% of ANY corpus (300× uniform at 15 bits, reproduced
    * on synthetic random vectors at the exact bucket id the ×104
    * composition probe flagged), Σp² decayed ~0.8×/extra bit instead
    * of 0.5×, and the "linear at the width rule" candidate volume
    * kept a slowly-decaying quadratic term — the round-17b "max load
    * ∝ m" open diagnostic, fully attributed. The mixed family measures
    * mean pairwise |cos| 0.108 ≈ the 1/√64 random-plane floor, max
    * prior 23× lower, Σp² at the random-plane floor (~2× uniform) —
    * restoring the width rule's actually-linear candidate volume.
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

  /** Shared IVF serving pipeline (one definition for the fixed-knob
    * sim_ivf_topk and the round-17 count-derived sim_ivf_topk_auto —
    * the firstSurvivors anti-drift discipline): exact-L2 argmin
    * assignment over a broadcast centroid table (deterministic
    * (d2, cent_id) tiebreak), per-query `nprobe` nearest cells, plain
    * equi-join candidate restriction, one WindowGroupLimit-pruned
    * top-IvfTopK rollup. `all` must carry (vec_id, v, nrm) plus
    * whatever column `nprobe` references; `cents` is (cent_id, cv).
    */
  private[queries] def ivfServe(all: DataFrame, cents: DataFrame,
      nprobe: org.apache.spark.sql.Column): DataFrame = {
    // inverted file: every vector → nearest centroid (exact L2,
    // deterministic tiebreak on cent_id). Centroids broadcast.
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cent_id").asc)
    val assign = all.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        VectorOps.dist2(col("v"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"))

    // probe: each query searches only its nprobe nearest centroids.
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), nprobe.as("npr_"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("cent_id").asc)
    val probes = q.join(broadcast(cents), lit(true))
      .select(col("query_id"), col("qv"), col("qn"), col("npr_"),
        col("cent_id"),
        VectorOps.dist2(col("qv"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= col("npr_"))
      .select(col("query_id"), col("qv"), col("qn"), col("cent_id"))

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assign, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The matching DuckDB serving tail over a prepared `cents` CTE
    * (cent_id, cv) with `nvecs` in scope — `nprobeSql` is a literal for
    * the fixed row, a scalar subquery for the auto row.
    */
  private[queries] def ivfServeDuckSql(prefixCtes: String,
      nprobeSql: String): String =
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

  /** Sign-LSH top-k pipeline (one definition for the declared
    * sim_lsh_topk and the round-17b recall audit). bucket =
    * Σ 2^b · [dot(v, h_b) ≥ 0]: one narrow pass over the corpus
    * (native vec_dot against literal hyperplanes), then the probe is
    * an equi-join on the bucket — the same partition-pruning shape as
    * IVF but with a data-independent index (no clustering job), which
    * is what you want when the corpus churns faster than you can
    * recluster. Multi-probe: each query also probes the NBits buckets
    * at Hamming distance 1 (one sign bit flipped) — the standard fix
    * for sign-LSH's near-empty-bucket recall collapse when
    * 2^NBits ≫ corpus/bucket density. Probe count (1 + NBits) is
    * independent of corpus size, so the scan stays pruned.
    *
    * Returns (pipeline, persisted corpus); the declared row returns
    * the pipeline directly (Verify/Bench clear the cache per query),
    * the recall row threads ONE shared persisted corpus through every
    * index builder via [[lshServe]] instead (round-17 advice: three
    * builders each caching a private corpus copy is redundant cache
    * pressure at scale).
    */
  private[queries] def lshServe(corpus: DataFrame): DataFrame = {
    val bucketCol = (0 until NBits).map { b =>
      when(VectorOps.dot(col("v"), typedLit(Hyperplanes(b))) >= 0.0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    // narrow over the (caller-persisted) corpus: re-evaluating the
    // bucket per consumer costs NBits cached-read dot products, never
    // a rescan
    val all = corpus.withColumn("bucket", bucketCol)
    val probeCol = array(
      (col("bucket") +: (0 until NBits).map(b =>
        col("bucket").bitwiseXOR(lit(1 << b)))): _*)
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probeCol).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    all.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private[queries] def lshTopkPlan(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpus = Corpus.nvecs(s, dir)
      .transform(graft.operators.Layouts.spread)
      .persist()
    (lshServe(corpus), corpus)
  }

  /** The sign-LSH oracle, a named val for the same anti-drift reuse. */
  private[queries] val lshTopkDuckSql: String = {
    val bucketSql = (0 until NBits).map { b =>
      val lits = Hyperplanes(b).mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${Corpus.nvecsDuck},
      bucketed AS (
        SELECT vec_id, v, nrm, $bucketSql AS bucket FROM nvecs),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
              unnest(${(0 to NBits).map {
                case 0 => "bucket"
                case b => s"xor(bucket, ${1 << (b - 1)})"
              }.mkString("[", ", ", "]")}) AS bucket
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

  /** The fixed-knob IVF oracle, a named val so the round-17b recall row
    * nests the IDENTICAL statement (anti-drift: one definition).
    */
  private[queries] val ivfTopkDuckSql: String = ivfServeDuckSql(
    s"""${Corpus.nvecsDuck},
      cents AS (
        SELECT vec_id AS cent_id, v AS cv FROM nvecs
        WHERE vec_id % $CentroidEvery = 0
          AND vec_id < ${CentroidEvery * CentroidCap})""",
    NProbe.toString)

  /** Exact brute-force cosine top-k over a prepared corpus — ONE
    * definition for the declared sim_brute_topk (k = TopK) and the
    * round-17b recall audit's truth (k = IvfTopK): query side is tiny
    * → broadcast; corpus side is one scan; (cosine desc, id asc)
    * tiebreak so ties can't blur downstream set comparisons.
    */
  private[queries] def bruteTopk(all: DataFrame, k: Int): DataFrame = {
    val q = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The matching parameterized oracle (same single definition rule). */
  private[queries] def bruteTopkDuckSql(k: Int): String =
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

  val defs: Seq[QueryDef] = Seq(

    // ── exact brute-force cosine top-k ───────────────────────────────
    QueryDef(
      "sim_brute_topk",
      (s, dir) => bruteTopk(Corpus.nvecs(s, dir), TopK),
      Some(bruteTopkDuckSql(TopK))),

    // ── LSH-bucketed approximate top-k (random hyperplane signs) ─────
    QueryDef(
      "sim_lsh_topk",
      (s, dir) => lshTopkPlan(s, dir)._1,
      Some(lshTopkDuckSql),
      doc = "Sign-LSH bucketing: data-independent ANN index; identical " +
        "hyperplane literals in both engines ⇒ identical buckets."),

    // ── IVF-bucketed approximate top-k ───────────────────────────────
    QueryDef(
      "sim_ivf_topk",
      (s, dir) => {
        val all = Corpus.nvecs(s, dir)
        // inverted file over sampled-point centroids (fixed stride/cap);
        // serving runs through the shared ivfServe builder — the
        // round-17 auto-width twin is the identical pipeline with
        // count-derived knobs, so the two rows cannot drift
        val cents = all.filter(col("vec_id") % CentroidEvery === 0 &&
            col("vec_id") < CentroidEvery * CentroidCap)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        ivfServe(all, cents, lit(NProbe))
      },
      Some(ivfTopkDuckSql)),

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
        FROM n WHERE nrm > 0 ORDER BY vec_id"""))
  )
}
