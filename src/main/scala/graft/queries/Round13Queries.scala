package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Round-13 batch: sequential monitoring, corpus statistics, privacy,
  * and semantic clusters —
  *
  *  - CUSUM change-point detection (Page 1954), global- and
  *    trailing-baseline forms. The recursion S_t = max(0, S_{t-1}+y_t)
  *    is evaluated CLOSED-FORM via the Lindley/reflection identity
  *    S_t = C_t − min(0, min_{j≤t} C_j) — two window passes, no
  *    iteration, exact DECIMAL cumsums;
  *  - ZIPF-LAW fit (slope + R² of the log-log rank/frequency line) per
  *    language — the corpus-health diagnostic next to text_ngram_freq;
  *  - LOG-ODDS-RATIO with an informative Dirichlet prior (Monroe,
  *    Colaresi & Quinn 2008): the z-scored keyword comparison of one
  *    source against the rest of the corpus;
  *  - l-DIVERSITY audit (Machanavajjhala et al. 2007): distinct
  *    sensitive values per quasi-identifier cell — the release check
  *    k-anonymity misses (a cell can hold ≥ k rows all from one user);
  *  - SEMANTIC CLUSTERS: τ-edges of the sign-LSH kNN graph
  *    (KnnGraphQueries) resolved by the shared CC operator.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object Round13Queries {

  import AnnQueries.NBits
  import KnnGraphQueries.{KnnK, declared, knnDuckCtes, lshGraph}

  /** CUSUM reference value k (in σ units) and decision threshold h. */
  val CusumK = 0.5
  val CusumH = 4.0

  /** l-diversity threshold: a QI cell needs ≥ L distinct users. */
  val LDiversity = 3

  /** Monroe-prior total pseudo-count and report size. */
  val OddsAlpha0 = 500.0
  val OddsMinCount = 10
  val OddsTopK = 25

  /** Cosine threshold for semantic-cluster edges (2σ of the fixture's
    * near-random cosine distribution — the pipe_decontaminate_semantic
    * calibration).
    */
  val SemClusterTau = 0.25

  /** Heaps-law prefix snapshot count. */
  val HeapsCuts = 10

  /** Shared hourly (event_type, ws, n) rollup — the ev_rate_anomaly
    * series (one map-side-combinable shuffle collapses the corpus;
    * everything downstream is |types|·|hours|-sized).
    */
  private def hourlyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  private val hourlyDuck =
    """counts AS (
         SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
           count(*) AS n
         FROM events GROUP BY 1, 2)"""

  /** CUSUM closed form over a per-type y series: C = cumsum(y),
    * S = C − min(0, min-prefix(C)) — the Lindley recursion
    * S_t = max(0, S_{t-1} + y_t) without iteration. `y` must be an
    * exact DECIMAL(28,9) column so both cumulative windows are exact
    * integer arithmetic; the one double appears in the final display
    * cast.
    */
  private def cusumCols(df: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(col("event_type")).orderBy(col("ws"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("cs", sum(col("y")).over(wAll))
      .withColumn("mn", least(min(col("cs")).over(wAll),
        lit(BigDecimal(0)).cast(DecimalType(38, 9))))
      // subtract at DECIMAL(30,9): a (38,9)−(38,9) difference needs
      // precision 39, and Spark's precision-loss rule would silently
      // round the result to scale 8 — the narrower operands keep the
      // exact 9-dp value (|C| is bounded by #buckets·|y|, nowhere near
      // 10^21), and match DuckDB's scale-preserving subtraction
      .withColumn("cusum", round((col("cs").cast(DecimalType(30, 9))
        - col("mn").cast(DecimalType(30, 9))).cast(DoubleType), 6))
      .withColumn("is_alarm", col("cusum") > CusumH)
  }

  /** kNN graph → τ-edges → connected components, width-parameterized —
    * shared by sim_semantic_clusters (fixture 8-bit index) and
    * sim_semantic_clusters_scaled (bits = KnnScaledBits, the log2-n
    * production width). The cluster stage is identical either way: the
    * bits parameter only changes which kNN build feeds it — and with it
    * whether candidate volume stays ~n·k as the corpus grows.
    */
  private[queries] def semanticClusters(s: SparkSession, dir: String,
      bits: Int = NBits): DataFrame =
    clusterStage(s, dir, declared(lshGraph(bits)(_))(s, dir))

  /** τ-edges → shared CC → singleton fill over ANY materialized kNN
    * graph (vec_id, rank, neighbor_id, cosine) — the stage every
    * sim_semantic_clusters variant shares; only the kNN build feeding
    * it changes (8-bit fixture, 12-bit scaled, round-16 auto width).
    */
  private[queries] def clusterStage(s: SparkSession, dir: String,
      knnGraph: DataFrame): DataFrame = {
    val knn = knnGraph
      .filter(col("cosine") >= SemClusterTau)
      .select(col("vec_id"), col("neighbor_id"))
    val labels = graft.operators.ConnectedComponents.run(knn)
    val all = Corpus.nvecs(s, dir).select(col("vec_id"))
    val wc = Window.partitionBy(col("cluster_id"))
    all
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .select(col("cluster_id"), col("vec_id"), col("cluster_size"))
      .orderBy(col("cluster_id"), col("vec_id"))
  }

  /** Canonical undirected τ-edge projection of a materialized kNN graph
    * (vec_id, rank, neighbor_id, cosine): exactly the edge set
    * `clusterStage` resolves with CC, as (least, greatest) pairs. The
    * cosine is direction-independent (same rounded expression both
    * ways), so the max() is a dedup, not a choice. These edge rows are
    * the HASH-GREEN half of the semantic-cluster oracle split (SURVEY
    * §5 note 14): the closure itself is replayed by a Scala union-find
    * in the specs, because DuckDB's recursive-CTE reachability is
    * quadratic in cluster size (measured 117–351 s PER VARIANT at
    * sf0.01 — it was the round-16 gate's timeout).
    */
  private[queries] def tauEdges(knnGraph: DataFrame): DataFrame =
    knnGraph
      .filter(col("cosine") >= SemClusterTau)
      .select(least(col("vec_id"), col("neighbor_id")).as("vec_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("vec_b"),
        col("cosine"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cosine")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** τ-edge oracle over ANY kNN CTE chain ending in `ranked` — the
    * non-recursive replacement for the retired reachability-closure
    * oracle (shared by the fixture, scaled, and auto-width variants).
    */
  private[graft] def tauEdgesSqlOver(knnCtes: String): String =
    s"""WITH $knnCtes,
        knn AS (
          SELECT query_id, neighbor_id, cosine FROM ranked
          WHERE rank <= $KnnK AND cosine >= $SemClusterTau)
      SELECT least(query_id, neighbor_id) AS vec_a,
        greatest(query_id, neighbor_id) AS vec_b,
        max(cosine) AS cosine
      FROM knn GROUP BY 1, 2 ORDER BY 1, 2"""

  /** The τ-edge oracle at a given signature width. */
  private[queries] def tauEdgesSql(bits: Int = NBits): String =
    tauEdgesSqlOver(knnDuckCtes(bits))

  val defs: Seq[QueryDef] = Seq(

    // ── CUSUM change-point, global baseline (Page 1954) ──────────────
    // Standardize each type's hourly counts against the type's WHOLE
    // series (exact integer s1/s2 → μ, σ), y = z − k, then the
    // reflection closed form — a drift in the level makes S ramp where
    // a z-threshold (ev_rate_anomaly) only fires on single-bucket
    // spikes. Everything after the one (type, hour) rollup is
    // aggregated-series-sized; the two stacked windows run on the SAME
    // (event_type, ws)-sorted partitioning — one sort, no extra
    // exchange.
    QueryDef(
      "ev_cusum",
      (s, dir) => {
        val wTyp = Window.partitionBy(col("event_type"))
        val st = hourlyCounts(s, dir)
          .withColumn("tn", count(lit(1)).over(wTyp))
          .withColumn("s1", sum(col("n")).over(wTyp))
          .withColumn("s2", sum(col("n") * col("n")).over(wTyp))
          .withColumn("mu", col("s1").cast(DoubleType) / col("tn"))
          .withColumn("va", expr(
            "CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1) ELSE 0.0 END"))
          .withColumn("y", expr(
            s"CAST(round(CASE WHEN tn >= 3 AND va > 0 " +
              s"THEN (n - mu) / sqrt(va) - $CusumK ELSE 0.0 END, 9) AS DECIMAL(28,9))"))
        cusumCols(st)
          .select(col("ws"), col("event_type"), col("n"), col("cusum"),
            col("is_alarm"))
          .orderBy(col("event_type"), col("ws"))
      },
      Some(s"""WITH $hourlyDuck,
          st AS (
            SELECT ws, event_type, n,
              count(*) OVER t AS tn,
              sum(n) OVER t AS s1,
              sum(n * n) OVER t AS s2
            FROM counts
            WINDOW t AS (PARTITION BY event_type)),
          ys AS (
            SELECT ws, event_type, n,
              CAST(round(CASE WHEN tn >= 3 AND
                  (CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1) ELSE 0.0 END) > 0
                THEN (n - CAST(s1 AS DOUBLE) / tn) /
                  sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1)) - $CusumK
                ELSE 0.0 END, 9) AS DECIMAL(28,9)) AS y
            FROM st),
          cum AS (
            SELECT ws, event_type, n,
              sum(y) OVER w AS cs
            FROM ys
            WINDOW w AS (PARTITION BY event_type ORDER BY ws
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          refl AS (
            SELECT ws, event_type, n, cs,
              least(min(cs) OVER w, CAST(0 AS DECIMAL(38,9))) AS mn
            FROM cum
            WINDOW w AS (PARTITION BY event_type ORDER BY ws
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT ws, event_type, n,
            round(CAST(CAST(cs AS DECIMAL(30,9)) - CAST(mn AS DECIMAL(30,9)) AS DOUBLE), 6) AS cusum,
            round(CAST(CAST(cs AS DECIMAL(30,9)) - CAST(mn AS DECIMAL(30,9)) AS DOUBLE), 6) > $CusumH AS is_alarm
          FROM refl
          ORDER BY event_type, ws"""),
      doc = "One-sided CUSUM (Page 1954) on hourly event rates, global " +
        "baseline: S_t = max(0, S_{t-1} + z_t - k) evaluated closed-form " +
        "as C_t - min(0, prefix-min C) — two exact-DECIMAL window passes " +
        "over the aggregated series, no iteration."),

    // ── CUSUM, trailing baseline — the streaming twin's semantics ────
    // Same closed form, but z standardizes against the trailing ≤ 6
    // OBSERVED buckets (the ev_rate_anomaly frame), which is the state
    // an ONLINE monitor can actually hold: graft.streaming.CusumStream
    // replays exactly this arithmetic per closed bucket
    // (StreamingCusumConvergenceSpec pins stream ≡ these rows minus
    // each type's still-open last bucket).
    QueryDef(
      "ev_cusum_trailing",
      (s, dir) => {
        val wTrail = Window.partitionBy(col("event_type")).orderBy(col("ws"))
          .rowsBetween(-6, -1)
        val st = hourlyCounts(s, dir)
          .withColumn("tn", count(col("n")).over(wTrail))
          .withColumn("s1", sum(col("n")).over(wTrail))
          .withColumn("s2", sum(col("n") * col("n")).over(wTrail))
          .withColumn("mu", col("s1").cast(DoubleType) / col("tn"))
          .withColumn("va", expr(
            "CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1) ELSE 0.0 END"))
          .withColumn("y", expr(
            s"CAST(round(CASE WHEN tn >= 3 AND va > 0 " +
              s"THEN (n - mu) / sqrt(va) - $CusumK ELSE 0.0 END, 9) AS DECIMAL(28,9))"))
        cusumCols(st)
          .select(col("ws"), col("event_type"), col("n"), col("cusum"),
            col("is_alarm"))
          .orderBy(col("event_type"), col("ws"))
      },
      Some(s"""WITH $hourlyDuck,
          st AS (
            SELECT ws, event_type, n,
              count(n) OVER t AS tn,
              sum(n) OVER t AS s1,
              sum(n * n) OVER t AS s2
            FROM counts
            WINDOW t AS (PARTITION BY event_type ORDER BY ws
              ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
          ys AS (
            SELECT ws, event_type, n,
              CAST(round(CASE WHEN tn >= 3 AND
                  (CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1) ELSE 0.0 END) > 0
                THEN (n - CAST(s1 AS DOUBLE) / tn) /
                  sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1)) - $CusumK
                ELSE 0.0 END, 9) AS DECIMAL(28,9)) AS y
            FROM st),
          cum AS (
            SELECT ws, event_type, n,
              sum(y) OVER w AS cs
            FROM ys
            WINDOW w AS (PARTITION BY event_type ORDER BY ws
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          refl AS (
            SELECT ws, event_type, n, cs,
              least(min(cs) OVER w, CAST(0 AS DECIMAL(38,9))) AS mn
            FROM cum
            WINDOW w AS (PARTITION BY event_type ORDER BY ws
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT ws, event_type, n,
            round(CAST(CAST(cs AS DECIMAL(30,9)) - CAST(mn AS DECIMAL(30,9)) AS DOUBLE), 6) AS cusum,
            round(CAST(CAST(cs AS DECIMAL(30,9)) - CAST(mn AS DECIMAL(30,9)) AS DOUBLE), 6) > $CusumH AS is_alarm
          FROM refl
          ORDER BY event_type, ws"""),
      doc = "Trailing-baseline CUSUM: z against the trailing <= 6 " +
        "observed buckets (the state an online monitor holds), same " +
        "reflection closed form; batch twin of streaming CusumStream."),

    // ── Zipf-law fit per language (Zipf 1949) ────────────────────────
    // slope/R² of ln(freq) ~ ln(rank) over the per-language vocabulary:
    // natural text sits near slope −1; a corpus whose slope drifts flat
    // (templated/boilerplate text) or steep (tiny vocab) fails the
    // health check. One token-count shuffle (vocab-sized output), one
    // per-language rank window over the VOCAB (Heaps-bounded, not the
    // corpus), then exact DECIMAL sums of 9-dp-rounded log terms — the
    // regression scalars are bit-reproducible at any partitioning;
    // doubles appear only in the final slope/R² display math.
    QueryDef(
      "text_zipf_fit",
      (s, dir) => {
        val wRank = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("tok").asc)
        val terms = Corpus.tok(s, dir, "lang", "source")
          .groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(wRank))
          .withColumn("x", expr("ln(CAST(rnk AS DOUBLE))"))
          .withColumn("yv", expr("ln(CAST(cnt AS DOUBLE))"))
          .select(col("lang"),
            expr("CAST(round(x, 9) AS DECIMAL(28,9))").as("xr"),
            expr("CAST(round(yv, 9) AS DECIMAL(28,9))").as("yr"),
            expr("CAST(round(x * x, 9) AS DECIMAL(28,9))").as("xx"),
            expr("CAST(round(x * yv, 9) AS DECIMAL(28,9))").as("xy"),
            expr("CAST(round(yv * yv, 9) AS DECIMAL(28,9))").as("yy"))
        terms
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_terms"),
            sum(col("xr")).as("sx"), sum(col("yr")).as("sy"),
            sum(col("xx")).as("sxx"), sum(col("xy")).as("sxy"),
            sum(col("yy")).as("syy"))
          .withColumn("slope", round(expr(
            """(n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""), 6))
          .withColumn("r2", round(expr(
            """((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / ((n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (n_terms * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""), 6))
          .select(col("lang"), col("n_terms"), col("slope"), col("r2"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH cnts AS (
          SELECT lang, tok, count(*) AS cnt FROM ${Corpus.tokDuck("lang", "source")}
          GROUP BY lang, tok),
        ranked AS (
          SELECT lang, cnt,
            row_number() OVER (PARTITION BY lang
              ORDER BY cnt DESC, tok ASC) AS rnk
          FROM cnts),
        terms AS (
          SELECT lang,
            CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xr,
            CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(28,9)) AS yr,
            CAST(round(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xx,
            CAST(round(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xy,
            CAST(round(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(28,9)) AS yy
          FROM ranked),
        agg AS (
          SELECT lang, count(*) AS n_terms,
            sum(xr) AS sx, sum(yr) AS sy,
            sum(xx) AS sxx, sum(xy) AS sxy, sum(yy) AS syy
          FROM terms GROUP BY lang)
        SELECT lang, n_terms,
          round((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
          round(((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
            / ((n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (n_terms * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
        FROM agg
        ORDER BY lang"""),
      doc = "Zipf-law fit per language: OLS slope + R^2 of ln(freq) ~ " +
        "ln(rank) over the vocabulary; one vocab-sized count shuffle, " +
        "rank window over the vocab, exact-DECIMAL regression scalars."),

    // ── log-odds-ratio keywords, informative Dirichlet prior ─────────
    // Monroe, Colaresi & Quinn 2008 "Fightin' Words": which tokens mark
    // the (lexicographically first) source vs the rest of the corpus?
    // δ_w = ln((y_aw+α_w)/(n_a+α₀−y_aw−α_w)) − ln_b(...), σ² ≈
    // 1/(y_aw+α_w) + 1/(y_bw+α_w), z = δ/σ — the prior shrinks rare
    // words toward zero, the classic fix for raw log-odds exploding on
    // hapax terms. Shape: one vocab-sized token-count shuffle with a
    // conditional split (no second corpus pass), scalar totals
    // broadcast, TakeOrdered top-k.
    // Scope note (like the IVFPQ no-residual note): the prior totals
    // na/nb/nt are computed over the min-count-FILTERED vocabulary, not
    // the full corpus token totals of Monroe et al. — the α_w shrinkage
    // weights shift accordingly (identically in both engines and in the
    // spec replay); computing totals before the HAVING filter would be
    // the paper-literal form.
    QueryDef(
      "text_odds_ratio",
      (s, dir) => {
        val tk = Corpus.tok(s, dir, "lang", "source")
        val aSrc = broadcast(tk.agg(min(col("source")).as("a_src")))
        val cnts = tk.crossJoin(aSrc)
          .groupBy(col("tok"))
          .agg(
            sum(when(col("source") === col("a_src"), 1L).otherwise(0L)).as("cnt_a"),
            sum(when(col("source") =!= col("a_src"), 1L).otherwise(0L)).as("cnt_b"))
          .filter(col("cnt_a") + col("cnt_b") >= OddsMinCount)
        val tots = broadcast(cnts.agg(
          sum(col("cnt_a")).as("na"), sum(col("cnt_b")).as("nb"),
          sum(col("cnt_a") + col("cnt_b")).as("nt")))
        // CAST the prior literal to DOUBLE explicitly: a bare `500.0`
        // parses as DECIMAL in both engines and their decimal-division
        // scale rules differ — all prior math must be IEEE doubles
        cnts.crossJoin(tots)
          .withColumn("aw", expr(
            s"CAST($OddsAlpha0 AS DOUBLE) * (cnt_a + cnt_b) / nt"))
          .withColumn("delta", expr(
            s"""ln((cnt_a + aw) / (na + CAST($OddsAlpha0 AS DOUBLE) - cnt_a - aw))
               - ln((cnt_b + aw) / (nb + CAST($OddsAlpha0 AS DOUBLE) - cnt_b - aw))"""))
          .withColumn("z", round(
            expr("delta / sqrt(1.0 / (cnt_a + aw) + 1.0 / (cnt_b + aw))"), 6))
          .select(col("tok"), col("cnt_a"), col("cnt_b"),
            round(col("delta"), 6).as("delta"), col("z"))
          .orderBy(abs(col("z")).desc, col("tok").asc)
          .limit(OddsTopK)
      },
      Some(s"""WITH tk AS (SELECT * FROM ${Corpus.tokDuck("lang", "source")}),
          asrc AS (SELECT min(source) AS a_src FROM tk),
          cnts AS (
            SELECT tok,
              sum(CASE WHEN source = a_src THEN 1 ELSE 0 END) AS cnt_a,
              sum(CASE WHEN source <> a_src THEN 1 ELSE 0 END) AS cnt_b
            FROM tk CROSS JOIN asrc
            GROUP BY tok
            HAVING sum(CASE WHEN source = a_src THEN 1 ELSE 0 END)
                 + sum(CASE WHEN source <> a_src THEN 1 ELSE 0 END) >= $OddsMinCount),
          tots AS (
            SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb,
              sum(cnt_a + cnt_b) AS nt
            FROM cnts),
          aws AS (
            SELECT tok, cnt_a, cnt_b, na, nb,
              CAST($OddsAlpha0 AS DOUBLE) * (cnt_a + cnt_b) / nt AS aw
            FROM cnts CROSS JOIN tots),
          scored AS (
            SELECT tok, cnt_a, cnt_b, aw,
              ln((cnt_a + aw) / (na + CAST($OddsAlpha0 AS DOUBLE) - cnt_a - aw))
                - ln((cnt_b + aw) / (nb + CAST($OddsAlpha0 AS DOUBLE) - cnt_b - aw)) AS delta
            FROM aws)
          SELECT tok, CAST(cnt_a AS BIGINT) AS cnt_a,
            CAST(cnt_b AS BIGINT) AS cnt_b, round(delta, 6) AS delta,
            round(delta / sqrt(1.0 / (cnt_a + aw) + 1.0 / (cnt_b + aw)), 6) AS z
          FROM scored
          ORDER BY abs(round(delta / sqrt(1.0 / (cnt_a + aw) + 1.0 / (cnt_b + aw)), 6)) DESC, tok ASC
          LIMIT $OddsTopK"""),
      doc = "Monroe 2008 log-odds-ratio with informative Dirichlet " +
        "prior: z-scored keyword markers of the first source vs the " +
        "rest; one conditional-split vocab shuffle, broadcast scalars, " +
        "TakeOrdered top-k."),

    // ── l-diversity audit (Machanavajjhala et al. 2007) ──────────────
    // The release check k-anonymity misses: an (event_type, day) cell
    // can hold ≥ k rows that all belong to ONE user — row count is no
    // privacy. Distinct l-diversity counts distinct sensitive values
    // (user_id) per QI cell; the dominant-user share adds the
    // frequency-based (c,l) lens. Two stacked map-side-combinable
    // rollups; output is |types|·|days|-bounded.
    QueryDef(
      "pipe_l_diversity",
      (s, dir) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"),
            col("user_id"))
          .agg(count(lit(1)).as("c"))
        perUser
          .groupBy(col("event_type"), col("day"))
          .agg(
            sum(col("c")).as("n_events"),
            count(lit(1)).as("n_users"),
            round(max(col("c")).cast(DoubleType) / sum(col("c")), 6)
              .as("max_user_share"))
          .withColumn("l_diverse", col("n_users") >= LDiversity)
          .orderBy(col("event_type"), col("day"))
      },
      Some(s"""WITH per_user AS (
          SELECT event_type, CAST(ts AS DATE) AS day, user_id,
            count(*) AS c
          FROM events GROUP BY 1, 2, 3)
        SELECT event_type, day,
          CAST(sum(c) AS BIGINT) AS n_events,
          count(*) AS n_users,
          round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS max_user_share,
          count(*) >= $LDiversity AS l_diverse
        FROM per_user GROUP BY event_type, day
        ORDER BY event_type, day"""),
      doc = s"l-diversity audit (l=$LDiversity) over (event_type, day) " +
        "QI cells with user_id as the sensitive attribute, plus the " +
        "dominant-user share; two stacked rollups, output QI-bounded."),

    // ── semantic clusters: kNN graph → τ-edges → connected components ─
    // The SemDeDup/embedding-clustering composition: keep kNN edges at
    // cosine ≥ τ, resolve transitive clusters with the same CC operator
    // the dedup family uses, singletons label themselves. The kNN graph
    // bounds candidate edges (≤ k per vector), so the CC input is
    // node-×-k-sized — never the all-pairs graph; cluster count/size
    // then feed the curation rollups (duplication profile, SemDeDup
    // keep-one).
    QueryDef(
      "sim_semantic_clusters",
      (s, dir) => semanticClusters(s, dir),
      None,
      doc = s"Semantic clusters: kNN-graph edges at cosine >= $SemClusterTau " +
        "resolved with the shared CC operator (min-label), singleton " +
        "fill; CC input is node-x-k-bounded, never all-pairs. " +
        "TEACHING/verify form — the fixture 8-bit index grows candidates " +
        "~n^2/256; past fixture scale use sim_semantic_clusters_scaled " +
        "(the declared width-scaled twin, the D4->D4b pattern). " +
        "Oracle split (SURVEY §5 note 14): rows-only here; the exact " +
        "edge set is hash-green via sim_semantic_edges and the closure " +
        "is replayed by Round13Spec's union-find."),

    // ── canonical τ-edges of the semantic-cluster graph ──────────────
    // The hash-green half of the cluster oracle split: everything the
    // cluster query computes UP TO the CC closure — signature, buckets,
    // multiprobe, cosine, top-k rank, τ-filter — projected to canonical
    // undirected pairs that DuckDB verifies value-exact without the
    // quadratic recursive-CTE reachability (117 s at sf0.01 for THIS
    // variant alone; the closure is replayed by the spec union-find).
    QueryDef(
      "sim_semantic_edges",
      (s, dir) => tauEdges(declared(lshGraph(NBits)(_))(s, dir)),
      Some(tauEdgesSql()),
      doc = s"Canonical undirected tau-edges (cosine >= $SemClusterTau) of " +
        "the fixture-width kNN graph — the exact CC input of " +
        "sim_semantic_clusters as (least, greatest) pairs; hash-green " +
        "replacement for the retired recursive-closure oracle."),

    // ── Heaps-law fit over doc-id-prefix vocabulary growth ───────────
    // V(n) ≈ K·n^β (Heaps 1978): vocabulary size vs token count over 10
    // growing doc_id-prefix snapshots. The trick that keeps it ONE
    // corpus pass: a token's FIRST occurrence (min doc_id per type)
    // determines which prefixes count it, so n_types(cut) is a
    // conditional count over the vocab-sized first-occurrence table and
    // n_toks(cut) a conditional sum over the doc-level token counts —
    // no per-prefix rescans. OLS on (ln n, ln V) with the exact-DECIMAL
    // regression recipe (T18's).
    QueryDef(
      "text_heaps_fit",
      (s, dir) => {
        val tk = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(Corpus.tokens(col("text"))).as("ntok"))
        val firstOcc = Corpus.tok(s, dir, "lang", "source")
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
        val mx = Tables.load(s, dir, "documents")
          .agg(max(col("doc_id")).as("max_id"))
        val cuts = broadcast(mx.select(
          explode(expr(s"""transform(sequence(1, $HeapsCuts),
            i -> struct(i AS cut_i, (max_id * CAST(i AS BIGINT)) div $HeapsCuts AS cut))"""))
            .as("c")).select(col("c.cut_i"), col("c.cut")))
        val ntoks = tk.crossJoin(cuts)
          .filter(col("doc_id") <= col("cut"))
          .groupBy(col("cut_i")).agg(sum(col("ntok")).as("n_toks"))
        val ntypes = firstOcc.crossJoin(cuts)
          .filter(col("first_doc") <= col("cut"))
          .groupBy(col("cut_i")).agg(count(lit(1)).as("n_types"))
        val pts = ntoks.join(ntypes, "cut_i")
          .select(
            expr("CAST(round(ln(CAST(n_toks AS DOUBLE)), 9) AS DECIMAL(28,9))").as("xr"),
            expr("CAST(round(ln(CAST(n_types AS DOUBLE)), 9) AS DECIMAL(28,9))").as("yr"),
            expr("CAST(round(ln(CAST(n_toks AS DOUBLE)) * ln(CAST(n_toks AS DOUBLE)), 9) AS DECIMAL(28,9))").as("xx"),
            expr("CAST(round(ln(CAST(n_toks AS DOUBLE)) * ln(CAST(n_types AS DOUBLE)), 9) AS DECIMAL(28,9))").as("xy"))
        pts.agg(count(lit(1)).as("n_points"),
            sum(col("xr")).as("sx"), sum(col("yr")).as("sy"),
            sum(col("xx")).as("sxx"), sum(col("xy")).as("sxy"))
          .select(col("n_points"),
            round(expr(
              """(n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_points * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""), 6)
              .as("beta"),
            round(expr(
              """(CAST(sy AS DOUBLE) - ((n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_points * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
                 / n_points"""), 6).as("ln_k"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, len(${Corpus.tokensDuck("text")}) AS ntok
          FROM documents),
        first_occ AS (
          SELECT tok, min(doc_id) AS first_doc FROM ${Corpus.tokDuck("lang", "source")} GROUP BY tok),
        mx AS (SELECT max(doc_id) AS max_id FROM documents),
        cuts AS (
          SELECT i AS cut_i, (max_id * i) // $HeapsCuts AS cut
          FROM mx, range(1, ${HeapsCuts + 1}) t(i)),
        ntoks AS (
          SELECT cut_i, CAST(sum(ntok) AS BIGINT) AS n_toks
          FROM tk CROSS JOIN cuts WHERE doc_id <= cut GROUP BY cut_i),
        ntypes AS (
          SELECT cut_i, count(*) AS n_types
          FROM first_occ CROSS JOIN cuts WHERE first_doc <= cut GROUP BY cut_i),
        pts AS (
          SELECT
            CAST(round(ln(CAST(n_toks AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xr,
            CAST(round(ln(CAST(n_types AS DOUBLE)), 9) AS DECIMAL(28,9)) AS yr,
            CAST(round(ln(CAST(n_toks AS DOUBLE)) * ln(CAST(n_toks AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xx,
            CAST(round(ln(CAST(n_toks AS DOUBLE)) * ln(CAST(n_types AS DOUBLE)), 9) AS DECIMAL(28,9)) AS xy
          FROM ntoks JOIN ntypes USING (cut_i)),
        agg AS (
          SELECT count(*) AS n_points,
            sum(xr) AS sx, sum(yr) AS sy, sum(xx) AS sxx, sum(xy) AS sxy
          FROM pts)
        SELECT n_points,
          round((n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (n_points * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta,
          round((CAST(sy AS DOUBLE) - ((n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (n_points * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
            / n_points, 6) AS ln_k
        FROM agg"""),
      doc = s"Heaps-law fit over $HeapsCuts doc_id-prefix snapshots: " +
        "n_types per prefix from the vocab-sized first-occurrence table " +
        "(min doc_id per type), n_toks from doc-level counts — one " +
        "corpus pass, no rescans; exact-DECIMAL OLS for beta and ln K.")
  )
}
