package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 batch 2: a classic distributed-ML primitive a
  * training-data pipeline runs AFTER curation (Lloyd's k-means and the
  * random projection live in `AnnQueries`) —
  *
  *  - batch-gradient-descent logistic regression TRAINING
  *    (`pipe_quality_classifier` is the inference half; this closes the
  *    loop the way fastText-style quality classifiers are actually
  *    produced for corpus filtering, cf. the GPT-3/CCNet quality-filter
  *    recipe) — each iteration is ONE map-side-combined aggregate that
  *    ships 5 numbers, the textbook "broadcast weights, tree-aggregate
  *    gradient" shape.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (its compute is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66); this file is [EXT] like all of
  * SURVEY §2.7.
  *
  * Determinism: the established recipes. Gradient sums go through
  * round(·,9) → DECIMAL(28,9) exact sums (order-free across
  * partitions), converted back to DOUBLE by ONE division with
  * identical expression text in both engines. Weight updates round to
  * 9 dp each iteration, so an ulp of libm `exp()` disagreement cannot
  * propagate.
  */
object Round11bQueries {

  // ── logistic-regression constants ──────────────────────────────────
  val LrIters = 3
  val LrRate = 8.0
  /** Planted label: y = 1 iff length(text) >= LrThresh — linearly
    * separable through the x1 length feature, so 3 GD steps provably
    * reduce loss and the accuracy spec has teeth. ~50/50 split on the
    * fixture (median doc length ≈ 300 at every SF). */
  val LrThresh = 300
  /** Token count at the label boundary (fixture tokens ≈ 0.18·len + 0.4,
    * so ≈ 50 at len 300). Length-derived features are CENTERED on the
    * planted boundary — the decision surface passes near the origin, so
    * 3 batch-GD steps at lr=8 reach ≥0.95 accuracy instead of spending
    * every step dragging the bias (uncentered measured 0.51 at the same
    * budget). */
  val LrCenterTok = 50

  // ════ logistic-regression builder ══════════════════════════════════

  /** Shared feature extraction (identical expression text in Duck). */
  private def lrFeatures(s: SparkSession, dir: String): DataFrame =
    Corpus.documents(s, dir)
      .select(
        col("doc_id"),
        expr(s"CASE WHEN length(text) >= $LrThresh THEN 1 ELSE 0 END").as("y"),
        expr(s"round((least(length(text), 2000) - $LrThresh) / 1000.0, 6)").as("x1"),
        expr("round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '')) AS DOUBLE)" +
          " / greatest(length(text), 1), 6)").as("x2"),
        expr(s"round((size(split(text, ' ')) - $LrCenterTok) / 100.0, 6)").as("x3"))

  private val lrFeaturesDuck =
    s"""feats AS (
         SELECT doc_id,
           CASE WHEN length(text) >= $LrThresh THEN 1 ELSE 0 END AS y,
           round((least(length(text), 2000) - $LrThresh) / 1000.0, 6) AS x1,
           round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS x2,
           round((len(string_split(text, ' ')) - $LrCenterTok) / 100.0, 6) AS x3
         FROM documents)"""

  /** round(x, 9) with Spark SQL's exact semantics (BigDecimal HALF_UP)
    * so driver-side weight updates replay what the engines compute. */
  private def r9(x: Double): Double =
    new java.math.BigDecimal(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** Sigmoid under the given weights, rounded to 9 dp (the ulp
    * firewall: libm exp() may differ in the last bit between engines;
    * a 9-dp round absorbs it everywhere off a knife edge). */
  private def pCol(w: Array[Double]): Column =
    round(lit(1.0) / (lit(1.0) + exp(-(lit(w(0)) + lit(w(1)) * col("x1")
      + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")))), 9)

  /** Batch-GD training loop. Each iteration is ONE aggregate over the
    * feature table: per-row gradient contributions round(·,9) →
    * DECIMAL(28,9), summed exactly (map-side combine ships 5 numbers
    * per task), then a 1-row collect updates the 4 driver-side weights
    * — the ConnectedComponents scalar-convergence posture applied to
    * treeAggregate-style learning. Returns (weights-after-each-iter). */
  def lrTrain(feats: DataFrame, iters: Int, rate: Double): Seq[Array[Double]] = {
    def sumdec(c: Column): Column = sum(c.cast(DecimalType(28, 9)))
    var w = Array(0.0, 0.0, 0.0, 0.0)
    val hist = Seq.newBuilder[Array[Double]]
    for (_ <- 1 to iters) {
      val p = pCol(w)
      val g = feats.select(
        sumdec(round(p - col("y"), 9)).as("s0"),
        sumdec(round((p - col("y")) * col("x1"), 9)).as("s1"),
        sumdec(round((p - col("y")) * col("x2"), 9)).as("s2"),
        sumdec(round((p - col("y")) * col("x3"), 9)).as("s3"),
        count(lit(1)).as("n")).collect()(0)
      val n = g.getLong(4).toDouble
      w = Array.tabulate(4)(j =>
        r9(w(j) - rate * (g.getDecimal(j).doubleValue / n)))
      hist += w
    }
    hist.result()
  }

  // one gradient+update step of the oracle's unrolled CTE chain: g$i
  // aggregates the per-row gradient terms under the weights of w${i-1}
  // (literal zeros for the first step), w$i applies the update — the
  // 1-row previous-weight CTE is cross-joined back in, mirroring the
  // driver-side scalar update exactly
  private def lrDuckStep(i: Int): String = {
    val z =
      if (i == 1) "(0.0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3)"
      else "(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    val p = s"round(1.0 / (1.0 + exp(-$z)), 9)"
    val from =
      if (i == 1) "feats" else s"feats CROSS JOIN w${i - 1} w"
    val prev = (0 to 3).map(j => if (i == 1) "0.0" else s"w.w$j")
    val wFrom = if (i == 1) s"g$i g" else s"g$i g CROSS JOIN w${i - 1} w"
    s"""g$i AS (
          SELECT
            sum(CAST(round(p - y, 9) AS DECIMAL(28,9))) AS s0,
            sum(CAST(round((p - y) * x1, 9) AS DECIMAL(28,9))) AS s1,
            sum(CAST(round((p - y) * x2, 9) AS DECIMAL(28,9))) AS s2,
            sum(CAST(round((p - y) * x3, 9) AS DECIMAL(28,9))) AS s3,
            count(*) AS n
          FROM (SELECT y, x1, x2, x3, $p AS p FROM $from) q),
        w$i AS (
          SELECT
            round(${prev(0)} - $LrRate * (CAST(g.s0 AS DOUBLE) / g.n), 9) AS w0,
            round(${prev(1)} - $LrRate * (CAST(g.s1 AS DOUBLE) / g.n), 9) AS w1,
            round(${prev(2)} - $LrRate * (CAST(g.s2 AS DOUBLE) / g.n), 9) AS w2,
            round(${prev(3)} - $LrRate * (CAST(g.s3 AS DOUBLE) / g.n), 9) AS w3
          FROM $wFrom)"""
  }

  private def lrOracle: String = {
    def p(cte: String) =
      s"round(1.0 / (1.0 + exp(-($cte.w0 + $cte.w1 * x1 + $cte.w2 * x2 + $cte.w3 * x3))), 9)"
    s"""WITH $lrFeaturesDuck,
        ${(1 to LrIters).map(lrDuckStep).mkString(",\n")}
        SELECT f.doc_id, f.y,
          round(${p("a")}, 6) AS p1,
          round(${p("b")}, 6) AS p2,
          round(${p("c")}, 6) AS p3,
          ${p("c")} >= 0.5 AS pred,
          (${p("c")} >= 0.5) = (f.y = 1) AS correct
        FROM feats f
        CROSS JOIN w1 a CROSS JOIN w2 b CROSS JOIN w3 c
        ORDER BY f.doc_id"""
  }

  // ════ the declared queries ═════════════════════════════════════════

  val defs: Seq[QueryDef] = Seq(

    // ── batch-GD logistic-regression training ────────────────────────
    // The training half of the corpus quality-classifier loop
    // (pipe_quality_classifier is inference). Label is planted
    // separable (y = len >= 300) so the optimization demonstrably
    // works: log-loss strictly decreases and accuracy lands >= 0.9 by
    // iteration 3 (spec-pinned). Each GD step aggregates per-row
    // gradient terms into 5 numbers — at 100 TB each iteration is one
    // corpus scan with map-side combine, weights stay 4 doubles on the
    // driver, nothing else moves.
    QueryDef(
      "pipe_lr_train",
      (s, dir) => {
        val feats = lrFeatures(s, dir).persist()
        try {
          val hist = lrTrain(feats, LrIters, LrRate)
          require(hist.length == 3,
            s"pipe_lr_train output schema p1..p3 is hardwired to LrIters=3; got ${hist.length} iterations")
          val (w1, w2, w3) = (hist(0), hist(1), hist(2))
          val p3 = pCol(w3)
          feats.select(
            col("doc_id"), col("y"),
            round(pCol(w1), 6).as("p1"),
            round(pCol(w2), 6).as("p2"),
            round(p3, 6).as("p3"),
            (p3 >= 0.5).as("pred"),
            ((p3 >= 0.5) === (col("y") === 1)).as("correct"))
            .orderBy(col("doc_id"))
        } finally feats.unpersist()
      },
      Some(lrOracle),
      doc = "Batch-GD logistic regression training (3 iters, lr=8) on " +
        "planted-separable doc-length labels: per-iteration gradient is " +
        "one exact-DECIMAL aggregate (5 numbers per task), weights live " +
        "on the driver, per-doc probability trajectory p1..p3 returned.")
  )
}
