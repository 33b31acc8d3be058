package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark}

/** Round-13 batch 2: event-transition statistics and a DP quantile —
  *
  *  - ev_transition_matrix: per-user event-type Markov transition
  *    counts/probabilities (the session-model statistic);
  *  - pipe_dp_quantile: ε-DP median via the exponential mechanism
  *    (McSherry & Talwar 2007) with seeded Gumbel noise — the
  *    order-statistic release next to pipe_dp_stats' Laplace counts.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface; this file is [EXT] like all of SURVEY §2.7.
  */
object Round13bQueries {

  /** Exponential-mechanism privacy budget. */
  val DpqEpsilon = 1.0

  /** Bootstrap replicate count. */
  val BootB = 100

  val defs: Seq[QueryDef] = Seq(

    // ── per-user event-type transition matrix ────────────────────────
    // The Markov session model: P(next event type | current), counted
    // over each user's time-ordered stream. ONE shuffle brings a user's
    // events together (the lag window), the transition rollup is
    // |types|²-bounded, probabilities are one final division. The
    // deterministic order is (ts, event_id) — simultaneous events
    // can't reorder across engines.
    QueryDef(
      "ev_transition_matrix",
      (s, dir) => {
        val wU = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(wU))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val wF = Window.partitionBy(col("from_type"))
        trans
          .withColumn("p", round(col("n").cast(DoubleType) /
            sum(col("n")).over(wF), 6))
          .select(col("from_type"), col("to_type"), col("n"), col("p"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH seq AS (
          SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type
          FROM events),
        trans AS (
          SELECT prev_type AS from_type, event_type AS to_type,
            count(*) AS n
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type)
        SELECT from_type, to_type, n,
          round(CAST(n AS DOUBLE) /
            sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM trans
        ORDER BY from_type, to_type"""),
      doc = "Per-user event-type Markov transitions: one user shuffle " +
        "(lag window), |types|^2-bounded rollup, row-normalized " +
        "probabilities; deterministic (ts, event_id) order."),

    // ── ε-DP median via the exponential mechanism ────────────────────
    // McSherry & Talwar 2007 applied to the order statistic (Smith
    // 2011): utility u(c) = −|#{n_chars ≤ c} − n/2| over the candidate
    // grid of observed values, winner = argmax of ε·u/2 + Gumbel —
    // equivalent to sampling ∝ exp(ε·u/2) (the Gumbel-max trick), with
    // the SAME seeded-hash noise stance as pipe_dp_stats: replayable
    // demo of the mechanism, NOT a privacy guarantee (production draws
    // from a CSPRNG). Shape: one value-histogram shuffle (candidate-
    // grid-sized), a cumulative window over the grid, TakeOrdered 1.
    // true_median comes from the same cumulative table (smallest c with
    // cum ≥ ⌈n/2⌉) so both engines share every intermediate.
    QueryDef(
      "pipe_dp_quantile",
      (s, dir) => {
        val u = s"((${h60Spark("concat('dpq:', cast(c as string))")} % 1000000) + 0.5) / 1000000.0"
        // GLOBAL window, deliberately: its input is the value HISTOGRAM
        // (one row per distinct n_chars — grid-bounded, not corpus-
        // bounded), so the single WindowExec partition holds at most
        // |grid| rows at any corpus size. This is the bench tail's
        // "No Partition Defined" warning — bounded by construction.
        val wCum = Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hist = Tables.load(s, dir, "documents")
          .groupBy(col("n_chars").as("c")).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .crossJoin(broadcast(Tables.load(s, dir, "documents")
            .agg(count(lit(1)).as("n"))))
          .withColumn("util", expr("-abs(cum - CAST(n AS DOUBLE) / 2)"))
          .withColumn("score", expr(
            s"round($DpqEpsilon * util / 2 - ln(-ln($u)), 6)"))
        val winner = hist
          .orderBy(col("score").desc, col("c").asc).limit(1)
          .select(col("n"), col("c").as("dp_median"), col("score").as("dp_score"))
        val trueMed = hist.filter(expr("cum >= CAST(ceil(CAST(n AS DOUBLE) / 2) AS BIGINT)"))
          .orderBy(col("c").asc).limit(1)
          .select(col("c").as("true_median"))
        winner.crossJoin(broadcast(trueMed))
          .select(col("n").as("n_docs"), col("true_median"),
            col("dp_median"), col("dp_score"))
      },
      Some {
        val u = s"((${h60Duck("'dpq:' || CAST(c AS VARCHAR)")} % 1000000) + 0.5) / 1000000.0"
        s"""WITH hist0 AS (
            SELECT n_chars AS c, count(*) AS cnt FROM documents GROUP BY n_chars),
          n_t AS (SELECT count(*) AS n FROM documents),
          hist AS (
            SELECT c, cnt,
              sum(cnt) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM hist0),
          scored AS (
            SELECT c, cum, n,
              -abs(cum - CAST(n AS DOUBLE) / 2) AS util,
              round($DpqEpsilon * (-abs(cum - CAST(n AS DOUBLE) / 2)) / 2
                - ln(-ln($u)), 6) AS score
            FROM hist CROSS JOIN n_t),
          winner AS (
            SELECT n, c AS dp_median, score AS dp_score FROM scored
            ORDER BY score DESC, c ASC LIMIT 1),
          tm AS (
            SELECT c AS true_median FROM scored
            WHERE cum >= CAST(ceil(CAST(n AS DOUBLE) / 2) AS BIGINT)
            ORDER BY c ASC LIMIT 1)
        SELECT n AS n_docs, true_median, dp_median, dp_score
        FROM winner CROSS JOIN tm"""
      },
      doc = s"epsilon=$DpqEpsilon DP median (exponential mechanism, " +
        "Gumbel-max form) over the n_chars candidate grid: one " +
        "histogram shuffle, cumulative window over the grid, TakeOrdered " +
        "1; seeded replayable noise (demo stance, as pipe_dp_stats)."),

    // ── rank-distribution window functions ───────────────────────────
    // The remaining SQL-standard ranking family: ntile quartiles,
    // percent_rank, cume_dist — per-source over (n_chars, doc_id) so
    // the order is total (percent_rank/cume_dist over a non-total order
    // are tie-dependent but deterministic; the doc_id tiebreak removes
    // even that concern). One partition-sort window, no extra shuffle.
    QueryDef(
      "q113_rank_distribution",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", round(percent_rank().over(w), 6))
          .withColumn("cume", round(cume_dist().over(w), 6))
          .orderBy(col("source"), col("doc_id"))
      },
      Some("""SELECT source, doc_id, n_chars,
          ntile(4) OVER w AS quartile,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
        ORDER BY source, doc_id"""),
      doc = "SQL-standard rank-distribution family (ntile, percent_rank, " +
        "cume_dist) per source over a total (n_chars, doc_id) order; one " +
        "partition-sort window."),

    // ── Poisson-bootstrap confidence interval (Chamandy et al. 2012) ─
    // THE distributed bootstrap: per (doc, replicate) a seeded
    // Poisson(1) weight approximates with-replacement resampling
    // without ever materializing a resample — the one-pass map-reduce
    // form Google published for exactly the "CI over a corpus-scale
    // mean" job. B replicates fan the corpus out ×B in-row (explode),
    // ONE (replicate) rollup computes every weighted mean, the CI is a
    // percentile over the B-row replicate table. Poisson(1) via
    // inverse-CDF on a seeded uniform with literal cumulative
    // thresholds (truncated at k=8, P(k>8) < 1e-6 — stated); identical
    // literals in both engines ⇒ identical weights.
    QueryDef(
      "pipe_bootstrap_ci",
      (s, dir) => {
        val u = s"((${h60Spark("concat('boot:', cast(doc_id as string), ':', cast(b as string))")} % 1000000) + 0.5) / 1000000.0"
        val reps = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .select(col("doc_id"), col("n_chars"),
            explode(expr(s"sequence(1, $BootB)")).as("b"))
          .withColumn("w", expr(s"CASE ${poissonCase(u)} END"))
        val means = reps.groupBy(col("b"))
          .agg(
            sum(col("w") * col("n_chars")).as("sw_x"),
            sum(col("w")).as("sw"))
          .filter(col("sw") > 0)
          .select(col("b"),
            round(col("sw_x").cast(DoubleType) / col("sw"), 6).as("mean_b"))
        // GLOBAL window over the B-row replicate table (B = BootB, a
        // constant) — single-partition WindowExec is bounded at B rows
        // whatever the corpus size (the warning in the bench tail is
        // this, by construction)
        val wOrd = Window.orderBy(col("mean_b"), col("b"))
        val ranked = means.withColumn("rn", row_number().over(wOrd))
          .crossJoin(broadcast(means.agg(count(lit(1)).as("nb"))))
        val lo = ranked
          .filter(col("rn") === expr("CAST(ceil(nb * 0.025) AS BIGINT)"))
          .select(col("mean_b").as("ci_lo"))
        val hi = ranked
          .filter(col("rn") === expr("CAST(ceil(nb * 0.975) AS BIGINT)"))
          .select(col("mean_b").as("ci_hi"))
        val pt = Tables.load(s, dir, "documents")
          .agg(round(sum(col("n_chars")).cast(DoubleType) / count(lit(1)), 6)
            .as("mean_hat"), count(lit(1)).as("n_docs"))
        pt.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("n_docs"), col("mean_hat"), col("ci_lo"), col("ci_hi"))
      },
      Some {
        val u = s"((${h60Duck("'boot:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")} % 1000000) + 0.5) / 1000000.0"
        s"""WITH reps AS (
            SELECT doc_id, n_chars, u.b AS b,
              CASE ${poissonCase(u)} END AS w
            FROM documents, unnest(range(1, ${BootB + 1})) u(b)),
          means AS (
            SELECT b,
              round(CAST(sum(w * n_chars) AS DOUBLE) / sum(w), 6) AS mean_b
            FROM reps GROUP BY b HAVING sum(w) > 0),
          ranked AS (
            SELECT b, mean_b,
              row_number() OVER (ORDER BY mean_b, b) AS rn,
              count(*) OVER () AS nb
            FROM means),
          lo AS (SELECT mean_b AS ci_lo FROM ranked
                 WHERE rn = CAST(ceil(nb * 0.025) AS BIGINT)),
          hi AS (SELECT mean_b AS ci_hi FROM ranked
                 WHERE rn = CAST(ceil(nb * 0.975) AS BIGINT)),
          pt AS (
            SELECT count(*) AS n_docs,
              round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_hat
            FROM documents)
        SELECT n_docs, mean_hat, ci_lo, ci_hi
        FROM pt CROSS JOIN lo CROSS JOIN hi"""
      },
      doc = s"Poisson bootstrap (B=$BootB, Chamandy 2012): seeded " +
        "Poisson(1) weights per (doc, replicate) — with-replacement " +
        "resampling without materializing resamples; one in-row x-B " +
        "fan-out + ONE replicate rollup; 95% CI from the B-row table."),

    // ── exact heavy hitters: the ST20 SpaceSaving batch twin ─────────
    // The ground truth the streaming SpaceSaving table approximates:
    // per event_type, the top-Capacity users by exact event count. One
    // (type, user) rollup, per-type top-k through the two-phase
    // WindowGroupLimit (only each type's best Capacity rows cross the
    // second exchange). StreamingHeavyHitterSpec checks the paper's
    // est/err guarantees against exactly these counts.
    QueryDef(
      "ev_heavy_hitters",
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id").asc)
        Tables.load(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= graft.streaming.HeavyHitterStream.Capacity)
          .select(col("event_type"), col("rnk"), col("user_id"), col("n"))
          .orderBy(col("event_type"), col("rnk"))
      },
      Some(s"""WITH cnt AS (
          SELECT event_type, user_id, count(*) AS n
          FROM events GROUP BY event_type, user_id),
        ranked AS (
          SELECT event_type, user_id, n,
            row_number() OVER (PARTITION BY event_type
              ORDER BY n DESC, user_id ASC) AS rnk
          FROM cnt)
        SELECT event_type, rnk, user_id, n FROM ranked
        WHERE rnk <= ${graft.streaming.HeavyHitterStream.Capacity}
        ORDER BY event_type, rnk"""),
      doc = "Exact per-type top-8 users by event count (the SpaceSaving " +
        "stream's ground truth): one rollup + two-phase WindowGroupLimit " +
        "top-k per type.")
  )

  /** Truncated-Poisson(1) inverse CDF as CASE branches over a uniform
    * expression — cumulative thresholds e^{-1}·Σ 1/k! as literal
    * doubles, identical text in both engines. P(k > 8) < 1.02e-6 is
    * folded into the k=8 branch.
    */
  private def poissonCase(u: String): String = {
    // cumulative thresholds c_k = e^-1 * sum_{j<=k} 1/j!
    val fact = (0 to 7).map(k => (1 to k).foldLeft(1.0)(_ * _))
    val cum = fact.map(f => math.exp(-1.0) / f)
      .scanLeft(0.0)(_ + _).tail
    cum.zipWithIndex.map { case (c, k) =>
      s"WHEN $u < $c THEN $k"
    }.mkString(" ") + " ELSE 8"
  }
}
