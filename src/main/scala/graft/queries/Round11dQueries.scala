package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark}

/** Round-11 batch 4: mixture optimization + private statistics —
  *
  *  - excess-loss domain reweighting (the exponentiated-gradient update
  *    of DoReMi, Xie et al. 2023, "DoReMi: Optimizing Data Mixtures
  *    Speeds Up Language Model Pretraining"): per-domain proxy loss →
  *    excess over the best domain → EG tilt of the mixture weights,
  *    iterated with renormalization. The published loop retrains the
  *    proxy between steps; with a FIXED proxy loss (no model here) the
  *    iteration degenerates to exponential tilting — stated plainly,
  *    and the per-step weight trajectory is still the real update rule
  *    an implementation ships;
  *  - ε-differentially-private histogram release (Dwork et al. 2006,
  *    the Laplace mechanism): per-(lang, source) document counts plus
  *    Laplace(Δf/ε) noise drawn by inverse-CDF from a SEEDED md5
  *    uniform — deterministic, engine-independent, and the exact
  *    textbook mechanism (sensitivity Δf = 1 for a disjoint-cell
  *    histogram, one count per document).
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  *
  * Determinism: the ln/exp round(·,9) firewall everywhere a libm call
  * appears; normalization sums are exact DECIMAL(28,9) over the
  * rounded values; every division is ONE double division with the
  * identical expression text in both engines.
  */
object Round11dQueries {

  // ── DoReMi constants ───────────────────────────────────────────────
  /** EG step size (η in the paper). */
  val EgEta = 0.5
  val EgSteps = 3

  // ── DP-release constants ───────────────────────────────────────────
  /** Privacy budget ε; Laplace scale = Δf/ε = 1/ε (Δf = 1: one
    * document changes exactly one disjoint histogram cell). */
  val DpEpsilon = 1.0

  /** One EG step: x = round(w_prev · exp(η·excess), 9) as exact
    * DECIMAL, renormalize by the exact sum, round the weight to 6. */
  private def egStep(df: DataFrame, wPrev: String, wNew: String): DataFrame = {
    val withX = df.withColumn("x",
      round(col(wPrev) * exp(lit(EgEta) * col("excess")), 9)
        .cast(DecimalType(28, 9)))
    withX
      .crossJoin(broadcast(withX.agg(sum(col("x")).as("xs"))))
      .withColumn(wNew,
        round(col("x").cast(DoubleType) / col("xs").cast(DoubleType), 6))
      .drop("x", "xs")
  }

  private def egStepDuck(i: Int): String = {
    val prev = if (i == 1) "e0" else s"e${i - 1}"
    s"""s$i AS (
          SELECT *, CAST(round(w${i - 1} * exp($EgEta * excess), 9)
            AS DECIMAL(28,9)) AS x
          FROM $prev),
        t$i AS (SELECT sum(x) AS xs FROM s$i),
        e$i AS (
          SELECT source, n_docs, avg_surprisal, excess,
            ${(0 until i).map(j => s"w$j").mkString(", ")},
            round(CAST(x AS DOUBLE) / CAST(xs AS DOUBLE), 6) AS w$i
          FROM s$i CROSS JOIN t$i)"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ── DoReMi excess-loss domain reweighting ────────────────────────
    // Domains = the 20 `source` values. Proxy loss = per-domain mean
    // unigram surprisal (the text_perplexity/CCNet DECIMAL recipe —
    // ONE token explode, ONE broadcast-freq join, ONE rollup). The
    // domain table is 20 rows from there on: the whole EG iteration is
    // in-plan arithmetic over a broadcast-sized table (3 chained
    // tiny aggregates), no driver state. At 100 TB exactly the same
    // split holds — one corpus pass for the loss table, then mixture
    // math on a domain-count-sized table; the output feeds
    // pipe_domain_mix-style threshold sampling as the budget source.
    QueryDef(
      "pipe_doremi_mix",
      (s, dir) => {
        val tk = Corpus.tok(s, dir, "source")
        val freq = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = freq.agg(sum(col("cnt")).as("total"))
        val dom = tk.join(broadcast(freq), "tok")
          .crossJoin(broadcast(tot))
          .withColumn("surp",
            round(-log(col("cnt") / col("total")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("source"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            round(sum(col("surp")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_surprisal"))
        val base = dom
          .crossJoin(broadcast(dom.agg(
            min(col("avg_surprisal")).as("mn"),
            count(lit(1)).as("nd"))))
          .withColumn("excess", col("avg_surprisal") - col("mn"))
          .withColumn("w0", round(lit(1.0) / col("nd"), 6))
          .drop("mn", "nd")
        // materialize the ~20-row domain table before the tilt chain:
        // each egStep cross-joins its input with an aggregate of the
        // SAME lineage, so without this the corpus-scan subtree is
        // referenced up to 2^EgSteps times if exchange reuse misses
        // (the kmeansTrain per-round recipe applied here)
        val baseCk = base.localCheckpoint()
        (1 to EgSteps).foldLeft(baseCk) { (df, i) =>
          egStep(df, s"w${i - 1}", s"w$i")
        }
          .select(col("source"), col("n_docs"), col("avg_surprisal"),
            col("excess"), col("w0"), col("w1"), col("w2"), col("w3"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, unnest(${Corpus.tokensDuck("text")}) AS tok
          FROM documents),
        f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT sum(cnt) AS total FROM f),
        sc AS (
          SELECT doc_id, source,
            CAST(round(-ln(cnt / (SELECT total FROM tot)), 9) AS DECIMAL(28,9)) AS surp
          FROM tk JOIN f USING (tok)),
        dom AS (
          SELECT source, count(DISTINCT doc_id) AS n_docs,
            round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS avg_surprisal
          FROM sc GROUP BY source),
        mm AS (SELECT min(avg_surprisal) AS mn, count(*) AS nd FROM dom),
        e0 AS (
          SELECT source, n_docs, avg_surprisal,
            avg_surprisal - mn AS excess,
            round(1.0 / nd, 6) AS w0
          FROM dom CROSS JOIN mm),
        ${(1 to EgSteps).map(egStepDuck).mkString(",\n")}
        SELECT source, n_docs, avg_surprisal, excess, w0, w1, w2, w3
        FROM e$EgSteps ORDER BY source"""),
      doc = "DoReMi-style EG domain reweighting over a fixed proxy loss " +
        "(per-source mean unigram surprisal): one corpus pass builds the " +
        "20-row domain table, then 3 in-plan exponentiated-gradient tilt+" +
        "renormalize steps; weight trajectory w0..w3 returned."),

    // ── ε-DP Laplace histogram release ───────────────────────────────
    // The Dwork 2006 Laplace mechanism over the (lang, source) document
    // histogram: noise = -(Δf/ε)·sign(u)·ln(1-2|u|) with u a SEEDED
    // uniform in (-1/2, 1/2) from the cell key's md5 (u = 0 is
    // unreachable: (m + 0.5)/10⁶ - 0.5 is never 0 for integer m).
    // Deterministic ⇒ oracle-replayable; a production release would
    // draw u from a CSPRNG — the mechanism, sensitivity accounting,
    // and plan shape (ONE map-side-combined rollup, noise as narrow
    // per-group math) are exactly what ships. The released column is
    // noisy_count; n_docs stays in the output for the oracle/spec
    // compare and is marked non-release in the schema docs.
    QueryDef(
      "pipe_dp_stats",
      (s, dir) => {
        val u = s"((${h60Spark("concat('dp:', lang, ':', source)")} % 1000000) + 0.5) / 1000000.0 - 0.5"
        Tables.load(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("noise", expr(
            s"round(-(1.0 / $DpEpsilon) * sign($u) * ln(1.0 - 2.0 * abs($u)), 6)"))
          .withColumn("noisy_count", col("n_docs") + col("noise"))
          .select(col("lang"), col("source"), col("n_docs"), col("noise"),
            col("noisy_count"))
          .orderBy(col("lang"), col("source"))
      },
      Some {
        val u = s"((${h60Duck("'dp:' || lang || ':' || source")} % 1000000) + 0.5) / 1000000.0 - 0.5"
        s"""WITH h AS (
            SELECT lang, source, count(*) AS n_docs
            FROM documents GROUP BY lang, source)
          SELECT lang, source, n_docs,
            round(-(1.0 / $DpEpsilon) * sign($u) * ln(1.0 - 2.0 * abs($u)), 6) AS noise,
            n_docs + round(-(1.0 / $DpEpsilon) * sign($u) * ln(1.0 - 2.0 * abs($u)), 6) AS noisy_count
          FROM h ORDER BY lang, source"""
      },
      doc = "ε=1 Laplace-mechanism histogram (Δf=1): per-(lang,source) " +
        "counts + inverse-CDF noise; one rollup shuffle, noise is narrow " +
        "per-group math. Noise is SEEDED/deterministic from the cell key " +
        "— an oracle-replayable demo of the mechanism, NOT a privacy " +
        "guarantee (a real ε-DP release draws u from a CSPRNG).")
  )
}
