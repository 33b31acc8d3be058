package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark}
import graft.operators.{AmsSketchAgg, CmSketchAgg, KmvDistinctAgg, Layouts,
  QuantileSketchAgg}

/** The sketch and sample rows: deterministic, mergeable summaries of
  * a corpus-scale pipeline, each a pure function of the data, so every
  * row replays hash-green in DuckDB. The sketch laws live once in
  * `graft.operators` (`Kmv`, `CountMin`, `Ams`, `BottomK`, each a
  * `MergeableSketch`); a row aggregates through the law's batch
  * `Aggregator`, and the streaming twins in `graft.streaming` run the
  * same law per key.
  *
  *  - pipe_ccnet_buckets_sketch: CCNet bucketing through a MERGEABLE
  *    QUANTILE SKETCH (`BottomK` — bottom-k-by-hash, merge-order
  *    independent, so the row stays hash-green where a t-digest would
  *    force bounds-only).
  *  - pipe_priority_sample: PRIORITY SAMPLING (Duffield, Lund & Thorup,
  *    JACM 2007) — per-stratum weighted sampling with unbiased
  *    subset-sum estimates from k items. The standard answer to "audit
  *    N docs per language, weighted by token mass, and still estimate
  *    stratum totals": priority q_i = w_i / u_i, keep the k largest,
  *    threshold τ = (k+1)-th priority, estimator ŵ_i = max(w_i, τ).
  *    u_i comes from the engine-portable h60 hash, and q is ONE IEEE
  *    double division (exactly rounded, bit-identical across engines —
  *    unlike ln/exp, which are not correctly-rounded and would make the
  *    classic exponential-jump reservoir engine-dependent), so the
  *    sample AND the estimates replay exactly in DuckDB: hash-green.
  *  - pipe_distinct_kmv: distinct-user cardinality per event type
  *    through the KMV sketch (`Kmv`) — the deterministic, hash-green
  *    counterpart of q15_approx_distinct's HLL++ row, and the 100 TB
  *    shape: no (group, user)-distinct
  *    shuffle of the full user space ever happens; each partition
  *    ships ≤ k tags per group. The events table is the fixture whose
  *    per-group cardinality actually GROWS with SF (15 / 150 / 1500
  *    users at sf0.001/0.01/0.1 — documents' synthetic vocabulary is
  *    a constant 31 tokens per language at every SF), so the
  *    correctness gate exercises the estimator path and the sf0.001
  *    spec pins the exact small-group path.
  *  - pipe_kmv_overlap: SET OPERATIONS on KMV sketches (Beyer et al.
  *    2007 §5) — distinct-customer overlap between order years
  *    (Jaccard, union and intersection cardinality estimates) computed
  *    from the per-year sketches ALONE: the "audience overlap between
  *    two corpus sources" op, answered without ever joining the two
  *    user sets. The orders fixture has real partial overlap
  *    (year-over-year customer Jaccard ~0.6–0.8 at every SF) and
  *    ~120/~1170 customers per year at sf0.001/0.01, so the estimator
  *    binds at both gate SFs.
  *  - pipe_count_min: COUNT-MIN sketch (Cormode & Muthukrishnan 2005)
  *    — per-language token-frequency estimation from a d×w integer
  *    matrix (`CountMin`): the frequency member of the sketch family
  *    (KMV = cardinality, bottom-k = rank, SpaceSaving = top-k).
  *    Deterministic cell sums ⇒ hash-green DuckDB replay;
  *    the declared row reports est vs exact per token, so the
  *    overestimate invariant (est ≥ exact always, > for colliding
  *    tokens at w=32) is visible in the output itself.
  *  - pipe_f2_ams: AMS tug-of-war sketch (Alon, Matias & Szegedy 1996)
  *    — the SECOND FREQUENCY MOMENT F₂ = Σ f² (self-join size) per
  *    language from k=60 signed counters (`Ams`): the skew /
  *    shuffle-volume predictor. Signs are the 60 bits of the h60 tag
  *    (one hash per occurrence); deterministic integer sums ⇒
  *    hash-green replay; exact F₂ reported alongside so the error is
  *    auditable.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object SketchQueries {

  /** Sketch size: rank error ~ 1/√64 ≈ 12 % — coarser than the exact
    * terciles but deterministic, mergeable, and O(k) per language. 64
    * binds at sf0.01 (every language holds ≥ 64 docs), so the
    * subsample path — not just the n ≤ k identity path — is what the
    * correctness gate checks.
    */
  val SketchK = 64

  /** Sample size per stratum (language). 32 binds on every fixture SF
    * (64–218 docs per language at sf0.001–0.01), so the threshold /
    * estimator path — not the degenerate take-everything path — is what
    * the correctness gate checks.
    */
  val PrioK = 32

  /** Count-Min geometry: w=32 forces real collisions on the ~31-token
    * per-language fixture vocabulary (the overestimate path is
    * exercised, not idle), d=4 keeps estimates tight via the min. The
    * four hash functions are the four 32-bit chunks of ONE md5 per
    * occurrence — hashing stays in codegen'd built-ins; the Aggregator
    * only unpacks and increments.
    */
  val CmD = 4
  val CmW = 32

  /** AMS counter count: all 60 bits of the h60 tag serve as the sign
    * functions (one hash per occurrence, no second hashing pass);
    * relative error ~√(2/60) ≈ 18 % — deterministic on the fixture,
    * spec-pinned.
    */
  val AmsK = 60

  /** KMV sketch size. 64 is well below the 150 distinct users per
    * event type at sf0.01, so the ESTIMATOR path — not the exact
    * small-group path — is what the correctness gate checks; relative
    * error ~1/√62 ≈ 13 %. (At sf0.001 each type has 15 users < k —
    * the exact path, which the spec pins separately.)
    */
  val KmvK = 64

  /** `Kmv.estimate` as a column over a sorted tag array holding `m`
    * tags: exact below k, else (k−1)·2⁶⁰ / t_k.
    */
  private def kmvEstimate(tags: Column, m: Column): Column =
    when(m < KmvK, m.cast(DoubleType))
      .otherwise(lit((KmvK - 1).toDouble * KmvDistinctAgg.TagSpace) /
        element_at(tags, KmvK).cast(DoubleType))

  val defs: Seq[QueryDef] = Seq(

    // ── CCNet bucketing through a mergeable quantile sketch ──────────
    // The 100 TB form of P16/P16b: per-language tercile cutoffs from a
    // BOUNDED mergeable summary (the `BottomK` law — bottom-k-by-hash,
    // k=SketchK values per language, merged map-side so each partition
    // ships ≤ k rows per language), broadcast back, buckets assigned
    // in a narrow comparison pass. The corpus never sorts and no
    // language ever lands on one task. Because the sketch is a
    // deterministic function of the data (k smallest md5 tags), DuckDB
    // replays it exactly — hash-green full-value compare, not the
    // bounds-only check a t-digest/KLL would force. Cutoff rule: the
    // ⌈p·m⌉-th smallest sampled value (QuantileSketchAgg.quantile).
    QueryDef(
      "pipe_ccnet_buckets_sketch",
      (s, dir) => {
        val sketch = udaf(QuantileSketchAgg(SketchK),
          ExpressionEncoder[QuantileSketchAgg.In]())
        // persisted: the token-explode + freq-join scoring pass feeds
        // BOTH the cuts aggregation and the final join — without the
        // persist it executes twice; released once the result is
        // materialized
        val scored = Round12Queries.ccnetScored(s, dir).persist()
        val cuts = scored
          .withColumn("tag",
            expr(h60Spark("concat('qsk:', cast(doc_id as string))")))
          .groupBy(col("lang"))
          .agg(sketch(col("avg_surprisal"), col("tag")).as("samp"))
          .select(col("lang"),
            expr("element_at(samp, cast(ceil(size(samp) / 3.0) as int))").as("c1"),
            expr("element_at(samp, cast(ceil(2 * size(samp) / 3.0) as int))").as("c2"))
        Layouts.materialize((scored.join(broadcast(cuts), Seq("lang"))
          .withColumn("ppl_bucket", expr(
            """CASE WHEN avg_surprisal <= c1 THEN 'head'
                    WHEN avg_surprisal <= c2 THEN 'middle'
                    ELSE 'tail' END"""))
          .select(col("doc_id"), col("lang"), col("avg_surprisal"),
            col("ppl_bucket"))
          .orderBy(col("doc_id")), Seq(scored)))
      },
      Some(s"""WITH ${Round12Queries.ccnetScoredDuck},
        tagged AS (
          SELECT lang, avg_surprisal,
            row_number() OVER (PARTITION BY lang
              ORDER BY ${h60Duck("'qsk:' || CAST(doc_id AS VARCHAR)")} ASC,
                       avg_surprisal ASC) AS hrn
          FROM scored),
        samp AS (
          SELECT lang, avg_surprisal,
            row_number() OVER (PARTITION BY lang
              ORDER BY avg_surprisal ASC) AS rn,
            count(*) OVER (PARTITION BY lang) AS m
          FROM tagged WHERE hrn <= $SketchK),
        cuts AS (
          SELECT lang,
            max(avg_surprisal) FILTER (WHERE rn <= CAST(ceil(m / 3.0) AS INT)) AS c1,
            max(avg_surprisal) FILTER (WHERE rn <= CAST(ceil(2 * m / 3.0) AS INT)) AS c2
          FROM samp GROUP BY lang)
        SELECT doc_id, scored.lang, avg_surprisal,
          CASE WHEN avg_surprisal <= c1 THEN 'head'
               WHEN avg_surprisal <= c2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM scored JOIN cuts ON scored.lang = cuts.lang
        ORDER BY doc_id"""),
      doc = s"CCNet bucketing, quantile-sketch form (k=$SketchK " +
        "bottom-k-by-hash per language): mergeable bounded summary " +
        "rolled up map-side, cutoffs broadcast, buckets assigned in a " +
        "narrow pass — corpus never sorts; deterministic sketch keeps " +
        "the row hash-green against the DuckDB replay."),

    // ── priority sampling with subset-sum estimates ──────────────────
    // Shape: one narrow hash+divide pass, ONE per-language rank that
    // Spark compiles to WindowGroupLimit (each map task forwards at
    // most k+1 rows per language into the exchange — corpus never
    // sorts, no language lands on one task beyond k+1 rows), τ taken
    // from the SAME bounded pass, estimator applied in a narrow
    // comparison against the broadcast τ table. |langs|·(k+1) rows
    // after the rank whatever the corpus size.
    QueryDef(
      "pipe_priority_sample",
      (s, dir) => {
        val u = s"((${h60Spark("concat('ps:', cast(doc_id as string))")}" +
          " % 1000000) + 0.5) / 1000000.0"
        val wRank = Window.partitionBy(col("lang"))
          .orderBy(col("q").desc, col("doc_id").asc)
        val ranked = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("q", col("n_chars").cast(DoubleType) / expr(u))
          .withColumn("rn", row_number().over(wRank))
          .filter(col("rn") <= PrioK + 1) // ONE WindowGroupLimit pass
        val tau = ranked.filter(col("rn") === PrioK + 1)
          .select(col("lang"), col("q").as("tau"))
        ranked.filter(col("rn") <= PrioK)
          .join(broadcast(tau), Seq("lang"), "left")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            round(greatest(col("n_chars").cast(DoubleType),
              coalesce(col("tau"), lit(0.0))), 6).as("est_w"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some(s"""WITH ranked AS (
          SELECT doc_id, lang, n_chars,
            CAST(n_chars AS DOUBLE) /
              (((${h60Duck("'ps:' || CAST(doc_id AS VARCHAR)")}
                 % 1000000) + 0.5) / 1000000.0) AS q,
            row_number() OVER (PARTITION BY lang
              ORDER BY CAST(n_chars AS DOUBLE) /
                (((${h60Duck("'ps:' || CAST(doc_id AS VARCHAR)")}
                   % 1000000) + 0.5) / 1000000.0) DESC,
                doc_id ASC) AS rn
          FROM documents),
        tau AS (SELECT lang, q AS tau FROM ranked WHERE rn = ${PrioK + 1})
        SELECT r.doc_id, r.lang, r.n_chars,
          round(greatest(CAST(r.n_chars AS DOUBLE),
            COALESCE(tau.tau, 0.0)), 6) AS est_w
        FROM ranked r LEFT JOIN tau ON r.lang = tau.lang
        WHERE r.rn <= $PrioK
        ORDER BY r.lang, r.doc_id"""),
      doc = s"Priority sampling (Duffield-Lund-Thorup), k=$PrioK per " +
        "language, weight = n_chars: priority w/u from the h60 hash " +
        "(one exactly-rounded IEEE division — engine-portable where " +
        "ln-based schemes are not), WindowGroupLimit-bounded rank, " +
        "HT-style estimates max(w, tau); Round15bSpec replays the " +
        "sample and pins the subset-sum estimator against true totals."),

    // ── KMV distinct-count sketch ────────────────────────────────────
    // Distinct-user cardinality per event type without a user-space-
    // sized distinct: the KmvDistinctAgg rollup dedups INSIDE the
    // bounded buffer, map-side combine ships ≤ k tags per event type
    // per partition, estimate = (k−1)·2⁶⁰ / t_k from the broadcast-
    // sized result. Deterministic (k smallest distinct md5 tags), so
    // the DuckDB window-rank replay is hash-green — the full-value
    // oracle q15_approx_distinct's HLL++ sketch cannot have.
    QueryDef(
      "pipe_distinct_kmv",
      (s, dir) => {
        val kmv = udaf(KmvDistinctAgg(KmvK), ExpressionEncoder[Long]())
        Tables.load(s, dir, "events")
          .select(col("event_type"),
            expr(h60Spark("concat('kmv:', cast(user_id as string))"))
              .as("tag"))
          .groupBy(col("event_type"))
          .agg(kmv(col("tag")).as("tags"))
          .select(col("event_type"),
            size(col("tags")).as("n_retained"),
            round(kmvEstimate(col("tags"), size(col("tags"))), 4)
              .as("est_distinct"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH tags AS (
          SELECT DISTINCT event_type,
            ${h60Duck("'kmv:' || CAST(user_id AS VARCHAR)")} AS tag
          FROM events),
        ranked AS (
          SELECT event_type, tag,
            row_number() OVER (PARTITION BY event_type ORDER BY tag) AS rn,
            count(*) OVER (PARTITION BY event_type) AS nd
          FROM tags),
        agg AS (
          SELECT event_type, max(nd) AS nd,
            max(tag) FILTER (WHERE rn = $KmvK) AS tk
          FROM ranked GROUP BY event_type)
        SELECT event_type,
          CAST(LEAST(nd, $KmvK) AS INT) AS n_retained,
          round(CASE WHEN nd < $KmvK THEN CAST(nd AS DOUBLE)
            ELSE CAST(${KmvK - 1} AS DOUBLE)
              * CAST(1152921504606846976 AS DOUBLE)
              / CAST(tk AS DOUBLE) END, 4) AS est_distinct
        FROM agg ORDER BY event_type"""),
      doc = s"KMV distinct-count sketch (k=$KmvK minimum values, Beyer " +
        "et al. 2007 estimator): distinct users per event type from " +
        "the k smallest distinct h60 tags — mergeable, deterministic, " +
        "hash-green vs the DuckDB window-rank replay, and never " +
        "shuffles the user space; KmvDistinctSpec pins the merge law, " +
        "Round15bSpec replays sketch+estimate on both the exact " +
        "(sf0.001, 15 users < k) and estimator (sf0.01, 150 users) " +
        "paths."),

    // ── KMV set operations: sketch-only audience overlap ─────────────
    // Distinct-customer overlap between order years from the per-year
    // sketches alone (Beyer et al. 2007 §5): combined sketch L =
    // bottom-k(A ∪ B), Jaccard ρ̂ = |L ∩ A ∩ B| / |L|, union D̂ from
    // L's k-th tag, intersection D̂∩ = ρ̂·D̂. The user sets themselves
    // are never joined — at 100 TB the per-source sketches are the
    // ONLY thing that moves (|sources|·k longs), and the pairwise
    // combine runs on a |sources|²-row broadcastable table with
    // codegen'd array built-ins (concat/array_distinct/slice/
    // array_intersect), no UDF.
    QueryDef(
      "pipe_kmv_overlap",
      (s, dir) => {
        val kmv = udaf(KmvDistinctAgg(KmvK), ExpressionEncoder[Long]())
        val sk = Tables.load(s, dir, "orders")
          .select(year(col("o_orderdate")).as("yr"),
            expr(h60Spark("concat('ov:', cast(o_custkey as string))"))
              .as("tag"))
          .groupBy(col("yr")).agg(kmv(col("tag")).as("tags"))
        val uni = sk.select(col("yr").as("year_a"), col("tags").as("ta"))
          .join(sk.select(col("yr").as("year_b"), col("tags").as("tb")),
            col("year_a") < col("year_b"))
          .withColumn("uni", slice(
            array_sort(array_distinct(concat(col("ta"), col("tb")))),
            1, KmvK))
          .withColumn("m", size(col("uni")))
          .withColumn("k_both", size(array_intersect(
            array_intersect(col("uni"), col("ta")), col("tb"))))
          .withColumn("jacc",
            col("k_both").cast(DoubleType) / col("m").cast(DoubleType))
          .withColumn("d_union", kmvEstimate(col("uni"), col("m")))
        uni.select(col("year_a"), col("year_b"),
            col("m").as("n_union_tags"), col("k_both"),
            round(col("jacc"), 4).as("jaccard_est"),
            round(col("d_union"), 4).as("est_union"),
            round(col("jacc") * col("d_union"), 4).as("est_common"))
          .orderBy(col("year_a"), col("year_b"))
      },
      Some(s"""WITH tags AS (
          SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
            ${h60Duck("'ov:' || CAST(o_custkey AS VARCHAR)")} AS tag
          FROM orders),
        ranked AS (
          SELECT yr, tag,
            row_number() OVER (PARTITION BY yr ORDER BY tag) AS rn
          FROM tags),
        sk AS (SELECT yr, tag FROM ranked WHERE rn <= $KmvK),
        yrs AS (SELECT DISTINCT yr FROM sk),
        pairs AS (
          SELECT a.yr AS ya, b.yr AS yb
          FROM yrs a JOIN yrs b ON a.yr < b.yr),
        uni AS (
          SELECT DISTINCT p.ya, p.yb, s.tag
          FROM pairs p JOIN sk s ON s.yr = p.ya OR s.yr = p.yb),
        uranked AS (
          SELECT ya, yb, tag,
            row_number() OVER (PARTITION BY ya, yb ORDER BY tag) AS rn
          FROM uni),
        l AS (SELECT ya, yb, tag FROM uranked WHERE rn <= $KmvK),
        st AS (
          SELECT l.ya, l.yb, count(*) AS m, max(l.tag) AS tk,
            CAST(sum(CASE WHEN sa.tag IS NOT NULL AND sb.tag IS NOT NULL
              THEN 1 ELSE 0 END) AS INT) AS k_both
          FROM l
          LEFT JOIN sk sa ON sa.yr = l.ya AND sa.tag = l.tag
          LEFT JOIN sk sb ON sb.yr = l.yb AND sb.tag = l.tag
          GROUP BY l.ya, l.yb),
        fin AS (
          SELECT ya, yb, m, k_both,
            CAST(k_both AS DOUBLE) / CAST(m AS DOUBLE) AS jacc,
            CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
              ELSE CAST(${KmvK - 1} AS DOUBLE)
                * CAST(1152921504606846976 AS DOUBLE)
                / CAST(tk AS DOUBLE) END AS d_union
          FROM st)
        SELECT ya AS year_a, yb AS year_b,
          CAST(m AS INT) AS n_union_tags, k_both,
          round(jacc, 4) AS jaccard_est,
          round(d_union, 4) AS est_union,
          round(jacc * d_union, 4) AS est_common
        FROM fin ORDER BY year_a, year_b"""),
      doc = s"KMV set-operation estimators (Beyer et al. 2007 §5, " +
        s"k=$KmvK): year-over-year distinct-customer Jaccard, union " +
        "and intersection estimates computed from the per-year " +
        "sketches alone — the two user sets are never joined; " +
        "deterministic (combined sketch = k smallest distinct tags of " +
        "A ∪ B), so the DuckDB replay is hash-green; Round15bSpec " +
        "replays the set algebra in Scala and pins estimator accuracy " +
        "against the exact overlaps."),

    // ── Count-Min sketch: frequency estimation, bounded memory ──────
    // Per-language token frequencies from a d×w matrix: positions for
    // all d rows come from ONE codegen'd md5 per occurrence (packed
    // base-w into a long), the Aggregator increments d cells per row,
    // map-side combine ships one 128-cell matrix per language per
    // partition. Estimates = min over the d cells, joined back against
    // the broadcast 5-row sketch table; exact counts alongside make
    // the ε-overcount auditable row by row. All-integer math — no
    // float parity surface at all.
    QueryDef(
      "pipe_count_min",
      (s, dir) => {
        val cm = udaf(CmSketchAgg(CmD, CmW), ExpressionEncoder[Long]())
        def pos(j: Int): String =
          s"(cast(conv(substring(md5(concat('cm:', tok)), ${1 + 8 * j}, 8)" +
            s", 16, 10) as bigint) % $CmW)"
        val packed = (0 until CmD)
          .map(j => s"${pos(j)} * ${math.pow(CmW, j).toLong}L")
          .mkString(" + ")
        val toks = Tables.load(s, dir, "documents")
          .select(col("lang"),
            explode(Corpus.tokens(col("text"))).as("tok"))
          .withColumn("packed", expr(packed))
        val sketch = toks.groupBy(col("lang"))
          .agg(cm(col("packed")).as("cells"))
        val estExpr = (0 until CmD).map { j =>
          s"element_at(cells, ${j * CmW} + " +
            s"cast((packed div ${math.pow(CmW, j).toLong}L) % $CmW as int)" +
            " + 1)"
        }.mkString("least(", ", ", ")")
        toks.groupBy(col("lang"), col("tok"), col("packed"))
          .agg(count(lit(1)).as("n_exact"))
          .join(broadcast(sketch), "lang")
          .withColumn("est_count", expr(estExpr))
          .select(col("lang"), col("tok"), col("n_exact"),
            col("est_count"),
            (col("est_count") - col("n_exact")).as("overcount"))
          .orderBy(col("lang"), col("tok"))
      },
      Some {
        def posD(j: Int): String =
          s"CAST(('0x' || substring(md5('cm:' || tok), ${1 + 8 * j}, 8)) " +
            s"AS BIGINT) % $CmW"
        s"""WITH toks AS (
          SELECT lang, unnest(${Corpus.tokensDuck("text")}) AS tok
          FROM documents),
        cnt AS (
          SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
          FROM toks GROUP BY lang, tok),
        pos AS (
          SELECT lang, tok, n,
            ${posD(0)} AS p0, ${posD(1)} AS p1,
            ${posD(2)} AS p2, ${posD(3)} AS p3
          FROM cnt),
        cells AS (
          SELECT lang, j, b, CAST(sum(n) AS BIGINT) AS c FROM (
            SELECT lang, 0 AS j, p0 AS b, n FROM pos
            UNION ALL SELECT lang, 1, p1, n FROM pos
            UNION ALL SELECT lang, 2, p2, n FROM pos
            UNION ALL SELECT lang, 3, p3, n FROM pos)
          GROUP BY lang, j, b)
        SELECT p.lang, p.tok, p.n AS n_exact,
          LEAST(c0.c, c1.c, c2.c, c3.c) AS est_count,
          LEAST(c0.c, c1.c, c2.c, c3.c) - p.n AS overcount
        FROM pos p
        JOIN cells c0 ON c0.lang = p.lang AND c0.j = 0 AND c0.b = p.p0
        JOIN cells c1 ON c1.lang = p.lang AND c1.j = 1 AND c1.b = p.p1
        JOIN cells c2 ON c2.lang = p.lang AND c2.j = 2 AND c2.b = p.p2
        JOIN cells c3 ON c3.lang = p.lang AND c3.j = 3 AND c3.b = p.p3
        ORDER BY p.lang, p.tok"""
      },
      doc = s"Count-Min sketch (Cormode-Muthukrishnan, d=$CmD w=$CmW): " +
        "per-language token-frequency estimates from a 128-cell " +
        "integer matrix — deterministic cell sums replay hash-green " +
        "in DuckDB; output carries est vs exact so the overestimate " +
        "invariant is auditable; CmSketchSpec pins the merge law, " +
        "Round15bSpec replays sketch+estimates and pins est >= exact " +
        "with real collisions at w=32."),

    // ── AMS F₂ sketch: self-join size from k signed counters ─────────
    // The shuffle-volume predictor: F₂ of a key stream IS the
    // candidate count of its self-equi-join (LSH buckets, groupBy
    // reducers). k=60 longs of state per language; the exact rollup it
    // estimates is the vocabulary-sized exchange, reported alongside
    // so the ~√(2/k) error is auditable row by row.
    QueryDef(
      "pipe_f2_ams",
      (s, dir) => {
        val ams = udaf(AmsSketchAgg(AmsK), ExpressionEncoder[Long]())
        val toks = Tables.load(s, dir, "documents")
          .select(col("lang"),
            explode(Corpus.tokens(col("text"))).as("tok"))
          .withColumn("tag", expr(h60Spark("concat('f2:', tok)")))
        val sketch = toks.groupBy(col("lang"))
          .agg(ams(col("tag")).as("counters"))
        // squares accumulate in DECIMAL(38,0) (128-bit exact), not
        // Long: counters/frequencies are bounded by group size N, so a
        // Long square-sum silently overflows past N ~ 3e9 rows — the
        // scale this sketch targets. Display stays BIGINT (lossless at
        // fixture scale; the displayable-F2 bound is Long.MaxValue) —
        // guarded by raise_error so an over-Long F2 fails LOUDLY like
        // DuckDB's erroring HUGEINT->BIGINT cast, instead of non-ANSI
        // Spark's silent NULL (divergent failure modes otherwise).
        val exact = toks.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("f"))
          .groupBy(col("lang"))
          .agg(expr("sum(CAST(f AS DECIMAL(19,0)) * " +
            "CAST(f AS DECIMAL(19,0)))").as("s2"))
          .select(col("lang"), expr(
            "CAST(CASE WHEN s2 <= 9223372036854775807 THEN s2 ELSE " +
              "CAST(raise_error('pipe_f2_ams: f2_exact exceeds the " +
              "BIGINT display bound') AS DECIMAL(38,0)) END AS BIGINT)")
            .as("f2_exact"))
        exact.join(sketch, "lang")
          .select(col("lang"), col("f2_exact"),
            expr("round(CAST(aggregate(counters, " +
              "CAST(0 AS DECIMAL(38,0)), (acc, c) -> " +
              "acc + CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))" +
              s") AS DOUBLE) / CAST($AmsK AS DOUBLE), 4)")
              .as("f2_est"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH toks AS (
          SELECT lang, unnest(${Corpus.tokensDuck("text")}) AS tok
          FROM documents),
        cnt AS (
          SELECT lang, tok, CAST(count(*) AS BIGINT) AS f,
            ${h60Duck("'f2:' || tok")} AS tag
          FROM toks GROUP BY lang, tok),
        ctr AS (
          SELECT lang, t.j,
            CAST(sum(CASE WHEN (tag >> t.j) & 1 = 1 THEN f ELSE -f END)
              AS BIGINT) AS c
          FROM cnt CROSS JOIN range($AmsK) t(j)
          GROUP BY lang, t.j),
        est AS (
          SELECT lang, sum(CAST(c AS HUGEINT) * c) AS ss
          FROM ctr GROUP BY lang),
        ex AS (
          SELECT lang, CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT)
            AS f2_exact
          FROM cnt GROUP BY lang)
        SELECT ex.lang, ex.f2_exact,
          round(CAST(ss AS DOUBLE) / CAST($AmsK AS DOUBLE), 4) AS f2_est
        FROM ex JOIN est ON ex.lang = est.lang
        ORDER BY ex.lang"""),
      doc = s"AMS tug-of-war F2 sketch (Alon-Matias-Szegedy, k=$AmsK " +
        "counters signed by the h60 bits, one hash per occurrence): " +
        "per-language self-join size estimate next to the exact " +
        "vocabulary rollup — deterministic integer counters replay " +
        "hash-green in DuckDB; AmsSketchSpec pins the merge law, " +
        "Round15bSpec replays counters+estimate and pins accuracy.")
  )
}
