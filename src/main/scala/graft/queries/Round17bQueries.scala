package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType}

import graft.Tables
import graft.operators.Layouts

/** Round-17b rows — the two capability gaps left after the round-17
  * close:
  *
  *  - V18 `sim_index_recall`: measured recall@k of the cosine top-k
  *    ANN serving indexes sharing the IvfTopK=5 contract (fixed-knob
  *    IVF, count-derived IVF, sign-LSH — and since round 18 the
  *    auto-width multi-table sign-LSH) against the exact brute-force
  *    truth — the index-quality metric an ANN deployment watches. (The Lloyd-IVF/PQ rows carry their own spec-pinned
  *    recall floors at their k=10 contract; MIPS truth is
  *    inner-product, a different metric.) The whole auto-width program (rounds 16–17) argues
  *    widths from corpus size; this row closes the loop by MEASURING
  *    what the derived index gives up vs exact search, per query, as a
  *    declared oracle-checked number instead of a code comment.
  *  - M5 `mm_resize_plan`: the resize stage of the multimodal decode
  *    pipeline (decode → RESIZE → feature-extract) — aspect-preserving
  *    letterbox math to a 224×224 canvas over the stub-decoded
  *    dimensions. Like mm_decode_stub, the pixel work is stubbed by
  *    design (no codecs in this environment); the geometry every
  *    vision preprocessor computes (scale, output dims, centering
  *    pads) is real, deterministic, and oracle-checked.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity or
  * image machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); both rows are [EXT] per SURVEY §2.7.
  */
object Round17bQueries {

  /** t-closeness threshold (Li et al., ICDE 2007, the paper's running
    * example value): a QI cell passes when the total-variation
    * distance between its sensitive-attribute distribution and the
    * global one is ≤ t.
    */
  val TCloseness = 0.2

  /** Un-materialized recall pipeline plus its pinned stages. Truth is
    * the SHARED brute-force builder cut at IvfTopK (one definition
    * with sim_brute_topk, both engines) — a 25-row localCheckpoint
    * consumed by all four hit joins AND as the query scaffold/
    * denominator. The recall denominator is the per-query TRUTH COUNT
    * computed in-plan, not the IvfTopK constant (round-17 advice: on a
    * corpus with ≤ IvfTopK non-query vectors a constant denominator
    * silently understates recall and can never read 1.0; on every
    * normal corpus the two coincide). ONE persisted corpus is threaded
    * through all four index builders (the serve-over-prepared-corpus
    * forms — round-17 advice: three private persisted corpus copies
    * were redundant cache pressure). The declared row checkpoints the
    * output and releases the stages; Plans dumps this form with
    * `eagerTruth = false` so the truth pipeline stays visible in the
    * printed plan.
    */
  private[graft] def indexRecallPlan(
      s: org.apache.spark.sql.SparkSession, dir: String,
      eagerTruth: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    import SimilarityQueries._
    val all = Corpus.nvecs(s, dir)
      .transform(Layouts.spread)
      .persist()
    val truthRaw = bruteTopk(all, IvfTopK)
      .select(col("query_id"), col("neighbor_id"))
    val truth = if (eagerTruth) truthRaw.localCheckpoint(true) else truthRaw
    // one row per query with its true-neighbor count: scaffold AND
    // recall denominator
    val qs = truth.groupBy(col("query_id")).agg(count(lit(1)).as("t_n"))
    val fixedCents = all
      .filter(col("vec_id") % CentroidEvery === 0 &&
        col("vec_id") < CentroidEvery * CentroidCap)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val fixed = ivfServe(all, fixedCents, lit(NProbe))
    val auto = Round17Queries.ivfTopkAutoServe(all)
    val lsh = lshServe(all)
    val lshAuto = Round18Queries.lshTopkAutoServe(all)
    def recallOf(idx: String, approx: DataFrame): DataFrame = {
      val hit = truth
        .join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      qs.join(hit, Seq("query_id"), "left")
        .select(lit(idx).as("idx"), col("query_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)).cast("double") /
            col("t_n").cast("double")).as("recall"))
    }
    val out = recallOf("ivf_fixed", fixed)
      .unionByName(recallOf("ivf_auto", auto))
      .unionByName(recallOf("lsh", lsh))
      .unionByName(recallOf("lsh_auto", lshAuto))
      .orderBy(col("idx"), col("query_id"))
    (out, Seq(all) ++ (if (eagerTruth) Seq(truth) else Nil))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── V18: recall@k of the IVF indexes vs brute-force truth ────────
    // Truth is one broadcast-query corpus scan (the sim_brute_topk
    // shape, cut at IvfTopK); each index's hit count is a left-semi
    // join of the 25-row truth set against the index's own top-k — the
    // expensive parts are the serving pipelines themselves, both of
    // which reuse the SHARED builders (ivfServe / ivfTopkAutoPlan), so
    // this row can never drift from the rows it measures. At 100 TB
    // recall evaluation runs exactly this way: a fixed query panel,
    // exact scores for the panel only (never all-pairs), set
    // intersection against the index output.
    QueryDef(
      "sim_index_recall",
      (s, dir) => Layouts.materialize(indexRecallPlan(s, dir)),
      Some {
        import SimilarityQueries.IvfTopK
        s"""WITH truth_full AS (${SimilarityQueries.bruteTopkDuckSql(IvfTopK)}),
          truth AS (SELECT query_id, neighbor_id FROM truth_full),
          ivf_fixed AS (${SimilarityQueries.ivfTopkDuckSql}),
          ivf_auto AS (${Round17Queries.ivfTopkAutoDuckSql}),
          lsh AS (${SimilarityQueries.lshTopkDuckSql}),
          lsh_auto AS (${Round18Queries.lshTopkAutoDuckSql}),
          approx AS (
            SELECT 'ivf_fixed' AS idx, query_id, neighbor_id FROM ivf_fixed
            UNION ALL
            SELECT 'ivf_auto' AS idx, query_id, neighbor_id FROM ivf_auto
            UNION ALL
            SELECT 'lsh' AS idx, query_id, neighbor_id FROM lsh
            UNION ALL
            SELECT 'lsh_auto' AS idx, query_id, neighbor_id FROM lsh_auto),
          hit AS (
            SELECT x.idx, x.query_id, CAST(count(*) AS BIGINT) AS h
            FROM approx x JOIN truth t
              ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
            GROUP BY x.idx, x.query_id),
          scaffold AS (
            SELECT i.idx, q.query_id, q.t_n
            FROM (SELECT 'ivf_fixed' AS idx UNION ALL SELECT 'ivf_auto'
                  UNION ALL SELECT 'lsh' UNION ALL SELECT 'lsh_auto') i
            CROSS JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS t_n
                        FROM truth GROUP BY query_id) q)
        SELECT s.idx, s.query_id,
          CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
          CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(s.t_n AS DOUBLE) AS recall
        FROM scaffold s LEFT JOIN hit h
          ON s.idx = h.idx AND s.query_id = h.query_id
        ORDER BY s.idx, s.query_id"""
      },
      doc = "Recall@k of the four IvfTopK-contract ANN indexes " +
        "(fixed-knob IVF, count-derived IVF, fixed sign-LSH, " +
        "auto-width multi-table sign-LSH) vs exact truth (same " +
        "tiebreak), denominator = the per-query truth count computed " +
        "in-plan: the measured index-quality number the auto-width " +
        "rules are accountable to — fixed query panel, exact scores " +
        "for the panel only, set intersection against each index's " +
        "top-k."),

    // ── M5: aspect-preserving letterbox resize plan (stub decode) ────
    // The geometry stage every vision preprocessor runs before the
    // (stubbed) pixel kernel: major axis → 224, minor axis scaled by
    // the same ratio (floored, min 1px), centering pads on the minor
    // axis. Zero-shuffle narrow pass — at 100 TB this is a map-only
    // stage pipelined into the decode scan; the pixel resample would
    // drop into the mapPartitions seam mm_decode_stub already proves.
    // Degenerate assets guard: the stub's width rule (n_bytes % 640)
    // admits 0, which clamps to 1px here instead of dividing by zero.
    QueryDef(
      "mm_resize_plan",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("payload", col("text").cast(BinaryType))
          .withColumn("n_bytes", length(col("payload")))
          .select(col("doc_id"),
            greatest(col("n_bytes") % 640, lit(1)).cast(IntegerType)
              .as("src_w"),
            (col("n_bytes") / 640 % 480 + 1).cast(IntegerType).as("src_h"))
          .withColumn("out_w",
            when(col("src_w") >= col("src_h"), lit(224))
              .otherwise(greatest(lit(1),
                floor(col("src_w") * lit(224.0) / col("src_h")))
                .cast(IntegerType)))
          .withColumn("out_h",
            when(col("src_w") >= col("src_h"),
              greatest(lit(1),
                floor(col("src_h") * lit(224.0) / col("src_w")))
                .cast(IntegerType))
              .otherwise(lit(224)))
          .select(col("doc_id"), col("src_w"), col("src_h"),
            col("out_w"), col("out_h"),
            expr("cast((224 - out_w) div 2 as int)").as("pad_x"),
            expr("cast((224 - out_h) div 2 as int)").as("pad_y"))
          .orderBy(col("doc_id")),
      Some("""WITH m AS (
          SELECT doc_id,
            CAST(greatest(octet_length(encode(text)) % 640, 1) AS INTEGER) AS src_w,
            CAST(octet_length(encode(text)) // 640 % 480 + 1 AS INTEGER) AS src_h
          FROM documents),
        r AS (
          SELECT doc_id, src_w, src_h,
            CASE WHEN src_w >= src_h THEN 224
                 ELSE CAST(greatest(1, floor(CAST(src_w AS DOUBLE) * 224.0 / src_h)) AS INTEGER)
            END AS out_w,
            CASE WHEN src_w >= src_h
                 THEN CAST(greatest(1, floor(CAST(src_h AS DOUBLE) * 224.0 / src_w)) AS INTEGER)
                 ELSE 224
            END AS out_h
          FROM m)
        SELECT doc_id, src_w, src_h, out_w, out_h,
          CAST((224 - out_w) // 2 AS INTEGER) AS pad_x,
          CAST((224 - out_h) // 2 AS INTEGER) AS pad_y
        FROM r ORDER BY doc_id"""),
      doc = "Letterbox resize plan to a 224x224 canvas over the stub-" +
        "decoded dims: major axis pinned to 224, minor floored from " +
        "the same IEEE ratio (min 1px), centering pads; the map-only " +
        "geometry stage between decode and the (stubbed) pixel kernel."),

    // ── P36: t-closeness release audit (Li et al., ICDE 2007) ────────
    // Completes the classic privacy-release trio next to the declared
    // k-anonymity and l-diversity rows: a QI cell (lang) passes when
    // the total-variation distance between its sensitive-attribute
    // (source) distribution and the GLOBAL one is <= t — the attack
    // k-anon/l-div miss is a cell whose value MIX leaks (skewed toward
    // one source) even with enough distinct values.
    //
    // Exactness discipline: TVD = 1/2 Σ_s |c/n_c − g/n_g| is computed
    // as Σ_s |c·n_g − g·n_c| over a full QI×S grid (absent cells join
    // as c=0), with the products in DECIMAL(19,0)×DECIMAL(19,0) →
    // DECIMAL(38,0) (exact 128-bit; HUGEINT in DuckDB) and ONE IEEE
    // division per cell at the very end — partition-order-independent
    // and bit-identical in both engines (the pipe_f2_ams recipe).
    //
    // Shape at scale: one map-side-combinable (QI, S) rollup is the
    // only corpus-sized shuffle; everything after runs on the
    // |QI|×|S|-row grid (broadcast-sized by construction).
    QueryDef(
      "pipe_t_closeness",
      (s, dir) => {
        val cell = Tables.load(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("c"))
        val perLang = cell.groupBy(col("lang")).agg(sum(col("c")).as("n_c"))
        val global = cell.groupBy(col("source")).agg(sum(col("c")).as("g"))
        val total = global.agg(sum(col("g")).as("n_g"))
        perLang
          .crossJoin(broadcast(global))
          .crossJoin(broadcast(total))
          .join(cell, Seq("lang", "source"), "left")
          .na.fill(0L, Seq("c"))
          .withColumn("term", expr(
            "abs(CAST(c AS DECIMAL(19,0)) * CAST(n_g AS DECIMAL(19,0)) - " +
              "CAST(g AS DECIMAL(19,0)) * CAST(n_c AS DECIMAL(19,0)))"))
          .groupBy(col("lang"), col("n_c"), col("n_g"))
          .agg(sum(col("term")).as("num"))
          .select(col("lang"), col("n_c").as("n_docs"),
            round(expr("CAST(num AS DOUBLE)") /
              (lit(2.0) * col("n_c").cast("double") * col("n_g").cast("double")),
              6).as("tvd"))
          .withColumn("t_close", col("tvd") <= TCloseness)
          .orderBy(col("lang"))
      },
      Some(s"""WITH cell AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        per_lang AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_c FROM cell GROUP BY 1),
        gsrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS g FROM cell GROUP BY 1),
        total AS (SELECT CAST(sum(g) AS BIGINT) AS n_g FROM gsrc),
        grid AS (
          SELECT p.lang, p.n_c, gl.source, gl.g, t.n_g,
            coalesce(ce.c, 0) AS c
          FROM per_lang p CROSS JOIN gsrc gl CROSS JOIN total t
          LEFT JOIN cell ce ON ce.lang = p.lang AND ce.source = gl.source),
        num AS (
          SELECT lang, n_c, n_g,
            sum(abs(CAST(c AS HUGEINT) * n_g - CAST(g AS HUGEINT) * n_c)) AS num
          FROM grid GROUP BY 1, 2, 3)
        SELECT lang, n_c AS n_docs,
          round(CAST(num AS DOUBLE) /
            (2.0 * CAST(n_c AS DOUBLE) * CAST(n_g AS DOUBLE)), 6) AS tvd,
          round(CAST(num AS DOUBLE) /
            (2.0 * CAST(n_c AS DOUBLE) * CAST(n_g AS DOUBLE)), 6) <= $TCloseness
            AS t_close
        FROM num ORDER BY lang"""),
      doc = s"t-closeness audit (t=$TCloseness, Li et al. ICDE 2007) " +
        "over lang QI cells with source as the sensitive attribute: " +
        "TVD to the global distribution via exact 128-bit integer " +
        "cross-products over a full QI x S grid, one IEEE division " +
        "per cell at the end; completes the k-anonymity / l-diversity " +
        "/ t-closeness release-audit trio."),

    // ── D5e: hot-bucket-guarded auto-width ANN dedup ─────────────────
    // The engineered consequence of the round-17b bucket-load profile
    // (BASELINE.md): the hottest sign-LSH buckets are genuinely-similar
    // clusters that NO signature width can split (they are exactly the
    // near-neighbors the verify step must see), their load grows with
    // the corpus, and at cluster scale one such bucket pins a whole
    // task at probes×homes candidate work. The guard routes home
    // buckets above the IN-PLAN tail quantile (p999) of the load rollup
    // (Salting.DeriveHotLoad — the round-17 declaration-time constant
    // AnnGuardHotLoad=64 retired per the V17 discipline:
    // corpus-dependent thresholds are runtime facts) through the
    // two-sided grid split (Salting.gridJoinPairs): homes take one
    // hash salt, probes replicate across the AnnGridWays cells, cold
    // buckets join untouched — the pair set is VERBATIM-identical at
    // ANY threshold (one oracle serves both rows), while any single
    // task's home block shrinks ×AnnGridWays.
    QueryDef(
      "dedup_embedding_ann_auto_guarded",
      (s, dir) => {
        val (pairs, v, sigs) = Round16Queries.annAutoPairs(
          s, dir, gridHotLoad = graft.operators.Salting.DeriveHotLoad)
        Layouts.materialize((pairs, Seq(sigs, v)))
      },
      Some(Round16Queries.annAutoDuckSql),
      doc = "dedup_embedding_ann_auto with the two-sided hot-bucket " +
        "grid guard: home buckets past the load rollup's own in-plan " +
        "p999 tail split 8 ways (homes salted once, probes replicated), " +
        "bounding any task's candidate block while preserving the pair " +
        "set exactly — the oracle is the unguarded row's, verbatim.")
  )
}
