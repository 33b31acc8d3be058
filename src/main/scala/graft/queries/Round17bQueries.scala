package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType}

import graft.Tables
import graft.operators.Layouts

/** Round-17b rows:
  *
  *  - M5 `mm_resize_plan`: the resize stage of the multimodal decode
  *    pipeline (decode → RESIZE → feature-extract) — aspect-preserving
  *    letterbox math to a 224×224 canvas over the stub-decoded
  *    dimensions. Like mm_decode_stub, the pixel work is stubbed by
  *    design (no codecs in this environment); the geometry every
  *    vision preprocessor computes (scale, output dims, centering
  *    pads) is real, deterministic, and oracle-checked.
  *
  * Reference scope note: alxmancilla/parquet-demo has no image
  * machinery (its compute surface is schema-driven Parquet I/O,
  * src/parquet_demo/io.py:7-80); these rows are [EXT] per SURVEY §2.7.
  */
object Round17bQueries {

  /** t-closeness threshold (Li et al., ICDE 2007, the paper's running
    * example value): a QI cell passes when the total-variation
    * distance between its sensitive-attribute distribution and the
    * global one is ≤ t.
    */
  val TCloseness = 0.2

  val defs: Seq[QueryDef] = Seq(

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
