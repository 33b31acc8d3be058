package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Layouts

/** Round-18 rows — the round-17 verdict's asks, closed:
  *
  *  - ST27b `st_incremental_ann_auto`: the streaming sign-LSH ANN dedup
  *    twin declared at the SCALE-SAFE substrate. The round-17 twin
  *    (`st_incremental_ann`) pins the fixture 12-bit pair pipeline,
  *    which the builder's own probe measured quadratic past ×26 (the
  *    n²/2¹² candidate wall); this row composes the two shared builders
  *    that already exist — `Round16Queries.annAutoPairs` (bits derived
  *    in-plan from the corpus count, the D5d substrate measured
  *    near-linear through ×52) reduced by `Round17Queries.annVerdict`
  *    (arrival order := vec_id order) — so the ONLINE operator's
  *    semantics are oracle-checked at the config a deployment would
  *    actually run. StreamingAnnDedupSpec's auto arm pins stream ≡ this
  *    row with `AnnDedupStream` parameterized to the auto signature
  *    columns (compute at AnnAutoMaxBits, mask to the derived width).
  *  - V19 `sim_lsh_topk_auto`: the BOUNDED-COST serving sign-LSH form
  *    — `LshAutoTables` independent tables at the in-plan width (bits
  *    = clamp(⌈log2 n⌉, 8, 20)), radius-1 ball per table; candidates
  *    per query stay ~tables·(1+bits) at any corpus size. The V18
  *    audit then measured the recall price of that bound (see the
  *    row's comment — the round's documented negative result).
  *  - V20 `sim_index_recall_contract`: the V18 recall discipline
  *    extended to the k=10/k=5 contract indexes (SURVEY §5 note 16
  *    applied retroactively): Lloyd-IVF (cosine@10), PQ and IVFPQ
  *    (L2@5), MIPS-LSH (inner-product@5) — each measured against the
  *    exact truth of ITS OWN metric, hits = set intersection per
  *    query, as a declared oracle-checked row instead of spec-only
  *    floors.
  *
  * Reference scope note: alxmancilla/parquet-demo has no similarity or
  * streaming machinery (its compute surface is schema-driven Parquet
  * I/O, src/parquet_demo/io.py:7-80); all rows are [EXT] per SURVEY
  * §2.7.
  */
object Round18Queries {

  /** Independent sign-LSH tables for the auto-width SERVING index: the
    * dedup family's recall lever applied to top-k serving. 4 matches
    * the D5 family (AnnTables); probe cost per query is
    * tables·(1+bits) buckets — corpus-independent up to the log-width
    * growth, so the scan stays pruned.
    */
  val LshAutoTables = 4

  /** Auto-width serving-LSH over a caller-prepared (and persisted)
    * (vec_id, v, nrm) corpus — the recall audit threads ONE shared
    * persisted corpus through every index builder (round-17 advice).
    *
    * Shape: in-plan width (the D5d rule — bits = clamp(bitlen(n−1), 8,
    * AnnAutoMaxBits) off a 1-row broadcast count, signatures computed
    * once at AnnAutoMaxBits and masked), LshAutoTables independent
    * tables with the table index folded into the Long bucket key as
    * t·(mask+1), queries probe own bucket + the `bits` Hamming-1 flips
    * per table (runtime-length sequence — active bits only), per-table
    * equi-joins against the bucketed corpus union, (query, neighbor)
    * dedup by max (cosine is a pair function, so max is a no-op
    * semantically — it just collapses multi-table hits), ONE
    * WindowGroupLimit-pruned top-IvfTopK rollup.
    */
  private[graft] def lshTopkAutoServe(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Round16Queries.{AnnAutoMaxBits, KnnAutoMinBits}
    import SimilarityQueries.{IvfTopK, NQueries}
    val width = corpus.agg(count(lit(1)).as("n"))
      .select(
        greatest(lit(KnnAutoMinBits), least(lit(AnnAutoMaxBits),
          length(bin(col("n") - 1)))).cast("int").as("bits"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), bits) - 1"))
    // all tables' masked signatures in one corpus pass (the
    // embeddingAnnPairs discipline); narrow over the persisted corpus,
    // so re-evaluating it per table join costs a few cached-read dot
    // products, never a rescan
    val sigs = corpus.crossJoin(broadcast(width))
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
      val q = sigs.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), explode(probes).as("bucket"))
      bucketed.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
            .as("cosine"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    (0 until LshAutoTables).map(tableHits).reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= IvfTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Un-materialized auto-width serving-LSH pipeline plus its persisted
    * corpus stage — the declared row checkpoints and releases.
    */
  private[graft] def lshTopkAutoPlan(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val corpus = Corpus.nvecs(s, dir)
      .transform(Layouts.spread)
      .persist()
    (lshTopkAutoServe(corpus), Seq(corpus))
  }

  /** The auto-width serving-LSH oracle as a named val — the recall
    * audit nests this IDENTICAL statement (one definition, no drift).
    */
  private[graft] lazy val lshTopkAutoDuckSql: String = {
    import Round16Queries.{AnnAutoMaxBits, KnnAutoMinBits}
    import SimilarityQueries.{IvfTopK, NQueries}
    def sigSql(t: Int) = (0 until AnnAutoMaxBits).map { b =>
      val lits = SimilarityQueries.hyperplaneSet(t, AnnAutoMaxBits)(b)
        .mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val bitsSql =
      s"greatest($KnnAutoMinBits, least($AnnAutoMaxBits, length(bin(count(*) - 1))))"
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

  /** Exact L2 top-k truth for the PQ-family panel (PqNQueries queries,
    * k = PqTopK) — the sim_brute_topk shape with the score swapped to
    * squared L2 (the metric PQ/IVFPQ approximate). (query_id,
    * neighbor_id) projection: the recall joins need sets, not scores.
    */
  private def bruteL2Topk(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Round11Queries.{PqNQueries, PqTopK}
    val all = Corpus.nvecs(s, dir)
    val q = all.filter(col("vec_id") < PqNQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.dist2(col("v"), col("qv")), 6).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The matching DuckDB L2 truth (full statement, nested by the
    * contract recall oracle).
    */
  private def bruteL2DuckSql: String = {
    import Round11Queries.{PqNQueries, PqTopK}
    s"""WITH ${Corpus.nvecsDuck},
      q AS (SELECT vec_id AS query_id, v AS qv FROM vecs
            WHERE vec_id < $PqNQueries),
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
  }

  private def defFn(defs: Seq[QueryDef], name: String) =
    defs.find(_.name == name)
      .getOrElse(sys.error(s"no declared query named $name")).fn

  /** (panel label, declared index row, truth kind) — each contract
    * index is audited against the exact truth of ITS OWN metric and k:
    * the Lloyd-IVF rows serve cosine@10 (truth = the declared
    * sim_brute_topk, same k and tiebreak), PQ/IVFPQ serve L2@5, and
    * MIPS-LSH serves inner-product@5 (truth = the declared
    * sim_mips_topk).
    */
  private val ContractPanel: Seq[(String, String)] = Seq(
    "ivf_kmeans" -> "cos", "ivf_kmeans_auto" -> "cos",
    "pq" -> "l2", "ivfpq" -> "l2", "mips_lsh" -> "ip")

  val defs: Seq[QueryDef] = Seq(

    // ── ST27b: incremental ANN dedup at the auto-width substrate ─────
    // The round-17 twin (st_incremental_ann) is the TEACHING config —
    // its fixed 12-bit pair substrate hits the n²/2¹² candidate wall
    // past ~64k vectors (probe-measured: ×10 10.4 s → ×26 369 s). This
    // row is the config the online index would actually deploy: the
    // same arrival-order verdict reduction over the AUTO-width pair
    // pipeline (bits = clamp(⌈log2 n⌉, 8, 20) derived in-plan —
    // probe-measured near-linear through ×52). Both builders are shared
    // verbatim with their own declared rows (annAutoPairs ←
    // dedup_embedding_ann_auto, annVerdict ← st_incremental_ann), so
    // this row cannot drift from either; StreamingAnnDedupSpec's auto
    // arm pins the parameterized stream ≡ this row bit-for-bit.
    QueryDef(
      "st_incremental_ann_auto",
      (s, dir) => {
        val (pairs, v, sigs) = Round16Queries.annAutoPairs(s, dir)
        Layouts.materialize(
          (Round17Queries.annVerdict(pairs, v), Seq(sigs, v)))
      },
      Some(DedupQueries.annVerdictDuckSqlOver(Round16Queries.annAutoDuckSql)),
      doc = "ST27 batch twin at the scale-safe substrate: per vector " +
        "the smallest earlier sign-LSH ball-mate (AUTO width — bits = " +
        "clamp(ceil(log2 n), 8, 20) derived in-plan, radius-2, 4 " +
        "tables) with exact cosine >= tau, arrival order := vec_id " +
        "order; the production config of the streaming ANN index " +
        "(AnnDedupStream parameterized to the auto signatures), " +
        "spec-pinned bit-for-bit."),

    // ── V19: auto-width multi-table serving sign-LSH top-k ───────────
    // The BOUNDED-COST serving form of sim_lsh_topk: in-plan width
    // holds per-bucket load ~1, so candidates per query stay
    // ~tables·(1+bits) at ANY corpus size, where the fixed 8-bit
    // index's candidate set grows ∝ n (≈9k rows/query at ×52 — 3.5%
    // of the corpus and trending toward a brute scan). The V18 audit
    // MEASURES what that pruning costs here: recall 0.12/0.04/0.00 at
    // ×10/×26/×52 (decorrelated family) vs the fixed index's
    // 0.16/0.12/0.16 — because this corpus's
    // true top-5 neighbors sit at cosine 0.33–0.42 (per-bit sign
    // agreement p ≈ 0.63), where per-table catch decays as p^bits and
    // LSH theory prices recall-preserving scaling at L ~ n^ρ tables
    // with ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.67 — hundreds of tables by ×52.
    // The measured engineering conclusion (BASELINE.md round 18,
    // REVISED round 19): sign-LSH serving has NO recall-preserving
    // bounded-cost scale path in the mid-cosine regime; the
    // corpus-appropriate serving index is the Lloyd-TRAINED
    // count-derived IVF (sim_ivf_kmeans_topk_auto — 0.88–1.00 through
    // ×104 in the contract audit). Round 18 credited the SAMPLED-cell
    // IVF with recall 1.00, but that number was a broken prune (the
    // dense-id centroid rule collapsed the cell count on sparse-id
    // corpora, turning "probe npr cells" into a near-brute scan);
    // with honest hash-residue cells it reads 0.24–0.44 — sampling
    // doesn't preserve mid-cosine recall either, TRAINING does. This
    // row stays declared as the bounded-cost form precisely so the
    // audit keeps that trade-off measured rather than asserted.
    QueryDef(
      "sim_lsh_topk_auto",
      (s, dir) => Layouts.materialize(lshTopkAutoPlan(s, dir)),
      Some(lshTopkAutoDuckSql),
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

    // ── V20: measured recall of the k=10/k=5 contract indexes ────────
    // The V18 discipline applied retroactively (SURVEY §5 note 16:
    // every approximate row ships its recall twin): the five serving
    // indexes OUTSIDE the IvfTopK=5 cosine panel, each measured
    // against the exact truth of its own metric — Lloyd-IVF and its
    // count-derived twin at cosine@10 (truth = the DECLARED
    // sim_brute_topk, same k/tiebreak), PQ and IVFPQ at L2@5, and
    // simple-LSH MIPS at inner-product@5 (truth = the DECLARED
    // sim_mips_topk). Both the Spark side (the declared rows' own fn,
    // by name) and the oracle (their named-val SQL, nested verbatim)
    // reuse one definition per index, so the audit can never measure
    // a drifted copy. Denominator = per-(idx, query) truth count,
    // in-plan (the round-18 V18 rule).
    QueryDef(
      "sim_index_recall_contract",
      (s, dir) => {
        val truthOf = Map(
          "cos" -> defFn(SimilarityQueries.defs, "sim_brute_topk")(s, dir)
            .select(col("query_id"), col("neighbor_id")),
          "l2" -> bruteL2Topk(s, dir),
          "ip" -> defFn(Round12bQueries.defs, "sim_mips_topk")(s, dir)
            .select(col("query_id"), col("neighbor_id")))
        val idxFn = Map(
          "ivf_kmeans" -> defFn(Round11cQueries.defs, "sim_ivf_kmeans_topk"),
          "ivf_kmeans_auto" ->
            defFn(Round17Queries.defs, "sim_ivf_kmeans_topk_auto"),
          "pq" -> defFn(Round11Queries.defs, "sim_pq_topk"),
          "ivfpq" -> defFn(Round13bQueries.defs, "sim_ivfpq_topk"),
          "mips_lsh" -> defFn(Round12bQueries.defs, "sim_mips_lsh_topk"))
        ContractPanel.map { case (idx, kind) =>
          val truth = truthOf(kind)
          val approx = idxFn(idx)(s, dir)
            .select(col("query_id"), col("neighbor_id"))
          val tn = truth.groupBy(col("query_id"))
            .agg(count(lit(1)).as("t_n"))
          val hit = truth
            .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
            .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
          tn.join(hit, Seq("query_id"), "left")
            .select(lit(idx).as("idx"), col("query_id"),
              coalesce(col("h"), lit(0L)).as("hits"),
              (coalesce(col("h"), lit(0L)).cast("double") /
                col("t_n").cast("double")).as("recall"))
        }.reduce(_ unionByName _)
          .orderBy(col("idx"), col("query_id"))
      },
      Some {
        import SimilarityQueries.TopK
        val truthSql = Map(
          "cos" -> s"""(SELECT query_id, neighbor_id FROM
              (${SimilarityQueries.bruteTopkDuckSql(TopK)}) tc)""",
          "l2" -> s"($bruteL2DuckSql)",
          "ip" -> s"""(SELECT query_id, neighbor_id FROM
              (${Round12bQueries.mipsTopkDuckSql}) ti)""")
        val idxSql = Map(
          "ivf_kmeans" -> Round11cQueries.ivfKmeansTopkDuckSql,
          "ivf_kmeans_auto" -> Round17Queries.ivfKmeansTopkAutoDuckSql,
          "pq" -> Round11Queries.pqTopkDuckSql,
          "ivfpq" -> Round13bQueries.ivfpqTopkDuckSql,
          "mips_lsh" -> Round12bQueries.mipsLshTopkDuckSql)
        val truthArms = ContractPanel.map { case (idx, kind) =>
          s"SELECT '$idx' AS idx, query_id, neighbor_id FROM t_$kind"
        }.mkString("\n            UNION ALL\n            ")
        val approxArms = ContractPanel.map { case (idx, _) =>
          s"SELECT '$idx' AS idx, query_id, neighbor_id FROM i_$idx"
        }.mkString("\n            UNION ALL\n            ")
        val truthCtes = Seq("cos", "l2", "ip").map(k =>
          s"t_$k AS ${truthSql(k)}").mkString(",\n          ")
        val idxCtes = ContractPanel.map { case (idx, _) =>
          s"i_$idx AS (SELECT query_id, neighbor_id FROM (${idxSql(idx)}) s_$idx)"
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
      },
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
