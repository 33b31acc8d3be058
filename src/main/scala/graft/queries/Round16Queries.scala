package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Layouts

/** Round-16 batch — the r15 verdict's remaining scale assumptions,
  * closed:
  *
  *  - dedup_embedding_ann_auto: the bits ~ log2 n ANN width rule
  *    derived IN-PLAN from a 1-row broadcast count scalar (mask a
  *    MaxBits signature to the low clamp(bitlen(n−1), min, max) bits;
  *    runtime-length multiprobe) instead of a declaration-time
  *    constant — the same declared query holds per-bucket load ~1 at
  *    any corpus size (KnnGraphQueries' sim_knn_graph_auto applies the
  *    same rule, with these bounds, to the kNN graph).
  */
object Round16Queries {

  import org.apache.spark.sql.DataFrame

  /** Auto-width ANN signature bounds: bits = clamp(⌈log2 n⌉, min, max).
    * Max 18 keeps the per-vector sign pass at 2×18 codegen'd dot
    * products and covers corpora to ~262 k at per-bucket load ≤ 1
    * (beyond, raise the constant — one line, not a per-dataset retune;
    * the first probe run at max=16 showed exactly the documented
    * failure mode: flat to ×26, then the ×52 leg's 104 k vectors
    * crossed 2¹⁶ and candidates resumed growing ∝ n²/2¹⁶ — 10.7 →
    * 46.0 s; at max=18 the ×52 leg derives bits=17 and the trajectory
    * stays near-linear, BASELINE.md round-16 table); min 8 floors tiny
    * fixtures at the teaching width so the multiprobe join stays
    * exercised.
    */
  val KnnAutoMaxBits = 18
  val KnnAutoMinBits = 8

  /** Auto-width ANN-dedup signature ceiling: Long bucket keys, so the
    * rule runs far past the kNN row's Int range — 20 keeps the
    * radius-2 probe ball at 1 + 20 + C(20,2) = 211 masks and covers
    * corpora to ~1 M at per-bucket load ≤ 1 (beyond: raise the
    * constant; the [1, 62] Long-wrap guard is the hard wall).
    */
  val AnnAutoMaxBits = 20

  /** Grid fan-out of the two-sided hot-bucket guard: a hot bucket's
    * home block shrinks ×8 per task (its probe rows replicate ×8 —
    * narrow rows, candidate volume unchanged).
    */
  val AnnGridWays = 8

  /** Un-materialized auto-width sign-LSH dedup pipeline plus its two
    * persisted stages — (pairs, vectors, signatures). Same knobs as the
    * declared dedup_embedding_ann_scaled row (radius 2, 4 tables,
    * τ=0.45) with bits derived IN-PLAN: the signature is computed at
    * AnnAutoMaxBits once per table and masked to the low
    * clamp(bitlen(n−1), 8, 20) bits (masking IS the narrower index —
    * its first `bits` hyperplanes), the radius-2 Hamming ball is
    * generated from RUNTIME-length sequences (only active bits ever
    * flip), and the first-matching-table dedup compares MASKED
    * signatures so the union stays duplicate-free by construction at
    * any derived width.
    */
  private[graft] def annAutoPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      // non-zero routes each table's candidate join through the
      // two-sided hot-bucket grid guard (Salting.gridJoinPairs,
      // hotLoad = this — Salting.DeriveHotLoad derives the threshold
      // in-plan as the load rollup's own p99, grid = AnnGridWays) —
      // pair set verbatim-identical, task skew bounded (the round-17b
      // load-profile finding: the hottest buckets are true
      // near-neighbor clusters no width can split)
      gridHotLoad: Long = 0L)
      : (DataFrame, DataFrame, DataFrame) = {
    import DedupQueries.{AnnProbeRadius, AnnTables, CosineTau}
    // mirror gridJoinPairs' contract (plus 0 = guard off): any OTHER
    // negative value would otherwise route as "hot" through the
    // != 0L check below instead of failing loudly
    require(gridHotLoad >= 0L ||
        gridHotLoad == graft.operators.Salting.DeriveHotLoad,
      s"gridHotLoad must be 0 (guard off), a positive threshold, or " +
        s"Salting.DeriveHotLoad, got $gridHotLoad")
    val base = Corpus.nvecs(s, dir)
    val width = base.agg(count(lit(1)).as("n"))
      .select(
        greatest(lit(KnnAutoMinBits), least(lit(AnnAutoMaxBits),
          length(bin(col("n") - 1)))).cast("int").as("bits"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), bits) - 1"))
    val v = base
      .crossJoin(broadcast(width))
      .transform(Layouts.spread)
      .persist()
    def sigCol(t: Int) = (0 until AnnAutoMaxBits).map { b =>
      when(VectorOps.dot(col("v"),
        typedLit(SimilarityQueries.hyperplaneSet(t, AnnAutoMaxBits)(b))) >= 0.0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // all tables' MASKED signatures in one corpus pass (the
    // embeddingAnnPairs discipline); persisted because every table's
    // candidate join reads it twice (probe + build side)
    val sigs = v.select(
      Seq(col("vec_id"), col("bits"), col("mask")) ++
        (0 until AnnTables).map(t =>
          sigCol(t).bitwiseAND(col("mask")).as(s"sig_$t")): _*)
      .persist()
    // per-table probes: own masked bucket + the radius-1 flips + the
    // radius-2 double flips, all over ACTIVE bits only (runtime-length
    // sequences — the masked domain)
    def probesCol(t: Int) = expr(Seq(
      s"array(sig_$t)",
      s"""transform(sequence(0, bits - 1),
            i -> sig_$t ^ shiftleft(CAST(1 AS BIGINT), i))""",
      s"""flatten(transform(sequence(0, bits - 2),
            i -> transform(sequence(i + 1, bits - 1),
              j -> sig_$t ^ shiftleft(CAST(1 AS BIGINT), i)
                         ^ shiftleft(CAST(1 AS BIGINT), j))))""")
      .mkString("concat(", ",\n", ")"))
    val aCols = (0 until AnnTables).map(t => col(s"sig_$t").as(s"a_sig_$t"))
    val bCols = (0 until AnnTables).map(t => col(s"sig_$t").as(s"b_sig_$t"))
    // guard hot sets: ALL tables' home-bucket load rollups in ONE job
    // (union keyed by table, one shuffle, one per-table threshold agg),
    // then the bounded tail COLLECTED (≤ GuardMaxHotKeys per table —
    // a documented bounded scalar read, the top-0.1% by construction)
    // so each table's candidate join routes through codegen'd
    // isInCollection predicates with ZERO extra joins. Deriving the
    // set inline per gridJoinPairs call measured ~4 sequential stage
    // barriers + 2 broadcast tag joins each — a near-constant
    // multi-second tax per table at ANY corpus size (round 18:
    // 6.7 → 15.2 s on the guarded bench row before this hoist).
    val hotByTable: Map[Int, Seq[Long]] =
      if (gridHotLoad == 0L) Map.empty.withDefaultValue(Seq.empty)
      else {
        val allLoads = (0 until AnnTables).map(t =>
          sigs.select(lit(t).as("t"), col(s"sig_$t").as("s")))
          .reduce(_ unionByName _)
          .groupBy(col("t"), col("s")).agg(count(lit(1)).as("__load"))
        val hotAll = (if (gridHotLoad == graft.operators.Salting.DeriveHotLoad) {
          val thr = allLoads.groupBy(col("t")).agg(
            expr(s"approx_percentile(__load, " +
              s"${graft.operators.Salting.GuardTailQuantile}, 10000)")
              .as("__thr"))
          allLoads.join(broadcast(thr), Seq("t"))
            .filter(col("__load") > col("__thr"))
        } else allLoads.filter(col("__load") > gridHotLoad))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy(col("t"))
          .orderBy(col("__load").desc, col("s").asc)
        val collected = hotAll
          .withColumn("__rk", row_number().over(wTop))
          .filter(col("__rk") <= graft.operators.Salting.GuardMaxHotKeys)
          .select(col("t"), col("s"))
          .collect()
          .groupBy(_.getInt(0)).view
          .mapValues(_.map(_.getLong(1)).toSeq).toMap
        collected.withDefaultValue(Seq.empty)
      }
    val cand = (0 until AnnTables).map { t =>
      // first-matching-table dedup over the MASKED signatures — a pair
      // emits here iff every earlier table missed it (bit_count of the
      // masked XOR > the probe radius), so the union is duplicate-free without a
      // distinct() shuffle (the embeddingAnnPairs trick)
      val firstMatchHere = (0 until t)
        .map(p => bit_count(col(s"a_sig_$p").bitwiseXOR(col(s"b_sig_$p"))) > AnnProbeRadius)
        .foldLeft(lit(true))(_ && _)
      val probesDf = sigs.select(Seq(col("vec_id").as("vec_a"),
          probesCol(t).as("probes")) ++ aCols: _*)
        .withColumn("s", explode(col("probes")))
        .drop("probes")
      val homesDf = sigs.select(col("vec_id").as("vec_b") +: bCols: _*)
        .withColumn("s", col(s"b_sig_$t"))
      val joined =
        if (gridHotLoad != 0L)
          graft.operators.Salting.gridJoinPairsInSet(
            probesDf, homesDf, "s", "vec_b", AnnGridWays, hotByTable(t))
        else probesDf.join(homesDf, "s")
      joined
        .filter(col("vec_a") < col("vec_b") && firstMatchHere)
        .select(col("vec_a"), col("vec_b"))
    }.reduce(_ union _)
    val pairs = cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= CosineTau)
      .orderBy(col("vec_a"), col("vec_b"))
    (pairs, v, sigs)
  }

  /** The auto-width ANN oracle as a named val - shared VERBATIM by
    * the declared row and its round-17b hot-bucket-guarded twin (the
    * guard preserves the pair set exactly, so one oracle serves both).
    */
  private[graft] val annAutoDuckSql: String = {

        val tables = DedupQueries.AnnTables
        def sigSql(t: Int) = (0 until AnnAutoMaxBits).map { b =>
          val lits = SimilarityQueries.hyperplaneSet(t, AnnAutoMaxBits)(b)
            .mkString("[", ", ", "]")
          s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        val bitsSql =
          s"greatest($KnnAutoMinBits, least($AnnAutoMaxBits, length(bin(count(*) - 1))))"
        def probesSql(t: Int) =
          s"""list_concat(list_concat(
              [sig_$t],
              list_transform(range(0, bits),
                i -> xor(sig_$t, CAST(1 AS BIGINT) << i))),
              flatten(list_transform(range(0, bits - 1),
                i -> list_transform(range(i + 1, bits),
                  j -> xor(xor(sig_$t, CAST(1 AS BIGINT) << i),
                           CAST(1 AS BIGINT) << j)))))"""
        val perTable = (0 until tables).map { t =>
          s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM (SELECT vec_id, unnest(${probesSql(t)}) AS s
                    FROM sigs CROSS JOIN width) a
              JOIN sigs b ON a.s = b.sig_$t AND a.vec_id < b.vec_id"""
        }.mkString("\n        UNION\n        ")
        s"""WITH vecs AS (
            SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v
            FROM embeddings),
          nvecs AS (
            SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM vecs),
          width AS (
            SELECT $bitsSql AS bits,
              (CAST(1 AS BIGINT) << $bitsSql) - 1 AS mask FROM vecs),
          sigs AS (
            SELECT vec_id, ${(0 until tables)
              .map(t => s"(${sigSql(t)}) & mask AS sig_$t").mkString(", ")}
            FROM nvecs CROSS JOIN width),
          cand AS (
            $perTable)
          SELECT c.vec_a, c.vec_b,
            round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
          FROM cand c
          JOIN nvecs a ON a.vec_id = c.vec_a
          JOIN nvecs b ON b.vec_id = c.vec_b
          WHERE round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
            >= ${DedupQueries.CosineTau}
          ORDER BY vec_a, vec_b"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ── auto-width ANN dedup (the D5c rule derived in-plan) ──────────
    // dedup_embedding_ann_scaled fixes bits=12 at declaration time;
    // this twin derives it from the corpus count — the same masking
    // trick as sim_knn_graph_auto on Long keys, with the radius-2
    // Hamming ball generated from runtime-length sequences and the
    // first-matching-table dedup comparing masked signatures. Same
    // radius/tables/τ as the scaled row, so the two declared queries
    // differ in exactly the knob under test (constant vs derived
    // width).
    QueryDef(
      "dedup_embedding_ann_auto",
      (s, dir) => {
        val (pairs, v, sigs) = annAutoPairs(s, dir)
        Layouts.materialize((pairs, Seq(sigs, v)))
      },
      Some(annAutoDuckSql),
      doc = s"Auto-width sign-LSH dedup: bits = clamp(ceil(log2 n), " +
        s"$KnnAutoMinBits, $AnnAutoMaxBits) derived in-plan on LONG " +
        "bucket keys (the rule runs to 62 bits); radius-2 Hamming ball " +
        "from runtime-length sequences, masked-signature first-table " +
        "dedup keeps the union duplicate-free at any derived width; " +
        "same radius/tables/tau as dedup_embedding_ann_scaled — the " +
        "two rows differ in exactly the width knob."),

    // ── semantic clusters over the auto-width kNN build ──────────────
    // Completes the V12 family onto the in-plan width rule: V12
    // (fixture 8-bit) → V12b (declared 12-bit) → auto (derived). The
    // cluster stage — τ-edges, the shared CC operator, singleton fill —
    // is IDENTICAL (Round13Queries.clusterStage); only the kNN build
    // feeding it changes, which is the whole point: the same declared
    // clustering query keeps candidate volume ~n·k at any corpus size
    // with no per-dataset width retune.
    QueryDef(
      "sim_semantic_clusters_auto",
      (s, dir) => Round13Queries.clusterStage(s, dir,
        KnnGraphQueries.declared(KnnGraphQueries.autoGraph)(s, dir)),
      None,
      doc = "Semantic clusters over the auto-width kNN graph: the V12 " +
        "composition with the in-plan bits = clamp(ceil(log2 n), 8, 18) " +
        "index — same tau-edge -> shared-CC -> singleton-fill stage, " +
        "only the kNN build (and with it the scale behavior) changes. " +
        "Oracle split (SURVEY §5 note 14): rows-only here; " +
        "sim_semantic_edges_auto is the hash-green edge half, " +
        "Round16Spec union-finds the closure."),

    // ── canonical τ-edges over the auto-width kNN build ──────────────
    // Hash-green half of the auto cluster oracle split: the derived-
    // width signature/probe/cosine/rank chain stays value-exact in
    // DuckDB (the knnAutoDuckCtes replay) while the CC closure — the
    // recursive-CTE line that timed the round-16 gate out — moves to
    // the spec union-find.
    QueryDef(
      "sim_semantic_edges_auto",
      (s, dir) => Round13Queries.tauEdges(
        KnnGraphQueries.declared(KnnGraphQueries.autoGraph)(s, dir)),
      Some(Round13Queries.tauEdgesSqlOver(KnnGraphQueries.knnAutoDuckCtes)),
      doc = "Canonical undirected tau-edges of the auto-width kNN graph " +
        "(bits = clamp(ceil(log2 n), 8, 18) derived in-plan) — the " +
        "exact CC input of sim_semantic_clusters_auto; hash-green " +
        "replacement for the retired recursive-closure oracle."),
  )
}
