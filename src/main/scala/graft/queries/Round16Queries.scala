package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Layouts
import Round13bQueries.{KcoreK, KcorePeels, kcoreSql, nodeStr}

/** Round-16 batch — the r15 verdict's remaining scale assumptions,
  * closed:
  *
  *  - graph_kcore_partitioned (below): the last graph operator whose
  *    per-round pruning assumed a broadcastable node set;
  *  - graph_triangles_capped: the ONLINE-computable triangle form (ID
  *    orientation + cap rule — no degree table needed), the batch twin
  *    of the ST26 streaming adjacency (streaming/TriangleStream.scala);
  *  - dedup_embedding_ann_auto: the bits ~ log2 n ANN width rule
  *    derived IN-PLAN from a 1-row broadcast count scalar (mask a
  *    MaxBits signature to the low clamp(bitlen(n−1), min, max) bits;
  *    runtime-length multiprobe) instead of a declaration-time
  *    constant — the same declared query holds per-bucket load ~1 at
  *    any corpus size (KnnGraphQueries' sim_knn_graph_auto applies the
  *    same rule, with these bounds, to the kNN graph).
  *
  * The k-core twin in detail — the co-partitioned discipline the rest
  * of the family already follows (R10b/R14b):
  *
  *  - graph_kcore_partitioned: k-core peeling with ZERO edge-side
  *    re-exchanges. The broadcast form's peel round is a degree rollup
  *    plus TWO node-sized broadcast semi-joins (one per endpoint);
  *    co-partitioning can kill the src-side one, but a dst-keyed
  *    semi-join would still re-shuffle the edge list every round. The
  *    twin avoids dst joins entirely by exploiting the edge list's
  *    SYMMETRY (both orientations are present): a node's degree inside
  *    the surviving subgraph equals the number of SURVIVING SOURCES
  *    pointing at it —
  *
  *      deg_i(v) = #{u ∈ K_{i−1} : (u,v) ∈ E} = #{u ∈ K_{i−1} : (v,u) ∈ E}
  *
  *    so each round is: survivors shuffle-hash-joined into the
  *    persisted HashPartitioning(src) edge layout (node-sized exchange,
  *    edge side reads its cached blocks in place), then ONE
  *    map-side-combined groupBy(dst) rollup (shuffle volume bounded by
  *    distinct-dst-per-partition, i.e. node-sized — never the edge
  *    list). Peeling is monotone (survivor sets only shrink, so a
  *    peeled node's surviving-neighbor count can never climb back over
  *    k), which is why the filter needs no membership check against the
  *    previous round. Exact integer counting makes the twin
  *    bit-identical to graph_kcore — the oracle is shared verbatim.
  *
  * Scale shape vs graph_kcore: per peel the broadcast form ships the
  * full surviving-node set to every executor twice; the twin's network
  * cost per peel is two node-sized hash shuffles and the edge list
  * never moves after the one up-front layout shuffle. At 100 TB (edge
  * lists of 10¹¹+ rows, node sets past the broadcast budget) the twin
  * is the only viable plan; on the fixture both agree to the row.
  */
object Round16Queries {

  import org.apache.spark.sql.DataFrame

  /** Per-node out-neighbor cap for graph_triangles_capped / ST26: the
    * id-oriented out-degree is NOT √m-bounded (a low-id hub keeps its
    * whole neighborhood — id orientation is what an online stream can
    * compute BEFORE degrees are known), so the cap is the bound:
    * wedge work ≤ C(cap,2) per node, node-linear at any hub degree. 32
    * binds on every fixture (id-oriented out-degrees reach 44+ at
    * sf0.001), so the cap path is genuinely exercised.
    */
  val TriCap = 32

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

  /** One co-partitioned peel: survivors `kPrev` (a `src` column)
    * shuffle-hash into the persisted edge layout, surviving-source
    * counts roll up per dst, threshold filter. Exposed so Round16Spec
    * can pin the round plan (ShuffledHashJoin, edge side reads its
    * cached blocks with zero re-exchange).
    */
  private[graft] def peelRound(e0: DataFrame, kPrev: DataFrame): DataFrame =
    e0.join(kPrev.hint("shuffle_hash"), "src")
      .groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
      .select(col("dst").as("src"))

  /** Round-1 survivor set (full-graph degree >= k) over the
    * co-partitioned layout: the grouping key IS the persisted
    * partitioning key, so this rollup aggregates in place with no
    * exchange. One definition shared by the declared query, Plans'
    * single-peel dump, and Round16Spec's replay (they drifted as three
    * inline copies before round 17).
    */
  private[graft] def firstSurvivors(e0: DataFrame): DataFrame =
    e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
      .select(col("src"))

  /** Un-materialized capped-triangle pipeline plus its two pinned
    * stages — (result, persisted pair set, checkpointed capped layout).
    * The declared row checkpoints the result and releases both; Plans
    * dumps this form (the checkpointed row's own executed plan is a
    * bare RDD scan).
    */
  private[graft] def cappedTrianglesPlan(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sos = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    // persisted: the capped rank, total-edge count, and max_out
    // diagnostic all consume the pair set (the orientedCoOrderEdges
    // discipline)
    val e = sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp").as("src"), col("y.sp").as("dst"))
      .distinct()
      .persist()
    e.count()
    val w = Window.partitionBy(col("src")).orderBy(col("dst").asc)
    // WindowGroupLimit bounds the rank map-side; the capped set is
    // materialized hash-partitioned on src so the wedge self-join
    // reads both sides from the layout with zero exchanges
    val capped = Layouts.partitioned(
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TriCap)
        .select(col("src"), col("dst")),
      Seq(col("src")))
    val wedges = capped.as("p").join(capped.as("q"),
        col("p.src") === col("q.src") && col("p.dst") < col("q.dst"))
      .select(col("p.dst").as("v"), col("q.dst").as("t"))
    val nTri = wedges
      .join(capped.select(col("src").as("v"), col("dst").as("t"))
        .hint("shuffle_hash"), Seq("v", "t"))
      .agg(count(lit(1)).as("triangles"))
    val nWedges = capped.groupBy(col("src"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("n_wedges"))
    val maxOut = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("max_out"))
    val res = nTri
      .crossJoin(broadcast(nWedges))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_edges_kept"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges_total"))))
      .crossJoin(broadcast(maxOut))
      .select(col("triangles"), col("n_wedges"),
        col("n_edges_kept"), col("n_edges_total"), col("max_out"))
    (res, e, capped)
  }

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
      .transform(graft.operators.Layouts.spread)
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

    // ── co-partitioned k-core peeling ────────────────────────────────
    QueryDef(
      "graph_kcore_partitioned",
      (s, dir) => {
        val ePart = RetrievalQueries.transactionEdges(s, dir, partitioned = true)
        val e0 = ePart.select(col("src"), col("dst")) // narrow: keeps the layout
        try {
          // round 1: the full-graph degree rollup — aggregates in place
          // (no exchange at all; see firstSurvivors)
          val k1 = firstSurvivors(e0)
          // rounds 2..KcorePeels: count surviving SOURCES per dst
          val kN = (2 to KcorePeels).foldLeft(k1) { (kPrev, _) =>
            peelRound(e0, kPrev)
          }
          // final projection: degrees inside the surviving subgraph,
          // restricted to survivors (a peeled node can retain surviving
          // neighbors; it must not appear in the output)
          e0.join(kN.hint("shuffle_hash"), "src")
            .groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg"))
            .join(kN.withColumnRenamed("src", "node").hint("shuffle_hash"),
              Seq("node"), "semi")
            .select(expr(nodeStr).as("node"), col("deg"))
            .orderBy(col("node"))
            .localCheckpoint(true)
        } finally Layouts.releaseCheckpoint(ePart)
      },
      Some(kcoreSql),
      doc = s"k-core peeling (k=$KcoreK, $KcorePeels rounds), " +
        "co-partitioned form: survivors shuffle-hash into the persisted " +
        "HashPartitioning(src) edge layout and degrees come off ONE " +
        "map-side-combined groupBy(dst) per round (edge symmetry: " +
        "surviving-source count = surviving-neighbor count) — zero " +
        "edge-side re-exchanges, no node-sized broadcast; bit-identical " +
        "to graph_kcore (shared oracle)."),

    // ── degree-capped triangle counting (the ST26 batch twin) ────────
    // graph_triangles bounds hub work by DEGREE orientation — which
    // needs the full degree table up front, something an online stream
    // never has. The capped form uses ID orientation (src < dst, a pure
    // per-edge function computable at arrival time) and bounds hub work
    // with the R13b cap rule instead: per node keep the TriCap smallest
    // out-neighbors. Deterministic ⇒ DuckDB replays the cap and the row
    // is hash-green; the count is exact ON THE CAPPED GRAPH (a lower
    // bound of graph_triangles — capped edges ⊆ edges). n_wedges comes
    // off the out-degree rollup as Σ C(k,2), never the wedge stream
    // (the 9b75d41 lesson); max_out reports the UNCAPPED id-oriented
    // hub as the skew witness the cap defuses.
    QueryDef(
      "graph_triangles_capped",
      (s, dir) => {
        val (res, e, capped) = cappedTrianglesPlan(s, dir)
        try res.localCheckpoint(true)
        finally { Layouts.releaseCheckpoint(capped); e.unpersist(false) }
      },
      Some(s"""WITH sos AS (
          SELECT DISTINCT l_orderkey AS ord, l_partkey AS sp FROM lineitem),
        e AS (
          SELECT DISTINCT x.sp AS src, y.sp AS dst
          FROM sos x JOIN sos y ON x.ord = y.ord AND x.sp < y.sp),
        capped AS (
          SELECT src, dst FROM (
            SELECT src, dst,
              row_number() OVER (PARTITION BY src ORDER BY dst ASC) AS rn
            FROM e) WHERE rn <= $TriCap),
        wedges AS (
          SELECT p.dst AS v, q.dst AS t
          FROM capped p JOIN capped q ON p.src = q.src AND p.dst < q.dst),
        closed AS (
          SELECT CAST(count(c.src) AS BIGINT) AS triangles
          FROM wedges LEFT JOIN capped c ON wedges.v = c.src AND wedges.t = c.dst)
        SELECT triangles,
          (SELECT CAST(sum(k * (k - 1) // 2) AS BIGINT) FROM
            (SELECT count(*) AS k FROM capped GROUP BY src)) AS n_wedges,
          (SELECT count(*) FROM capped) AS n_edges_kept,
          (SELECT count(*) FROM e) AS n_edges_total,
          (SELECT CAST(max(c) AS BIGINT) FROM
            (SELECT count(*) AS c FROM e GROUP BY src)) AS max_out
        FROM closed"""),
      doc = s"Degree-capped triangles (cap=$TriCap smallest out-neighbors " +
        "per node under ID orientation — the orientation a stream can " +
        "compute at arrival, no degree table needed): wedge work bounded " +
        "at C(cap,2) per node (node-linear) where id orientation alone " +
        "is hub-quadratic; exact integers on the capped graph, a lower " +
        "bound of graph_triangles; the ST26 streaming state reconstructs " +
        "exactly this capped adjacency."),

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
        try pairs.localCheckpoint(true)
        finally { sigs.unpersist(false); v.unpersist(false) }
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
