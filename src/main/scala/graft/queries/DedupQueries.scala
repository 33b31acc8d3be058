package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Layouts
import graft.queries.Corpus.{h60Duck, h60Spark}

/** Deduplication operators for a training-data pipeline, over
  * `documents(doc_id, text, ...)` and `embeddings(vec_id, embedding)`.
  *
  * Cross-engine determinism: every hash is derived from md5 (identical in
  * Spark and DuckDB) reduced to a 60-bit integer, and all float folds are
  * sequential left-folds (Spark `aggregate` ≙ DuckDB `list_reduce`), so
  * the oracle comparison is bit-exact.
  *
  * Scale story (100 TB): every family has a bucketed path — exact dedup
  * (hash shuffle), ngram-jaccard (AllPairs/PPJoin prefix filter),
  * minhash-LSH (band buckets), simhash (dedup_simhash_banded, pigeonhole
  * bands), embedding cosine (dedup_embedding_ann, sign-LSH buckets) —
  * one shuffle on a bucket key, never an O(n²) compare. The remaining
  * all-pairs forms (dedup_simhash, dedup_embedding_cosine) are the
  * declared reference/recall oracles over the bounded fixtures.
  */
object DedupQueries {

  // ── shared minhash constants (embedded in both engines' exprs) ─────
  val P: Long = 4294967311L // prime > 2^32; keeps a*h+b < 2^63
  val K: Int = 32 // minhash permutations
  val BANDS: Int = 8
  val ROWS: Int = 4 // K = BANDS * ROWS
  val A: Seq[Long] = (1 to K).map(i => (2654435761L * i) % 1073741789L + 1L)
  val B: Seq[Long] = (1 to K).map(i => (40503L * i * i + 2747636419L) % 1073741789L)

  val JaccardTau = 0.8
  val SimhashMaxHamming = 12
  val CosineTau = 0.45

  /** Independent sign-LSH tables for dedup_embedding_ann, and the probe
    * radius within each: a pair is a candidate iff its 8-bit signatures
    * are within Hamming `AnnProbeRadius` in ≥1 table. The fixture's
    * planted pairs sit at cosine 0.45-0.51 — sign-LSH's hardest regime
    * (per-bit agreement only ~0.65) — so recall needs radius 2
    * (1+8+28 = 37 probes/table): measured 12/14 = 0.86 vs 8/14 at radius
    * 1 (DedupAnnRecallSpec pins it). At a production τ ≥ 0.9 the same
    * configuration is ≈1.0-recall with radius 1. Probe count is
    * corpus-independent, so the scan stays one pass per table.
    */
  val AnnTables = 4
  val AnnProbeRadius = 2
  /** Signature width for the declared width-scaled ANN dedup
    * (`dedup_embedding_ann_scaled`): bits ~ log2(n) holds bucket load
    * n/2^bits at ~1, which is what keeps the candidate join linear —
    * candidate volume is n·probes·tables·load, so the fixed-width 8-bit
    * form saturates past ~50k vectors (load = n/256) while this one
    * tracks the corpus. 12 bits ≈ log2 of the sf0.1 corpus (5k vectors,
    * load 1.2; the sf0.01 correctness fixture runs under-loaded at 0.12,
    * which only makes buckets sparser, never wrong). The signatures are
    * Long keys, so the rule holds to the 100 TB regime: 400B vectors →
    * ~39 bits, well inside the 62-bit cap.
    */
  val AnnScaledBits = 12
  /** XOR masks enumerating the Hamming ball of the given radius over a
    * `bits`-wide signature. Signatures are LONG bucket keys (`1L << b`),
    * so the width rule bits ~ log2(n) holds all the way to the 100 TB
    * regime — a 400B-vector corpus wants ~39 bits, past an Int key's 31.
    * Width is capped at 62: bit 63 is the Long sign bit and 62 bits
    * already address 4.6e18 buckets. An over-wide configuration fails
    * loudly here instead of wrapping and silently aliasing buckets.
    */
  def probeMasks(bits: Int, radius: Int): Seq[Long] = {
    require(bits >= 1 && bits <= 62,
      s"signature width $bits outside [1, 62]: Long bucket keys wrap past 62 bits")
    val r1 = (0 until bits).map(1L << _)
    val r2 = for { i <- 0 until bits; j <- i + 1 until bits }
      yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (radius >= 1) r1 else Seq.empty) ++
      (if (radius >= 2) r2 else Seq.empty)
  }
  val AnnProbeMasks: Seq[Long] =
    probeMasks(SimilarityQueries.NBits, AnnProbeRadius)

  /** Bands for the lossless simhash bucket join. Pigeonhole: two
    * signatures within Hamming distance d agree EXACTLY on ≥1 band iff
    * the band count exceeds d (d differing bits can touch at most d
    * bands) — so losslessness at radius 12 needs 13 bands, NOT "4 bands
    * of 15 bits" (4 bands only guarantee radius ≤ 3; 12 differing bits
    * trivially cover all 4). The price of the loose declared radius is
    * narrow bands: 60/13 ≈ 4.6 bits ⇒ 16-32 bucket values per band. At
    * the classic production radius d=3 the same query shape runs with 4
    * bands of 15 bits (32k buckets/band) and prunes ~2^15× harder — the
    * Manku et al. WWW'07 configuration. Radius is the knob: bands = d+1,
    * width = 60/(d+1).
    */
  val SimhashBandCount: Int = SimhashMaxHamming + 1 // 13
  /** Max Hamming for the TIGHT banded form — the classic production
    * radius (Manku et al. WWW'07 run d=3 over 64-bit signatures). bands
    * = d+1 = 4 of 15 bits ⇒ 32k bucket values per band, ~2^15× harder
    * pruning than the 13 narrow bands the loose declared radius forces:
    * candidate volume per band is Σ load² over buckets, so bucket count
    * is the whole game. This is the regime where banded simhash is
    * linear in the TRUE pair count rather than the fixture's Θ(n²)-dense
    * admitted set.
    */
  val SimhashTightMaxHamming = 3
  /** (bit offset, width) per band for a given radius: bands = radius+1
    * (pigeonhole losslessness needs MORE bands than differing bits),
    * widths split 60 as evenly as possible — e.g. radius 12 → 8 bands of
    * 5 bits + 5 of 4; radius 3 → 4 bands of 15.
    */
  def simhashBandDefs(maxHamming: Int): Seq[(Int, Int)] = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= 60, s"radius $maxHamming needs $bands bands, outside [1, 60]")
    val base = 60 / bands
    val extra = 60 % bands
    val widths = Seq.fill(extra)(base + 1) ++ Seq.fill(bands - extra)(base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }
  /** (bit offset, width) per band: 8 bands of 5 bits + 5 of 4 = 60. */
  val SimhashBandDefs: Seq[(Int, Int)] = simhashBandDefs(SimhashMaxHamming)

  /** documents → (doc_id, shingles: distinct word 3-grams). The fixture
    * is one small parquet file (= one scan partition); `Corpus.toks`
    * spreads the raw rows to `Layouts.spread`'s size-derived width (1 for
    * the fixtures at the default 128 MB `maxPartitionBytes`, up to
    * defaultParallelism as the corpus grows) before the interpreted
    * shingling transform runs.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    // Corpus.toks repartitions the RAW rows first (cheap: doc_id + text),
    // THEN tokenizes. Tokenizing before the exchange looks harmless but
    // (a) runs split() on the single scan partition of a small-file
    // corpus and (b) ships the token arrays through the shuffle —
    // measured 2× slower at sf0.1. The toks column is written ONCE and
    // referenced by name in the lambda (never re-split per element —
    // that textual-inlining trap is what made text_ngram_freq O(words²)
    // before round 2).
    Corpus.toks(s, dir)
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles",
        array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))

  private val shingledDuck =
    s"""sh AS (
         SELECT doc_id,
           list_distinct(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
         FROM ${Corpus.toksDuck()}
         WHERE len(toks) >= 3)"""

  /** Single-pass codegen'd |A∩B|/|A∪B| (graft.functions.JaccardSim) —
    * bit-identical to size(array_intersect)/size(array_union) (integer
    * cardinalities, one double division; pinned by JaccardSimSpec) but
    * allocates no intermediate arrays in the verify-join inner loop.
    */
  /** documents → (doc_id, 60-bit word-level simhash). Shared by the
    * all-pairs reference form and the banded scale form — the signature
    * computation is ONE narrow pass either way.
    */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("hs", expr(
        s"transform(array_distinct(split(lower(text), ' ')), t -> ${h60Spark("t")})"))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 59), cast(0 as bigint),
           (acc, b) -> acc + CASE WHEN 2 * size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) > size(hs)
                             THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END)"""))
      .select(col("doc_id"), col("simhash"))

  /** The banded pair pipeline, pre-checkpoint — returned with its
    * persisted signature stage so the QueryDef can materialize it;
    * exposed package-private so PlanSpec can assert the bucket-join shape
    * (the checkpointed result's plan is just a scan).
    */
  private[graft] def simhashBandedPairs(
      s: SparkSession, dir: String,
      maxHamming: Int = SimhashMaxHamming): (DataFrame, DataFrame) = {
    val bandDefs = simhashBandDefs(maxHamming)
    val docs = simhashSigs(s, dir)
      .transform(Layouts.spread)
      .persist()
    val bandVals = array(bandDefs.map { case (off, w) =>
      expr(s"shiftright(simhash, $off) & ${(1L << w) - 1}L")
    }: _*)
    val banded = docs.select(col("doc_id"), col("simhash"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    // A pair sharing k bands appears k times in the bucket join; emit it
    // ONLY at its first (lowest-index) agreeing band — a per-row filter
    // (13 mask compares against the riding signatures) instead of a
    // distinct(), which would shuffle the full candidate set a second
    // time. On this fixture that set is ~5.5M rows at sf0.1 (the declared
    // radius 12 qualifies 44% of ALL pairs, so the OUTPUT is Θ(n²)-dense
    // by construction and no candidate scheme can be sublinear in it; at
    // a production radius the same plan prunes like classic LSH).
    val firstBand = expr("CASE " + bandDefs.zipWithIndex.map {
      case ((off, w), i) =>
        val m = (1L << w) - 1
        s"WHEN (shiftright(a.simhash, $off) & ${m}L) = (shiftright(b.simhash, $off) & ${m}L) THEN $i"
    }.mkString(" ") + " END")
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.band_idx") === firstBand)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // NO global orderBy: the output is the one Θ(n²)-dense pair set in
    // the suite (the fixture radius admits 44% of all pairs), and a total
    // sort is a full range-partition shuffle of it — the single biggest
    // line item in the round-7 bench. The driver's compare row-sorts both
    // sides before hashing (tools/check.py canon()), so the declared
    // result is the pair SET; QueryDef's total-ORDER-BY contract note
    // documents this exemption.
    (pairs, docs)
  }

  /** The banded pipeline with the SKEW GUARD on the bucket join: buckets
    * whose load exceeds `hotLoad` route through Salting.gridSelfPairs'
    * fragment-replicate grid — a hot band value (boilerplate docs) costs
    * grid² tasks of (2H/grid)² instead of ONE task of H². Pair set is
    * identical (the grid emits each unordered pair exactly once, the
    * cold path is the plain equi-join), so the all-pairs oracle carries
    * over unchanged. The threshold defaults to the IN-PLAN p999 tail of
    * the band-bucket load rollup (round 19 — the Salting.DeriveHotLoad
    * discipline the ANN guard adopted in round 18, retiring the last
    * declared load constant: as corpora drift, a fixed 256 silently
    * stops tracking the tail; the threshold only routes buckets between
    * equivalent arms, so the pair set is invariant). Package-private
    * for SkewGuardSpec's planted-hot-bucket probe.
    */
  private[graft] def simhashBandedPairsGuarded(
      s: SparkSession, dir: String,
      maxHamming: Int = SimhashTightMaxHamming,
      grid: Int = 8,
      hotLoad: Long = graft.operators.Salting.DeriveHotLoad)
      : (DataFrame, DataFrame) = {
    val bandDefs = simhashBandDefs(maxHamming)
    val docs = simhashSigs(s, dir)
      .transform(Layouts.spread)
      .persist()
    val bandVals = array(bandDefs.map { case (off, w) =>
      expr(s"shiftright(simhash, $off) & ${(1L << w) - 1}L")
    }: _*)
    val banded = docs.select(col("doc_id"), col("simhash"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    val cand = graft.operators.Salting.gridSelfPairs(banded,
      Seq("band_idx", "band_val"), "doc_id", Seq("simhash"), grid, hotLoad)
    // same first-agreeing-band dedup as the unguarded path, over the
    // prefixed pair columns
    val firstBand = expr("CASE " + bandDefs.zipWithIndex.map {
      case ((off, w), i) =>
        val m = (1L << w) - 1
        s"WHEN (shiftright(a_simhash, $off) & ${m}L) = (shiftright(b_simhash, $off) & ${m}L) THEN $i"
    }.mkString(" ") + " END")
    val pairs = cand.filter(col("band_idx") === firstBand)
      .select(
        col("a_doc_id").as("doc_a"), col("b_doc_id").as("doc_b"),
        expr("bit_count(a_simhash ^ b_simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (pairs, docs)
  }

  /** All-pairs simhash oracle — tractable at fixture scale in DuckDB, and
    * (banding being lossless) the oracle for BOTH declared forms.
    */
  private def simhashPairsDuckSql: String = simhashPairsDuckSqlAt(SimhashMaxHamming)

  private def simhashPairsDuckSqlAt(maxHamming: Int): String =
    s"""WITH hashed AS (
          SELECT doc_id,
            list_transform(list_distinct(${Corpus.tokensDuck("text")}), t -> ${h60Duck("t")}) AS hs
          FROM documents),
        sh AS (
          SELECT doc_id,
            CAST(list_sum(list_transform(range(60),
              b -> CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
                   THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
          FROM hashed)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
        ORDER BY doc_a, doc_b"""

  private def jaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.JaccardSim(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  private val jaccardDuck =
    "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(list_distinct(list_concat(a.shingles, b.shingles)))"

  /** MinHash-LSH near-duplicate pairs (doc_a < doc_b, jaccard ≥ τ),
    * unordered — shared by `dedup_minhash_lsh` (pair listing) and
    * `dedup_cluster_cc` (component resolution over the pair graph).
    */
  /** dedup_cluster_cc's pipeline: LSH pair graph → connected
    * components (per-round localCheckpoint — single box) → per-cluster
    * sizes.
    */
  def clusterCc(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val labels = graft.operators.ConnectedComponents.run(edges)
    val w = Window.partitionBy(col("cluster_id"))
    labels
      .select(col("cluster_id"), col("node").as("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  private[queries] def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Persist each narrow stage: without the InMemoryRelation barriers,
    // CollapseProject inlines the shingle-hash expression into all 32
    // permutation mins and both join sides — a multiplicative
    // expression-tree blowup that took minutes to optimize/execute even
    // at sf0.001.
    val sh = shingled(s, dir).select(col("doc_id"), col("shingles")).persist()
    // hs is referenced exactly once (by the sig expression), so this
    // stage stays unpersisted: CollapseProject inlines it a single
    // time — no multiplicative blowup (unlike shingled/buckets, which
    // ARE multi-referenced and stay persisted). Measured: persisting
    // it costs ~0.8 s at sf0.1 (extra materialization round).
    val hs = sh
      .withColumn("hs", expr(s"transform(shingles, s -> ${h60Spark("s")} % ${P}L)"))
      .select(col("doc_id"), col("hs"))
    // K minhash values in ONE codegen'd pass (graft.functions.
    // MinHashSig — bit-identical to the K-pass declarative form the
    // oracle runs), then BANDS band-signature strings.
    val sigCol = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftColumnBridge.expression(col("hs")), A, B, P))
    // explode to (band_idx, band_sig, doc_id) and bucket-join: this is
    // the single shuffle that replaces the O(n^2) compare at scale.
    // Buckets stay NARROW (no shingles) — candidate pairs join back to
    // the shingle table for the verify step, so the band shuffle moves
    // only (doc_id, band_idx, band_sig).
    val buckets = hs
      .withColumn("sig", sigCol)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${BANDS - 1}), b -> array_join(transform(slice(sig, b * $ROWS + 1, $ROWS), v -> cast(v as string)), '_'))"))
        .as(Seq("band_idx", "band_sig")))
      .persist()
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    Layouts.materialize((
      cand
        .join(sh.toDF("doc_a", "sa"), "doc_a")
        .join(sh.toDF("doc_b", "sb"), "doc_b")
        .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 6))
        .filter(col("jaccard") >= JaccardTau)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      Seq(sh, buckets)))
  }

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the
    * oracle mirror of [[minhashPairs]]; callers append their own final
    * SELECT (and further CTEs).
    */
  private val minhashPairsDuckBody: String = {
    val sigExpr = (0 until K).map { i =>
      s"list_min(list_transform(hs, h -> (CAST(${A(i)} AS BIGINT) * h + ${B(i)}) % $P))"
    }.mkString("[", ", ", "]")
    val jac = "round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))), 6)"
    s"""$shingledDuck,
      hashed AS (
        SELECT doc_id, shingles,
          list_transform(shingles, s -> ${h60Duck("s")} % $P) AS hs
        FROM sh),
      sigs AS (
        SELECT doc_id, shingles, $sigExpr AS sig FROM hashed),
      banded AS (
        SELECT doc_id, shingles,
          unnest(range($BANDS)) AS band_idx,
          unnest(list_transform(range($BANDS),
            b -> array_to_string(list_transform(array_slice(sig, CAST(b * $ROWS + 1 AS INTEGER), CAST(b * $ROWS + $ROWS AS INTEGER)), v -> CAST(v AS VARCHAR)), '_'))) AS band_sig
        FROM sigs),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.shingles AS sa, b.shingles AS sb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT doc_a, doc_b, $jac AS jaccard
        FROM cand WHERE $jac >= $JaccardTau)"""
  }

  private val minhashPairsDuckCte = s"WITH $minhashPairsDuckBody"
  private[queries] val minhashPairsDuckCteRecursive = s"WITH RECURSIVE $minhashPairsDuckBody"

  val defs: Seq[QueryDef] = Seq(

    // ── exact dedup: single shuffle on the content hash ──────────────
    QueryDef(
      "dedup_exact",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("canonical_id")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY canonical_id"""),
      doc = "Hash-groupBy exact dedup; the only scalable exact method."),

    // ── n-gram Jaccard near-dup (prefix-filtered set-similarity join) ─
    QueryDef(
      "dedup_ngram_jaccard",
      (s, dir) => {
        // AllPairs/PPJoin prefix filtering: under a global token order
        // (ascending document frequency, then lexicographic), any pair
        // with jaccard >= τ must share a token within each side's first
        // p = |S| - ⌈τ·|S|⌉ + 1 tokens — so indexing only prefixes loses
        // no answers (proof: the smallest shared token t* would otherwise
        // leave |S∩T| <= ⌈τ|S|⌉ - 1 < τ|S|). Replaces the O(n²) cross
        // join with a shuffle on prefix tokens; rare-token-first ordering
        // also kills bucket skew. p uses integer math (τ = 4/5): doubles
        // would over-shrink the prefix (0.8 is not exact in binary).
        val sh = shingled(s, dir).select(col("doc_id"), col("shingles")).persist()
        val posting = sh.select(col("doc_id"), size(col("shingles")).as("sz"),
          explode(col("shingles")).as("shingle"))
        // document frequency via count-over-window (one shuffle on the
        // shingle) instead of groupBy + join-back (two exchanges + SMJ):
        // the window with no frame computes the whole-partition count.
        val wShingle = Window.partitionBy(col("shingle"))
        val wDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("shingle").asc)
        val prefix = posting
          .withColumn("df", count(lit(1)).over(wShingle))
          .withColumn("rn", row_number().over(wDoc))
          .filter(expr("rn <= sz - ((4 * sz + 4) div 5) + 1"))
          .select(col("doc_id"), col("shingle"), col("sz"), col("rn"))
          .persist()
        // Two more lossless prunes on the candidate join:
        //  - length filter: jaccard >= τ forces min(|A|,|B|) >= τ·max,
        //    i.e. 5·each >= 4·other (τ = 4/5);
        //  - PPJoin positional filter: jaccard >= τ needs overlap
        //    o >= ⌈τ/(1+τ)·(|A|+|B|)⌉ = ⌈4(|A|+|B|)/9⌉. For the FIRST
        //    token the pair shares in the canonical order (positions
        //    pa, pb), every overlapping token sits at/after it, so
        //    o <= 1 + min(|A|-pa, |B|-pb). Join rows violating
        //    9·(1+min) >= 4·(|A|+|B|) can't be that first shared token
        //    of a qualifying pair — dropping them keeps ≥1 join row per
        //    true pair (the distinct() collapses the rest). Cuts the
        //    candidate set ~3× on a duplicate-heavy corpus (ScaleProbe).
        val cand = prefix.as("a")
          .join(prefix.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("a.sz") * 5 >= col("b.sz") * 4 &&
            col("b.sz") * 5 >= col("a.sz") * 4 &&
            (lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))) * 9 >=
              (col("a.sz") + col("b.sz")) * 4)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        Layouts.materialize((
          cand
            .join(sh.toDF("doc_a", "sa"), "doc_a")
            .join(sh.toDF("doc_b", "sb"), "doc_b")
            .select(col("doc_a"), col("doc_b"),
              round(jaccard(col("sa"), col("sb")), 6).as("jaccard"))
            .filter(col("jaccard") >= JaccardTau)
            .orderBy(col("doc_a"), col("doc_b")),
          Seq(sh, prefix)))
      },
      Some(s"""WITH $shingledDuck
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          round($jaccardDuck, 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round($jaccardDuck, 6) >= $JaccardTau
        ORDER BY doc_a, doc_b""")),

    // ── MinHash + LSH banding: the scalable near-dup path ────────────
    QueryDef(
      "dedup_minhash_lsh",
      (s, dir) =>
        minhashPairs(s, dir)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""$minhashPairsDuckCte
          SELECT doc_a, doc_b, jaccard FROM pairs
          ORDER BY doc_a, doc_b"""),
      doc = "shingle → 32 minhash perms → 8 bands × 4 rows → bucket join → exact-jaccard verify."),

    // ── duplicate-cluster resolution: LSH pairs → connected components ─
    // The last step of the dedup story: pairs alone can't drive corpus
    // pruning (dropping both ends of every pair over-deletes; keeping
    // arbitrary ends under-deletes on A-B-C chains). Components give one
    // canonical (min) doc per cluster. Iterative min-label propagation,
    // one shuffle per round, rounds ≤ cluster diameter (see
    // graft.operators.ConnectedComponents for the 100 TB notes).
    QueryDef(
      "dedup_cluster_cc",
      (s, dir) => clusterCc(s, dir),
      Some(s"""$minhashPairsDuckCteRecursive,
          und AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
            UNION
            SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
          lbl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
        SELECT cluster_id, doc_id,
          count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM lbl ORDER BY cluster_id, doc_id"""),
      doc = "Min-label propagation over the LSH candidate graph; oracle is " +
        "a recursive-CTE transitive closure (tractable at fixture scale)."),

    // ── SimHash near-dup (60-bit, word-level) ────────────────────────
    QueryDef(
      "dedup_simhash",
      (s, dir) => {
        val docs = simhashSigs(s, dir)
          // a single parquet file scans as ONE partition: persist the
          // (tiny) signature table so the interpreted aggregate runs once,
          // and spread the all-pairs stream side to the size-derived
          // width (1 for the fixtures, up to defaultParallelism).
          .transform(Layouts.spread)
          .persist()
        Layouts.materialize((
          docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
            .select(
              col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
            .filter(col("hamming") <= SimhashMaxHamming)
            .orderBy(col("doc_a"), col("doc_b")),
          Seq(docs)))
      },
      Some(simhashPairsDuckSql),
      doc = "All-pairs reference form; the scale path is dedup_simhash_banded " +
        "(identical output, bucket join instead of the O(n²) compare)."),

    // ── SimHash near-dup, banded (the scale path) ────────────────────
    // Same output as dedup_simhash, computed without the O(n²) inequality
    // join: explode each signature into SimhashBandCount sub-signatures,
    // equi-join on (band_idx, band_value) — one shuffle — then
    // Hamming-verify candidates in-bucket. Lossless by pigeonhole (see
    // SimhashBandCount): 13 bands > 12 = max Hamming, so every qualifying
    // pair shares ≥1 exact band and survives banding. The 8-byte simhash
    // rides through the band shuffle, so verification needs no join-back.
    QueryDef(
      "dedup_simhash_banded",
      (s, dir) => {
        val (pairs, docs) = simhashBandedPairs(s, dir)
        Layouts.materialize((pairs, Seq(docs)))
      },
      // identical declared semantics ⇒ identical oracle: banding is
      // provably lossless, so the all-pairs SQL IS the banded oracle.
      Some(simhashPairsDuckSql),
      doc = "Banded simhash bucket join (Manku et al. WWW'07 shape): " +
        "replaces the all-pairs compare; pair set provably equal."),

    // ── SimHash near-dup, banded at the PRODUCTION radius ────────────
    // Same pipeline as dedup_simhash_banded with the radius knob at the
    // classic d=3 (4 bands × 15 bits, the Manku WWW'07 configuration):
    // 32k bucket values per band prune ~2^15× harder than the loose
    // radius's 13 narrow bands, so candidate volume — Σ load² per band —
    // collapses to near the TRUE pair count. The loose form exists
    // because the fixture DECLARES radius 12; this is the regime a
    // 100 TB dedup actually runs in, and the ×26 probe shows the
    // linear-in-true-pairs cost (BASELINE.md).
    QueryDef(
      "dedup_simhash_banded_tight",
      (s, dir) => {
        val (pairs, docs) = simhashBandedPairs(s, dir, SimhashTightMaxHamming)
        Layouts.materialize((pairs, Seq(docs)))
      },
      // lossless at radius 3 by the same pigeonhole (4 bands > 3 bits),
      // so the all-pairs SQL at the tight threshold IS the oracle
      Some(simhashPairsDuckSqlAt(SimhashTightMaxHamming)),
      doc = "Banded simhash at the production radius d=3 (4 bands of 15 " +
        "bits): the pruning regime where the bucket join is linear in " +
        "the true pair count; dedup_simhash_banded is the loose-radius " +
        "declared form."),

    // ── banded simhash with the hot-bucket skew guard ────────────────
    // Production corpora have boilerplate: thousands of near-identical
    // docs sharing a band value turn one bucket into an H² single-task
    // job that AQE cannot split (the skew is INSIDE one join key).
    // This form routes buckets over a load threshold through a
    // fragment-replicate grid (Salting.gridSelfPairs) — same pair set,
    // task work bounded by (2H/grid)² — and is what a 100 TB dedup
    // should run when the corpus is not pre-cleaned. Cold buckets pay
    // one broadcast-tagged pass extra, nothing else.
    QueryDef(
      "dedup_simhash_banded_guarded",
      (s, dir) => {
        val (pairs, docs) = simhashBandedPairsGuarded(s, dir)
        Layouts.materialize((pairs, Seq(docs)))
      },
      // the guard preserves the pair set exactly ⇒ the tight-radius
      // all-pairs SQL is the oracle, same as the unguarded tight form
      Some(simhashPairsDuckSqlAt(SimhashTightMaxHamming)),
      doc = "Tight-radius banded simhash with the hot-bucket grid guard: " +
        "buckets above the in-plan p999 of the band-bucket load rollup " +
        "(Salting.DeriveHotLoad — no declared load constant) spread " +
        "across an 8x8 fragment-replicate grid, bounding task skew on " +
        "boilerplate-heavy corpora; pair set provably unchanged."),

    // ── embedding cosine near-dup ────────────────────────────────────
    QueryDef(
      "dedup_embedding_cosine",
      (s, dir) => {
        val v = Corpus.nvecs(s, dir)
          // single-file scan = one partition; spread the O(n²) stream side
          .transform(Layouts.spread)
          .persist()
        Layouts.materialize((
          v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
            .select(
              col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
              round(VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
                .as("cosine"))
            .filter(col("cosine") >= CosineTau)
            .orderBy(col("vec_a"), col("vec_b")),
          Seq(v)))
      },
      Some(s"""WITH v AS (
          SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v FROM embeddings),
        n AS (
          SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM v)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $CosineTau
        ORDER BY vec_a, vec_b"""),
      doc = "All-pairs verify form; the bucketed scale path is dedup_embedding_ann."),

    // ── embedding cosine near-dup, LSH-bucketed (the scale path) ─────
    // Candidate pairs come from AnnTables independent sign-LSH tables
    // (the sim_lsh_topk hyperplane family): per table, a pair is a
    // candidate iff its 8-bit signatures are within Hamming AnnProbeRadius
    // — the multi-probe equi-join, ONE shuffle on the bucket key instead
    // of the O(n²) inequality join. Exact cosine ≥ τ verifies in-bucket. Approx
    // by design (a near-dup pair whose signs differ in ≥2 bits in every
    // table is missed); DedupAnnRecallSpec measures recall against the
    // all-pairs form, and the oracle below replays the SAME bucketing in
    // DuckDB (identical hyperplane doubles ⇒ identical signs), so the
    // declared output is still bit-exact. At 100 TB: signature width
    // scales as ~log2(n) and tables/probes buy recall at fixed cost —
    // the corpus is scanned once per table and never self-joined.
    QueryDef(
      "dedup_embedding_ann",
      (s, dir) => {
        val (pairs, v, sigs) = embeddingAnnPairs(s, dir)
        Layouts.materialize((pairs, Seq(v, sigs)))
      },
      Some(annDuckSql(SimilarityQueries.NBits, AnnProbeRadius, AnnTables, CosineTau)),
      doc = "Sign-LSH bucketed cosine dedup: multi-probe Hamming-" +
        AnnProbeRadius + " candidates from " + AnnTables + " tables, exact " +
        "verify in-bucket; dedup_embedding_cosine is the recall oracle."),

    // ── embedding ANN dedup, width-scaled (the production config) ─────
    // Identical pipeline to dedup_embedding_ann except the signature
    // width follows the bits ~ log2(n) rule (AnnScaledBits) instead of
    // the fixed 8 bits. The 8-bit form is the saturation teaching case
    // (256 buckets ⇒ load n/256 ⇒ the candidate join turns quadratic
    // past ~50k vectors); THIS is the shape a 100 TB corpus runs, and
    // the oracle replays the same widened bucketing in DuckDB so the
    // declared output stays bit-exact. Radius/tables/τ are unchanged so
    // the two declared queries differ in exactly the knob under test.
    QueryDef(
      "dedup_embedding_ann_scaled",
      (s, dir) => {
        val (pairs, v, sigs) =
          embeddingAnnPairs(s, dir, AnnScaledBits, AnnProbeRadius, AnnTables, CosineTau)
        Layouts.materialize((pairs, Seq(v, sigs)))
      },
      Some(annDuckSql(AnnScaledBits, AnnProbeRadius, AnnTables, CosineTau)),
      doc = "Width-scaled sign-LSH dedup (bits ~ log2 n): the non-" +
        "saturating production form of dedup_embedding_ann; wider " +
        "signatures trade per-pair recall for linear candidate volume, " +
        "recovered by tables/probes (AnnWideRecallSpec).")
  )

  /** The sign-LSH candidate+verify pipeline, pre-checkpoint — returned
    * with its two persisted stages; package-private for PlanSpec (see
    * [[simhashBandedPairs]]).
    */
  private[graft] def embeddingAnnPairs(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    embeddingAnnPairs(s, dir, SimilarityQueries.NBits, AnnProbeRadius,
      AnnTables, CosineTau)

  /** Table-`t` sign-LSH signature of the `v` column at the given width —
    * ONE definition shared by the batch ANN dedup pipelines and the
    * streaming index (graft.streaming.AnnDedupStream), so the stream's
    * bucket keys are bit-identical to the batch twin's by construction.
    */
  private[graft] def annSigCol(t: Int, bits: Int): Column =
    (0 until bits).map { b =>
      when(VectorOps.dot(col("v"),
        typedLit(SimilarityQueries.hyperplaneSet(t, bits)(b))) >= 0.0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Arrival-order verdict reduction over any canonical (vec_a, vec_b,
    * cosine) pair SQL: per vector, the smallest earlier (by vec_id)
    * τ-passing ball-mate — the streaming index's emitted semantics.
    * ONE wrapper for the scaled-width twin and the round-18 auto-width
    * twin, so the reduction can never drift between the two oracles.
    */
  private[graft] def annVerdictDuckSqlOver(pairsSql: String): String =
    s"""WITH pairs AS (
        $pairsSql),
      verdict AS (
        SELECT vec_b AS vec_id, min(vec_a) AS dup_of,
          arg_min(cosine, vec_a) AS cosine
        FROM pairs GROUP BY vec_b)
      SELECT e.vec_id, v.dup_of, v.cosine,
        CASE WHEN v.dup_of IS NULL THEN 'uniq' ELSE 'dup' END AS status
      FROM embeddings e LEFT JOIN verdict v ON e.vec_id = v.vec_id
      ORDER BY e.vec_id"""

  /** ST27 batch-twin oracle (st_incremental_ann): the scaled-width pair
    * SQL reduced to the arrival-order verdict the streaming index emits.
    */
  private[graft] def annIncrementalDuckSql: String =
    annVerdictDuckSqlOver(
      annDuckSql(AnnScaledBits, AnnProbeRadius, AnnTables, CosineTau))

  /** Generalized over (bits, radius, tables, tau) — the three knobs that
    * keep sign-LSH dedup linear as the corpus grows. Candidate volume is
    * n · probes · tables · load where load = n / 2^bits: hold load ~1 by
    * growing `bits` with log2(n) and the bucket join stays one equi-join
    * shuffle at any corpus size. The declared query's (8, 2, 4, 0.45) is
    * the oracle-pinned fixture configuration (τ=0.45 pairs need the
    * dense probe ball); a production near-dup sweep (τ ≥ 0.9) runs wide:
    * e.g. (16, 1, 8, 0.9) ⇒ per-pair per-table catch ≈ p^16 + 16p^15(1-p)
    * ≈ 0.31 at p = 1 − acos(0.9)/π ≈ 0.856, so 8 tables ⇒ recall ≈ 0.95
    * (AnnWideRecallSpec measures it on planted near-dups).
    */
  private[graft] def embeddingAnnPairs(s: SparkSession, dir: String,
      bits: Int, radius: Int, tables: Int, tau: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    // same wrap guard as probeMasks: sigCol builds the key with
    // `1L << b`, so an over-wide width must fail here, before any job runs
    require(bits >= 1 && bits <= 62,
      s"signature width $bits outside [1, 62]: Long bucket keys wrap past 62 bits")
    val v = Corpus.nvecs(s, dir)
      .transform(Layouts.spread)
      .persist()
    def sigCol(t: Int): Column = annSigCol(t, bits)
    // all tables' signatures in ONE corpus pass; persisted because the
    // per-table candidate join references the table twice (probe +
    // build side) and CollapseProject would otherwise inline the
    // per-bit sign expression into both.
    val sigs = v.select(
      col("vec_id") +: (0 until tables).map(t => sigCol(t).as(s"sig_$t")): _*)
      .persist()
    val masks = probeMasks(bits, radius)
    // Within one table a pair can match AT MOST once (the join hits iff
    // probe mask m = sig_a XOR sig_b — unique per pair), so duplicates
    // only arise ACROSS tables. Emitting each pair at its FIRST matching
    // table (a bit_count filter over the earlier tables' signatures,
    // both sides' signatures ride along as `tables` extra ints) makes
    // the union duplicate-free BY CONSTRUCTION — no distinct(), which
    // was a full shuffle of the candidate set (the same first-agreeing-
    // band trick that cut dedup_simhash_banded's second shuffle).
    val aCols = (0 until tables).map(t => col(s"sig_$t").as(s"a_sig_$t"))
    val bCols = (0 until tables).map(t => col(s"sig_$t").as(s"b_sig_$t"))
    val cand = (0 until tables).map { t =>
      val probes = array(masks.map(m =>
        col(s"a_sig_$t").bitwiseXOR(lit(m))): _*)
      val firstMatchHere = (0 until t)
        .map(p => bit_count(col(s"a_sig_$p").bitwiseXOR(col(s"b_sig_$p"))) > radius)
        .foldLeft(lit(true))(_ && _)
      sigs.select(col("vec_id").as("vec_a") +: aCols: _*)
        .withColumn("s", explode(probes))
        .join(sigs.select(col("vec_id").as("vec_b") +: bCols: _*)
          .withColumn("s", col(s"b_sig_$t")), "s")
        .filter(col("vec_a") < col("vec_b") && firstMatchHere)
        .select(col("vec_a"), col("vec_b"))
    }.reduce(_ union _)
    val pairs = cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("vec_a"), col("vec_b"))
    (pairs, v, sigs)
  }

  /** Self-contained width-scaled ANN dedup (no oracle — the declared
    * 8-bit form is the oracle-checked one; this is the log2(n)-width
    * production shape ScaleProbe and AnnWideRecallSpec exercise).
    */
  def embeddingAnnScaled(s: SparkSession, dir: String, bits: Int,
      radius: Int = 1, tables: Int = 8, tau: Double = 0.9): DataFrame = {
    val (pairs, v, sigs) = embeddingAnnPairs(s, dir, bits, radius, tables, tau)
    Layouts.materialize((pairs, Seq(v, sigs)))
  }

  /** DuckDB mirror of the sign-LSH bucketed cosine dedup, generalized
    * over the same (bits, radius, tables, tau) knobs as
    * [[embeddingAnnPairs]] — same hyperplane doubles, same multi-probe
    * bucket join, so both engines produce the identical (approximate)
    * pair set at ANY configuration. The 8-bit declared query and the
    * width-scaled one share this one generator.
    */
  private def annDuckSql(bits: Int, radius: Int, tables: Int, tau: Double): String = {
    val masks = probeMasks(bits, radius)
    def sigSql(t: Int): String = (0 until bits).map { b =>
      val lits = SimilarityQueries.hyperplaneSet(t, bits)(b).mkString("[", ", ", "]")
      s"(CASE WHEN ${VectorOps.duckDot("v", lits)} >= 0.0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val perTable = (0 until tables).map { t =>
      val probes = masks.map {
        case 0L => s"sig_$t"
        case m => s"xor(sig_$t, $m)"
      }.mkString("[", ", ", "]")
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM (SELECT vec_id, unnest($probes) AS s FROM sigs) a
          JOIN sigs b ON a.s = b.sig_$t AND a.vec_id < b.vec_id"""
    }.mkString("\n        UNION\n        ")
    s"""WITH vecs AS (
        SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v FROM embeddings),
      nvecs AS (
        SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM vecs),
      sigs AS (
        SELECT vec_id, ${(0 until tables).map(t => s"${sigSql(t)} AS sig_$t").mkString(", ")}
        FROM nvecs),
      cand AS (
        $perTable)
      SELECT c.vec_a, c.vec_b,
        round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
      FROM cand c
      JOIN nvecs a ON a.vec_id = c.vec_a
      JOIN nvecs b ON b.vec_id = c.vec_b
      WHERE round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $tau
      ORDER BY vec_a, vec_b"""
  }
}
