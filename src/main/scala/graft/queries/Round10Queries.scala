package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.operators.Layouts
import graft.queries.Corpus.{h60Duck, h60Spark}

/** Round-10 training-data pipeline operators: the published corpus-hygiene
  * passes a 100 TB pretraining build runs that the round-4..9 surface did
  * not yet cover —
  *
  *  - SEGMENT-granular boilerplate removal (CCNet / RefinedWeb "line
  *    dedup": strip text segments repeated across documents, keep the
  *    rest of the document),
  *  - exact substring-duplication coverage (Lee et al. 2022,
  *    "Deduplicating Training Data Makes Language Models Better":
  *    fraction of each document covered by a duplicated k-token window),
  *  - SemDeDup (Abbas et al. 2023): k-cell semantic clustering over
  *    embeddings, then cosine pruning WITHIN cells only,
  *  - DSIR importance weighting (Xie et al. 2023): hashed/unigram
  *    log-likelihood-ratio score of every document against a target
  *    distribution,
  *  - URL canonicalization + blocklist + URL-level keep-first dedup (the
  *    crawl-frontier hygiene pass that runs before any content dedup),
  *  - distributed BPE merge training AND apply-side tokenization
  *    (Sennrich et al. 2016: both directions run on the vocab rollup,
  *    never the corpus),
  *  - hashed linear quality-classifier inference (fasttext shape,
  *    dyadic-rational weights ⇒ exact order-independent float sums),
  *  - the batch twin of the ST15 streaming incremental dedup index
  *    (graft.streaming.DocumentStreams).
  *
  * Reference scope note: alxmancilla/parquet-demo has no text analytics
  * (its compute surface is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66); this file is [EXT] surface like the
  * rest of SURVEY §2.7.
  *
  * Determinism recipe (the q62/CurationQueries contract): every ratio is
  * one division of exact integer sums rounded once; DSIR's per-feature
  * log-ratios are rounded to 6 dp FIRST and then summed as exact
  * DECIMAL(18,6) — so the per-document score is an exact decimal sum of
  * identical addends in both engines, immune to float summation order.
  */
object Round10Queries {

  /** Segment length (tokens) for boilerplate removal; a segment counts as
    * boilerplate when it appears verbatim in ≥ MinDupDocs distinct docs.
    * (The fixture's 31-word vocabulary yields 168 such segments at
    * sf0.01 — a real removal set; production corpora key this on lines.)
    */
  val SegLen = 8
  val MinDupDocs = 2

  /** Window length for exact substring-duplication coverage. */
  val DupK = 8

  /** Containment (Broder 1997): threshold on max(C(A,B), C(B,A)) and
    * the document-frequency cap for the inverted-index candidate prune.
    */
  val ContainTau = 0.8
  val ContainDfCap = 50

  /** SemDeDup: same deterministic centroid set as sim_ivf_topk (vec_id %
    * CentroidEvery == 0, capped), prune within cells at CosineTau — the
    * paper's ε ball, reusing the engine-wide τ so pipe_semdedup and
    * dedup_embedding_cosine are directly comparable.
    */
  val SemTau: Double = DedupQueries.CosineTau

  /** Hashing-trick dimension for the quality classifier. */
  val ClassifierD = 4096

  val defs: Seq[QueryDef] = Seq(

    // ── CCNet/RefinedWeb boilerplate removal at segment granularity ──
    // Scale shape: three keyed shuffles (segment-hash count, anti-join
    // back, per-doc reassembly) and NO window — exactly the shape CCNet
    // shards by hash(segment) across machines. The duplicated-segment
    // set is the only intermediate that is not linear in the corpus's
    // unique content, and it only ever carries (segment) keys, not text
    // positions. Reassembly sorts each doc's surviving segments with
    // array_sort inside the row — no global or per-partition sort.
    QueryDef(
      "pipe_segment_dedup",
      (s, dir) => {
        val segs = Corpus.toks(s, dir, "lang")
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(0, ((size(toks) + ${SegLen - 1}) div $SegLen) - 1), " +
              s"i -> concat_ws(' ', slice(toks, i * $SegLen + 1, $SegLen)))"))
            .as(Seq("seg_id", "seg_text")))
        val dup = segs.groupBy(col("seg_text"))
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= MinDupDocs)
          .select(col("seg_text"))
        val kept = segs.join(dup, Seq("seg_text"), "left_anti")
        val tot = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
        val ka = kept.groupBy(col("doc_id")).agg(
          count(lit(1)).as("kept_segs"),
          sum(size(split(col("seg_text"), " ")).cast("long")).as("kept_toks"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(seg_id, seg_text))), x -> x.seg_text)"))
            .as("new_text"))
        tot.join(ka, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_segs"),
            coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
            coalesce(col("kept_toks"), lit(0L)).as("kept_toks"),
            coalesce(col("new_text"), lit("")).as("new_text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS ord
          FROM ${Corpus.toksDuck("lang")}),
        seg AS (
          SELECT doc_id, (ord - 1) // $SegLen AS seg_id,
            string_agg(w, ' ' ORDER BY ord) AS seg_text
          FROM tok GROUP BY doc_id, ((ord - 1) // $SegLen)),
        dup AS (SELECT seg_text FROM seg GROUP BY seg_text
                HAVING count(DISTINCT doc_id) >= $MinDupDocs),
        kept AS (SELECT * FROM seg WHERE seg_text NOT IN (SELECT seg_text FROM dup)),
        tot AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY doc_id),
        ka AS (
          SELECT doc_id, count(*) AS kept_segs,
            CAST(sum(len(string_split(seg_text, ' '))) AS BIGINT) AS kept_toks,
            string_agg(seg_text, ' ' ORDER BY seg_id) AS new_text
          FROM kept GROUP BY doc_id)
        SELECT t.doc_id, t.n_segs,
          coalesce(ka.kept_segs, 0) AS kept_segs,
          coalesce(ka.kept_toks, 0) AS kept_toks,
          coalesce(ka.new_text, '') AS new_text
        FROM tot t LEFT JOIN ka USING (doc_id) ORDER BY doc_id"""),
      doc = "CCNet/RefinedWeb-style boilerplate removal: drop " +
        s"$SegLen-token segments repeated across ≥ $MinDupDocs docs, " +
        "reassemble survivors in order; 3 keyed shuffles, no window."),

    // ── exact substring-duplication coverage (Lee et al. 2022) ───────
    // Overlapping k-token windows; a window is duplicated when its text
    // occurs in ≥2 distinct docs; a token is covered when any duplicated
    // window contains it. Coverage = covered/total, the statistic the
    // paper thresholds at 50 tokens. Scale shape: the window→count
    // shuffle is the only superlinear-in-duplication step and it carries
    // (gram, doc) keys with map-side partials; coverage explodes each
    // duplicated window into exactly K positions (bounded fan-out).
    QueryDef(
      "text_dup_spans",
      (s, dir) => {
        val toks = Corpus.toks(s, dir, "lang")
        val wins = toks.filter(size(col("toks")) >= DupK)
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(0, size(toks) - $DupK), " +
              s"i -> concat_ws(' ', slice(toks, i + 1, $DupK)))"))
            .as(Seq("start", "gram")))
        val dupGrams = wins.groupBy(col("gram"))
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("gram"))
        val dupWins = wins.join(dupGrams, Seq("gram"))
        val cov = dupWins
          .select(col("doc_id"), explode(expr(s"sequence(start, start + ${DupK - 1})")).as("pos"))
          .distinct()
          .groupBy(col("doc_id")).agg(count(lit(1)).as("covered_toks"))
        val dwc = dupWins.groupBy(col("doc_id")).agg(count(lit(1)).as("dup_windows"))
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
          .join(dwc, Seq("doc_id"), "left")
          .join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
            coalesce(col("covered_toks"), lit(0L)).as("covered_toks"))
          .withColumn("dup_frac",
            round(col("covered_toks").cast(DoubleType) / col("n_toks"), 6))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, toks FROM ${Corpus.toksDuck("lang")}),
        win AS (
          SELECT doc_id,
            unnest(range(len(toks) - ${DupK - 1})) AS start,
            unnest(list_transform(range(len(toks) - ${DupK - 1}),
              i -> array_to_string(toks[i + 1 : i + $DupK], ' '))) AS gram
          FROM d WHERE len(toks) >= $DupK),
        dup AS (SELECT gram FROM win GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        dw AS (SELECT win.doc_id, win.start FROM win JOIN dup USING (gram)),
        cov AS (
          SELECT doc_id, count(*) AS covered_toks FROM (
            SELECT DISTINCT doc_id, start + u AS pos
            FROM dw CROSS JOIN range($DupK) t(u)) GROUP BY doc_id),
        dwc AS (SELECT doc_id, count(*) AS dup_windows FROM dw GROUP BY doc_id),
        n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d)
        SELECT n.doc_id, n.n_toks,
          coalesce(dwc.dup_windows, 0) AS dup_windows,
          coalesce(cov.covered_toks, 0) AS covered_toks,
          round(CAST(coalesce(cov.covered_toks, 0) AS DOUBLE) / n.n_toks, 6) AS dup_frac
        FROM n LEFT JOIN dwc USING (doc_id) LEFT JOIN cov USING (doc_id)
        ORDER BY doc_id"""),
      doc = s"Exact substring-dup coverage (Lee et al. 2022): fraction of " +
        s"each doc inside a duplicated $DupK-token window; bounded " +
        "K-fan-out coverage explode, map-side-partial gram counts."),

    // ── containment / subsumption detection (Broder 1997) ────────────
    // Plan body in `containmentPairs` below (public pre-threshold form so
    // ContainmentAdversarialSpec can pin the CANDIDATE volume, not just
    // the post-τ verdicts — the df-cap's linearity claim lives there).
    // "On the resemblance and containment of documents": the ASYMMETRIC
    // measure C(A,B) = |A∩B|/|A| that catches a short document embedded
    // in a long one — a case resemblance/Jaccard (dedup_ngram_jaccard,
    // τ on the UNION) structurally under-scores. Candidates come from
    // the inverted shingle index with a document-frequency cap: a
    // shingle shared by > ContainDfCap docs is boilerplate and would
    // generate df² candidate pairs (the standard index prune; the cap
    // is part of the declared semantics — containment is measured over
    // the non-boilerplate shingle space on BOTH sides, and the oracle
    // replays the identical cap). Long DupK-token shingles keep df
    // near the true duplicate multiplicity, so the candidate join is
    // linear in real dup pairs, not corpus².
    QueryDef(
      "dedup_containment",
      (s, dir) => containmentPairs(s, dir)
        .filter(greatest(col("cont_a"), col("cont_b")) >= ContainTau)
        .select(col("a"), col("b"), col("c_shared"), col("cont_a"), col("cont_b"))
        .orderBy(col("a"), col("b")),
      Some(s"""WITH d AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck("lang")} WHERE len(toks) >= $DupK),
        sh AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(range(len(toks) - ${DupK - 1}),
              i -> array_to_string(toks[i + 1 : i + $DupK], ' ')))) AS g
          FROM d),
        rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= $ContainDfCap),
        pr AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
        cnt AS (SELECT doc_id, count(*) AS n_sh FROM pr GROUP BY doc_id),
        pairs AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c_shared
          FROM pr x JOIN pr y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
        SELECT a, b, c_shared,
          round(CAST(c_shared AS DOUBLE) / ca.n_sh, 6) AS cont_a,
          round(CAST(c_shared AS DOUBLE) / cb.n_sh, 6) AS cont_b
        FROM pairs
        JOIN cnt ca ON pairs.a = ca.doc_id
        JOIN cnt cb ON pairs.b = cb.doc_id
        WHERE greatest(round(CAST(c_shared AS DOUBLE) / ca.n_sh, 6),
                       round(CAST(c_shared AS DOUBLE) / cb.n_sh, 6)) >= $ContainTau
        ORDER BY a, b"""),
      doc = s"Containment detection (Broder 1997): asymmetric " +
        s"|A∩B|/|A| over df-capped $DupK-token shingles — catches " +
        "short-inside-long subsumption that Jaccard under-scores; " +
        "inverted-index candidates, doc-bounded count table broadcast."),

    // ── SemDeDup (Abbas et al. 2023) ─────────────────────────────────
    // Cluster embeddings into cells (deterministic IVF centroid set, the
    // sim_ivf_topk index), then prune near-duplicates WITHIN cells only:
    // a vector is pruned when a smaller-id cell-mate sits at cosine ≥ τ.
    // Scale shape: centroids broadcast (k rows), assignment is one
    // narrow pass + a vec_id-keyed window; the quadratic pair step is
    // confined to single cells, whose size is n/k — k is chosen so
    // cells fit a task (the paper runs k=50k on 5B embeddings for
    // exactly this reason). No all-pairs join ever leaves a cell.
    QueryDef(
      "pipe_semdedup",
      (s, dir) => {
        import SimilarityQueries.{CentroidCap, CentroidEvery}
        val all = Corpus.nvecs(s, dir)
          .transform(Layouts.spread)
        val cents = all.filter(col("vec_id") % CentroidEvery === 0 &&
            col("vec_id") < CentroidEvery * CentroidCap)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val wAssign = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2").asc, col("cent_id").asc)
        val assign = all.join(broadcast(cents), lit(true))
          .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
            VectorOps.dist2(col("v"), col("cv")).as("d2"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cell"))
        semdedupPrune(assign)
      },
      Some(s"""WITH ${Corpus.nvecsDuck},
          cents AS (
            SELECT vec_id AS cent_id, v AS cv FROM nvecs
            WHERE vec_id % ${SimilarityQueries.CentroidEvery} = 0
              AND vec_id < ${SimilarityQueries.CentroidEvery * SimilarityQueries.CentroidCap}),
          assign AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM (
              SELECT a.vec_id, a.v, a.nrm, c.cent_id,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY ${VectorOps.duckDist2("a.v", "c.cv")} ASC, c.cent_id ASC) AS rn
              FROM nvecs a CROSS JOIN cents c)
            WHERE rn = 1),
          prunes AS (
            SELECT b.vec_id, min(a.vec_id) AS pruned_by
            FROM assign a JOIN assign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $SemTau
            GROUP BY b.vec_id)
        SELECT a.vec_id, a.cell, p.pruned_by, p.pruned_by IS NULL AS kept
        FROM assign a LEFT JOIN prunes p USING (vec_id) ORDER BY a.vec_id"""),
      doc = "SemDeDup: IVF-cell clustering then in-cell cosine pruning at " +
        s"τ=$SemTau; centroids broadcast, quadratic step confined to " +
        "cells of size n/k."),

    // ── SemDeDup, load-scaled cells (the production configuration) ───
    // The centroid CAP is dropped: fine centroids are every
    // CentroidEvery-th vector, so cell count grows with the corpus and
    // the expected cell load stays ~CentroidEvery regardless of n — the
    // in-cell quadratic step stays LINEAR in corpus size (the teaching
    // form's fixed k=64 cells grow as n/64 and the pair step as n²/64).
    // With k ∝ n a FLAT argmin over all fine centroids is O(n·k) = O(n²)
    // — measured 172 s at ×26 (52k vectors × 2080 centroids) — so
    // assignment is HIERARCHICAL, the way production IVF actually
    // assigns: a coarse level of every CentroidEvery²-th vector routes
    // each vector (and each fine centroid) to its nearest coarse cell,
    // and the fine argmin runs only within that cell — O(n·(n/E² + E))
    // probes instead of O(n²/E), 172 → 7.0 s at ×26. Both levels use the
    // same deterministic (d2, id) tiebreak and the oracle replays the
    // identical two-level rule, so the declared output stays bit-exact.
    QueryDef(
      "pipe_semdedup_scaled",
      (s, dir) => {
        import SimilarityQueries.CentroidEvery
        val CoarseEvery = CentroidEvery * CentroidEvery
        val all = Corpus.nvecs(s, dir)
          .transform(Layouts.spread)
        val coarse = all.filter(col("vec_id") % CoarseEvery === 0)
          .select(col("vec_id").as("c2"), col("v").as("c2v"))
        val fine = all.filter(col("vec_id") % CentroidEvery === 0)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))

        def nearestCoarse(df: DataFrame, idCol: String, vCol: String): DataFrame = {
          val w = Window.partitionBy(col(idCol))
            .orderBy(col("cd2").asc, col("c2").asc)
          df.join(broadcast(coarse), lit(true))
            .withColumn("cd2", VectorOps.dist2(col(vCol), col("c2v")))
            .withColumn("crn", row_number().over(w))
            .filter(col("crn") === 1)
            .drop("c2v", "cd2", "crn")
        }

        // fine centroids routed to coarse cells once (k rows), then each
        // vector probes only the fine centroids of ITS coarse cell.
        val fineRouted = nearestCoarse(fine, "cent_id", "cv")
        val wFine = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2").asc, col("cent_id").asc)
        val assign = nearestCoarse(all, "vec_id", "v")
          .join(broadcast(fineRouted), Seq("c2"))
          .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
            VectorOps.dist2(col("v"), col("cv")).as("d2"))
          .withColumn("rn", row_number().over(wFine))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cell"))
        semdedupPrune(assign)
      },
      Some {
        import SimilarityQueries.CentroidEvery
        val coarseEvery = CentroidEvery * CentroidEvery
        s"""WITH ${Corpus.nvecsDuck},
          coarse AS (SELECT vec_id AS c2, v AS c2v FROM nvecs
            WHERE vec_id % $coarseEvery = 0),
          fine AS (SELECT vec_id AS cent_id, v AS cv FROM nvecs
            WHERE vec_id % $CentroidEvery = 0),
          frouted AS (
            SELECT cent_id, cv, c2 FROM (
              SELECT f.cent_id, f.cv, c.c2,
                row_number() OVER (PARTITION BY f.cent_id
                  ORDER BY ${VectorOps.duckDist2("f.cv", "c.c2v")} ASC, c.c2 ASC) AS crn
              FROM fine f CROSS JOIN coarse c)
            WHERE crn = 1),
          vrouted AS (
            SELECT vec_id, v, nrm, c2 FROM (
              SELECT a.vec_id, a.v, a.nrm, c.c2,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY ${VectorOps.duckDist2("a.v", "c.c2v")} ASC, c.c2 ASC) AS crn
              FROM nvecs a CROSS JOIN coarse c)
            WHERE crn = 1),
          assign AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM (
              SELECT a.vec_id, a.v, a.nrm, f.cent_id,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY ${VectorOps.duckDist2("a.v", "f.cv")} ASC, f.cent_id ASC) AS rn
              FROM vrouted a JOIN frouted f USING (c2))
            WHERE rn = 1),
          prunes AS (
            SELECT b.vec_id, min(a.vec_id) AS pruned_by
            FROM assign a JOIN assign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(${VectorOps.duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= $SemTau
            GROUP BY b.vec_id)
        SELECT a.vec_id, a.cell, p.pruned_by, p.pruned_by IS NULL AS kept
        FROM assign a LEFT JOIN prunes p USING (vec_id) ORDER BY a.vec_id"""
      },
      doc = "SemDeDup with load-scaled cells and HIERARCHICAL assignment " +
        "(coarse route → in-cell fine argmin): cell load constant AND " +
        "assignment subquadratic — the production IVF shape."),

    // ── DSIR importance weighting (Xie et al. 2023) ──────────────────
    // Score every document by the unigram log-likelihood ratio between a
    // target distribution (here: the English slice) and the raw corpus,
    // add-1 smoothed. Per-feature log-ratios are rounded to 6 dp and
    // cast DECIMAL(18,6) BEFORE summing, so each doc's score is an exact
    // decimal sum of identical addends in both engines (float summation
    // order can't flip it). Scale shape: the rate table is |V| rows →
    // broadcast; the corpus side shuffles once (per-doc sum). kept =
    // score > 0 ⇔ importance weight > 1 — a deterministic, rank-free
    // selection rule (the paper's sampled variant needs RNG; the
    // thresholded form is its reproducible pipeline twin).
    QueryDef(
      "pipe_dsir",
      (s, dir) => {
        val words = Corpus.toks(s, dir, "lang")
          .select(col("doc_id"), col("lang"), explode(col("toks")).as("w"))
        val counts = words.groupBy(col("w")).agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr"))
        val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"),
          count(lit(1)).as("vsz"))
        val rate = counts.crossJoin(broadcast(tot))
          .select(col("w"),
            round(
              log((col("ct") + lit(1)).cast(DoubleType) /
                (col("tt") + col("vsz")).cast(DoubleType)) -
                log((col("cr") + lit(1)).cast(DoubleType) /
                  (col("tr") + col("vsz")).cast(DoubleType)), 6)
              .cast(DecimalType(18, 6)).as("lam"))
        words.join(broadcast(rate), Seq("w"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("lam")).as("sd"))
          .select(col("doc_id"), col("lang"),
            col("sd").cast(DoubleType).as("score"),
            (col("sd") > 0).as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
          SELECT doc_id, lang, unnest(toks) AS w FROM ${Corpus.toksDuck("lang")}),
        c AS (
          SELECT w, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
            count(*) AS cr
          FROM w GROUP BY w),
        t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr,
              count(*) AS vsz FROM c),
        r AS (
          SELECT w, CAST(round(
              ln((ct + 1.0) / (tt + vsz)) - ln((cr + 1.0) / (tr + vsz)), 6)
            AS DECIMAL(18,6)) AS lam
          FROM c CROSS JOIN t),
        s AS (
          SELECT doc_id, lang, sum(lam) AS sd
          FROM w JOIN r USING (w) GROUP BY doc_id, lang)
        SELECT doc_id, lang, CAST(sd AS DOUBLE) AS score, sd > 0 AS kept
        FROM s ORDER BY doc_id"""),
      doc = "DSIR unigram importance weighting vs the English target " +
        "slice; per-feature log-ratios rounded then summed as exact " +
        "decimals; |V|-row rate table broadcast, ONE corpus shuffle."),

    // ── URL canonicalization + blocklist + keep-first dedup ──────────
    // The crawl-frontier hygiene pass: normalize scheme/host case, strip
    // the default port, tracking params and fragments, drop blocklisted
    // hosts, then keep the first doc per canonical URL. The messy URL is
    // synthesized deterministically from doc_id (the fixture has no URL
    // column) with every normalization hazard present: upper-case
    // scheme/host, :443, utm_* param, #fragment. Scale shape: narrow
    // canonicalization pass, blocklist as a literal filter (a real
    // blocklist broadcasts), ONE shuffle on canonical_url.
    QueryDef(
      "pipe_url_dedup",
      (s, dir) => {
        val messy = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            concat(
              when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
              lit("Site"), pmod(col("doc_id"), lit(20)).cast("string"),
              lit(".Example.COM"),
              when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
              lit("/docs/"), pmod(col("doc_id"), lit(100)).cast("string"),
              lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(100)).cast("string"),
              when(col("doc_id") % 2 === 0,
                concat(lit("#sec"), pmod(col("doc_id"), lit(5)).cast("string")))
                .otherwise(lit(""))).as("url"))
        val canon = messy.select(col("doc_id"),
          lower(regexp_replace(regexp_replace(regexp_replace(
            col("url"), "#.*$", ""), "utm_source=feed&", ""), ":443", ""))
            .as("canonical_url"))
          .withColumn("host", regexp_extract(col("canonical_url"), "^https://([^/]+)", 1))
          .filter(!col("host").isin("site3.example.com", "site7.example.com"))
        canon.groupBy(col("canonical_url"), col("host"))
          .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_dups"))
          .orderBy(col("canonical_url"))
      },
      Some("""WITH messy AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END)
            || 'Site' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM'
            || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
            || '/docs/' || CAST(doc_id % 100 AS VARCHAR)
            || '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
            || (CASE WHEN doc_id % 2 = 0 THEN '#sec' || CAST(doc_id % 5 AS VARCHAR)
                ELSE '' END) AS url
          FROM documents),
        canon AS (
          SELECT doc_id,
            lower(regexp_replace(regexp_replace(regexp_replace(
              url, '#.*$', ''), 'utm_source=feed&', ''), ':443', '')) AS canonical_url
          FROM messy),
        hosts AS (
          SELECT doc_id, canonical_url,
            regexp_extract(canonical_url, '^https://([^/]+)', 1) AS host
          FROM canon
          WHERE regexp_extract(canonical_url, '^https://([^/]+)', 1)
            NOT IN ('site3.example.com', 'site7.example.com'))
        SELECT canonical_url, host,
          min(doc_id) AS keeper_doc_id, count(*) AS n_dups
        FROM hosts GROUP BY canonical_url, host ORDER BY canonical_url"""),
      doc = "URL canonicalization (case, :443, utm_*, fragment) + host " +
        "blocklist + keep-first-per-canonical dedup; narrow pass, ONE " +
        "shuffle on canonical_url."),

    // ── distributed BPE merge training (Sennrich et al. 2016) ────────
    // The tokenizer-training step: learn the first BpeMerges byte-pair
    // merges over the corpus. Scale formulation (the paper's own trick):
    // ONE corpus-sized shuffle builds the (word, freq) vocabulary
    // rollup; every merge iteration then runs on the VOCAB table
    // (millions of rows at 100 TB, not the corpus), counting
    // frequency-weighted adjacent symbol pairs and rewriting the symbol
    // strings with the winning pair. The argmax is a 1-row aggregate
    // broadcast back — no driver-side loop state beyond the unrolled
    // step count, no collect. Merge application is literal left-to-right
    // space-sentinel string replace — identical non-overlapping scan
    // semantics in Spark and DuckDB, and exactly BPE's greedy-left merge
    // order within a word.
    QueryDef(
      "pipe_bpe_merges",
      (s, dir) => bpeMerges(s, dir, materialize = true),
      Some { // three unrolled merge iterations, same logic per stage
        def stage(prev: String, k: Int): String =
          s"""p$k AS (
               SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
                 SELECT f, unnest(list_transform(range(len(string_split(ws, ' ')) - 1),
                   i -> string_split(ws, ' ')[i + 1] || ' ' || string_split(ws, ' ')[i + 2])) AS pair
                 FROM $prev) GROUP BY pair),
             t$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
             s$k AS (
               SELECT trim(replace(' ' || ws || ' ', ' ' || t$k.pair || ' ',
                 ' ' || replace(t$k.pair, ' ', '') || ' ')) AS ws, f
               FROM ${if (k == 1) "s0" else s"s${k - 1}"} CROSS JOIN t$k)"""
        s"""WITH words AS (
            SELECT w, count(*) AS f FROM (
              SELECT unnest(toks) AS w FROM ${Corpus.toksDuck("lang")}) GROUP BY w),
          s0 AS (
            SELECT regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS ws, f
            FROM words),
          ${stage("s0", 1)},
          ${stage("s1", 2)},
          ${stage("s2", 3)}
          SELECT * FROM (
            SELECT CAST(1 AS INTEGER) AS merge_rank, pair, replace(pair, ' ', '') AS merged, cnt FROM t1
            UNION ALL
            SELECT CAST(2 AS INTEGER), pair, replace(pair, ' ', ''), cnt FROM t2
            UNION ALL
            SELECT CAST(3 AS INTEGER), pair, replace(pair, ' ', ''), cnt FROM t3)
          ORDER BY merge_rank"""
      },
      doc = "Distributed BPE merge training (3 unrolled iterations): one " +
        "corpus shuffle to the (word, freq) vocab rollup, then every " +
        "iteration runs on the vocab table with a 1-row argmax broadcast " +
        "back — Sennrich et al. 2016's scalable formulation.",
    ),

    // ── fasttext-style hashed linear quality classifier ──────────────
    // Model inference as a pure Catalyst expression pass: features are
    // hashed BIGRAMS (the hashing trick, dimension D), the weight vector
    // is data-independent — w[j] derived from md5(j) — and the document
    // score is the mean feature weight. The determinism recipe is the
    // interesting part: weights are DYADIC rationals (k/1024 with
    // |k| ≤ 1024), so every addend is an exact double with denominator
    // 2^10 and the sum of thousands of them is EXACT float arithmetic —
    // no rounding ever happens, so the result is independent of
    // aggregation order on both engines with no DECIMAL detour. Scale
    // shape: the weight table never materializes anywhere (w[h] is
    // computed inline from the hash), the pass is narrow until one
    // doc_id-keyed rollup — a real fasttext scorer broadcasts its weight
    // array; this shows the same plan with the broadcast replaced by
    // arithmetic.
    QueryDef(
      "pipe_quality_classifier",
      (s, dir) => {
        val grams = Corpus.toks(s, dir, "lang")
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), col("lang"), explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
            .as("g"))
        // h = bucket in [0, D); w = ((h60(bucket-string) % 2049) - 1024) / 1024
        val scored = grams.select(col("doc_id"), col("lang"),
          expr(s"pmod(${h60Spark("g")}, $ClassifierD)").as("h"))
          .select(col("doc_id"), col("lang"),
            // CAST(1024 AS DOUBLE): a bare 1024.0 literal is DECIMAL in
            // Spark SQL and the division silently goes decimal-typed
            expr(s"(pmod(${h60Spark("concat('w', cast(h as string))")}, 2049) - 1024) / cast(1024 as double)")
              .as("w"))
        scored.groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("sw"))
          .select(col("doc_id"), col("lang"), col("n_feats"),
            round(col("sw") / col("n_feats"), 6).as("score"),
            (col("sw") > 0).as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH g AS (
          SELECT doc_id, lang,
            unnest(list_transform(range(len(toks) - 1),
              i -> toks[i+1] || ' ' || toks[i+2])) AS g
          FROM ${Corpus.toksDuck("lang")} WHERE len(toks) >= 2),
        h AS (SELECT doc_id, lang, ${h60Duck("g")} % $ClassifierD AS h FROM g),
        w AS (SELECT doc_id, lang,
            (${h60Duck("'w' || CAST(h AS VARCHAR)")} % 2049 - 1024) / CAST(1024 AS DOUBLE) AS w
          FROM h),
        s AS (SELECT doc_id, lang, count(*) AS n_feats, sum(w) AS sw
          FROM w GROUP BY doc_id, lang)
        SELECT doc_id, lang, n_feats, round(sw / n_feats, 6) AS score, sw > 0 AS kept
        FROM s ORDER BY doc_id"""),
      doc = "Hashed-bigram linear classifier inference (fasttext shape) " +
        "as one narrow expression pass + one doc rollup; dyadic-rational " +
        "weights make the float sum EXACT and order-independent."),

    // ── BPE tokenization: apply the learned merges back to the corpus ─
    // Closes the tokenizer loop (train → apply): the 3 learned merges
    // rewrite the DISTINCT-WORD vocabulary (Sennrich's trick again — the
    // merge chain runs on |V| rows, never the corpus), and the corpus
    // pass is ONE join of exploded words against the rewritten vocab
    // (vocab-sized build side, AQE-broadcast at fixture scale, a plain
    // shuffle join at 100 TB vocab) followed by a per-doc rollup.
    // Per-word pre-BPE symbol count is length+1 (chars + '</w>') — a
    // closed form, no second rewrite chain needed.
    QueryDef(
      "pipe_bpe_tokenize",
      (s, dir) => {
        val merges = bpeMerges(s, dir, materialize = true)
        def pairOf(k: Int): DataFrame =
          merges.filter(col("merge_rank") === k).select(col("pair").as(s"p$k"))
        def rep(c: String, p: String): String =
          s"trim(replace(concat(' ', $c, ' '), concat(' ', $p, ' '), " +
            s"concat(' ', replace($p, ' ', ''), ' ')))"
        val vocab = Corpus.toks(s, dir, "lang")
          .select(explode(col("toks")).as("w")).distinct()
          .withColumn("ws0",
            concat(regexp_replace(col("w"), "(.)", "$1 "), lit("</w>")))
          .crossJoin(broadcast(pairOf(1)))
          .crossJoin(broadcast(pairOf(2)))
          .crossJoin(broadcast(pairOf(3)))
          .withColumn("ws1", expr(rep("ws0", "p1")))
          .withColumn("ws2", expr(rep("ws1", "p2")))
          .withColumn("ws3", expr(rep("ws2", "p3")))
          .select(col("w"),
            size(split(col("ws3"), " ")).cast("long").as("n_post"))
        Corpus.toks(s, dir, "lang")
          .select(col("doc_id"), explode(col("toks")).as("w"))
          .join(vocab, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("w")) + 1).as("n_syms_pre"),
            sum(col("n_post")).as("n_syms_post"))
          .orderBy(col("doc_id"))
      },
      Some {
        def stage(prev: String, k: Int): String =
          s"""p$k AS (
               SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
                 SELECT f, unnest(list_transform(range(len(string_split(ws, ' ')) - 1),
                   i -> string_split(ws, ' ')[i + 1] || ' ' || string_split(ws, ' ')[i + 2])) AS pair
                 FROM $prev) GROUP BY pair),
             t$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
             s$k AS (
               SELECT trim(replace(' ' || ws || ' ', ' ' || t$k.pair || ' ',
                 ' ' || replace(t$k.pair, ' ', '') || ' ')) AS ws, f
               FROM ${if (k == 1) "s0" else s"s${k - 1}"} CROSS JOIN t$k)"""
        def app(prev: String, k: Int): String =
          s"""a$k AS (
               SELECT w, trim(replace(' ' || ws || ' ', ' ' || t$k.pair || ' ',
                 ' ' || replace(t$k.pair, ' ', '') || ' ')) AS ws
               FROM $prev CROSS JOIN t$k)"""
        s"""WITH words AS (
            SELECT w, count(*) AS f FROM (
              SELECT unnest(toks) AS w FROM ${Corpus.toksDuck("lang")}) GROUP BY w),
          s0 AS (
            SELECT regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS ws, f
            FROM words),
          ${stage("s0", 1)},
          ${stage("s1", 2)},
          ${stage("s2", 3)},
          a0 AS (
            SELECT w, regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS ws
            FROM (SELECT DISTINCT w FROM (SELECT unnest(toks) AS w FROM ${Corpus.toksDuck("lang")}))),
          ${app("a0", 1)},
          ${app("a1", 2)},
          ${app("a2", 3)},
          vocab AS (SELECT w, CAST(len(string_split(ws, ' ')) AS BIGINT) AS n_post FROM a3),
          tok AS (SELECT doc_id, unnest(toks) AS w FROM ${Corpus.toksDuck("lang")})
          SELECT doc_id, count(*) AS n_words,
            CAST(sum(length(w) + 1) AS BIGINT) AS n_syms_pre,
            CAST(sum(n_post) AS BIGINT) AS n_syms_post
          FROM tok JOIN vocab USING (w)
          GROUP BY doc_id ORDER BY doc_id"""
      },
      doc = "Apply the 3 learned BPE merges to the corpus: merge chain " +
        "on the |V|-row vocab, ONE corpus join against the rewritten " +
        "vocab + per-doc rollup — train→apply with no corpus-sized rewrite."),

    // ── ST15 batch twin: incremental near-dup dedup vs arrival order ─
    // The declared, oracle-checked semantics of the streaming dedup
    // index (graft.streaming.DocumentStreams): a doc is a duplicate of
    // the SMALLEST earlier-arrived doc that shares ≥1 LSH band bucket
    // with ≥ SigMatchMin of K minhash components equal (estimated
    // Jaccard ≥ 1/2), arrival order := doc_id order. The state the
    // stream holds is signatures only — so the twin also compares
    // signatures, not shingle sets: same verdict the online index can
    // actually compute. StreamingDedupConvergenceSpec pins stream ≡
    // this query across multi-file micro-batch replays.
    QueryDef(
      "st_incremental_minhash",
      (s, dir) => {
        import graft.streaming.DocumentStreams
        val docs = Corpus.documents(s, dir)
        val b = DocumentStreams.bandedSigs(docs).persist()
        val cand = b.as("a").join(b.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_sig") === col("b.band_sig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("b.doc_id").as("doc_id"), col("a.doc_id").as("doc_a"),
            expr("cast(aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) as bigint)")
              .as("n_match"))
          .filter(col("n_match") >= DocumentStreams.SigMatchMin)
          .distinct()
        val verdict = cand.groupBy(col("doc_id"))
          .agg(min(struct(col("doc_a"), col("n_match"))).as("m"))
          .select(col("doc_id"), col("m.doc_a").as("dup_of"),
            col("m.n_match").as("n_match"))
        val out = docs.select(col("doc_id"))
          .join(verdict, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"), col("n_match"),
            when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("status"))
          .orderBy(col("doc_id"))
        Layouts.materialize((out, Seq(b)))
      },
      Some {
        import DedupQueries.{A, B, BANDS, K, P, ROWS}
        val sigExpr = (0 until K).map { i =>
          s"list_min(list_transform(hs, h -> (CAST(${A(i)} AS BIGINT) * h + ${B(i)}) % $P))"
        }.mkString("[", ", ", "]")
        s"""WITH sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(len(toks) - 2),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
            FROM ${Corpus.toksDuck()}
            WHERE len(toks) >= 3),
          hashed AS (
            SELECT doc_id,
              list_transform(shingles, s -> ${h60Duck("s")} % $P) AS hs
            FROM sh),
          sigs AS (SELECT doc_id, $sigExpr AS sig FROM hashed),
          banded AS (
            SELECT doc_id, sig,
              unnest(range($BANDS)) AS band_idx,
              unnest(list_transform(range($BANDS),
                b -> array_to_string(list_transform(array_slice(sig, CAST(b * $ROWS + 1 AS INTEGER), CAST(b * $ROWS + $ROWS AS INTEGER)), v -> CAST(v AS VARCHAR)), '_'))) AS band_sig
            FROM sigs),
          cand AS (
            SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS doc_a,
              CAST(len(list_filter(range($K), i -> a.sig[i+1] = b.sig[i+1])) AS BIGINT) AS n_match
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
          hits AS (SELECT * FROM cand WHERE n_match >= ${graft.streaming.DocumentStreams.SigMatchMin}),
          verdict AS (SELECT doc_id, min(doc_a) AS dup_of FROM hits GROUP BY doc_id),
          v2 AS (
            SELECT v.doc_id, v.dup_of, min(h.n_match) AS n_match
            FROM verdict v JOIN hits h ON h.doc_id = v.doc_id AND h.doc_a = v.dup_of
            GROUP BY v.doc_id, v.dup_of)
          SELECT d.doc_id, v2.dup_of, v2.n_match,
            CASE WHEN v2.dup_of IS NULL THEN 'new' ELSE 'dup' END AS status
          FROM documents d LEFT JOIN v2 USING (doc_id) ORDER BY d.doc_id"""
      },
      doc = "Batch twin of the streaming incremental minhash dedup index " +
        "(DocumentStreams): smallest earlier-arrived bucket-mate with " +
        "≥16/32 matching minhash components; signatures only, the state " +
        "the online index actually holds.")
  )

  /** SemDeDup's in-cell prune + per-vector verdict, shared by the fixed-k
    * and load-scaled variants: a vector is pruned when a smaller-id
    * cell-mate sits at cosine ≥ τ. `assign` must carry
    * (vec_id, v, nrm, cell).
    */
  private def semdedupPrune(assign: DataFrame): DataFrame = {
    val prunes = assign.as("a")
      .join(assign.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("by_id"),
        round(VectorOps.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
          .as("cs"))
      .filter(col("cs") >= SemTau)
      .groupBy(col("vec_id")).agg(min(col("by_id")).as("pruned_by"))
    assign.select(col("vec_id"), col("cell"))
      .join(prunes, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("pruned_by"),
        col("pruned_by").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The BPE pipeline. `materialize = true` (the declared query) persists
    * the vocab rollup and each rewritten generation — the tables are
    * vocab-sized, tiny next to the corpus, but three unrolled stages
    * reference their predecessors once per argmax AND once per rewrite,
    * so without the barrier every t_k would re-run the corpus-sized
    * explode k times (measured 9.5 → 7.5 s at the ×10 probe; what
    * remains is the one corpus pass — the ×1→×10 trajectory is linear,
    * 0.88 → 7.5 s). `materialize = false` returns the raw composed plan
    * so PlanSpec can pin the broadcast-argmax shape (a localCheckpoint
    * boundary hides it behind an RDD scan).
    */
  private[graft] def bpeMerges(s: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    val words = Corpus.toks(s, dir, "lang")
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val sym0raw = words.select(
      concat(regexp_replace(col("w"), "(.)", "$1 "), lit("</w>")).as("ws"),
      col("f"))
    val sym0 = if (materialize) sym0raw.persist() else sym0raw

    // one merge iteration over the vocab table: weighted pair counts
    // → 1-row argmax (count desc, pair asc) → broadcast rewrite.
    def step(df: DataFrame): (DataFrame, DataFrame) = {
      // a word can collapse to ONE symbol once a '<x> </w>' pair wins
      // (single-letter words) — it then contributes no pairs. The
      // size guard matters beyond semantics: Spark's sequence(0, -1)
      // is the DESCENDING [0, -1], so the unguarded transform indexes
      // out of bounds (caught by the ×10 probe, where 'a </w>' wins
      // merge 3).
      val pairs = df.filter(size(split(col("ws"), " ")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(0, size(split(ws, ' ')) - 2), " +
            "i -> concat(split(ws, ' ')[i], ' ', split(ws, ' ')[i+1]))"))
        .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      val top = pairs
        .select(min(struct((-col("cnt")).as("nc"), col("pair").as("p"))).as("m"))
        .select(col("m.p").as("pair"), (-col("m.nc")).as("cnt"))
      val applied = df.crossJoin(broadcast(top))
        .select(expr(
          "trim(replace(concat(' ', ws, ' '), concat(' ', pair, ' '), " +
            "concat(' ', replace(pair, ' ', ''), ' ')))").as("ws"),
          col("f"))
      (applied, top)
    }

    val (s1u, t1) = step(sym0)
    val s1 = if (materialize) s1u.persist() else s1u
    val (s2u, t2) = step(s1)
    val s2 = if (materialize) s2u.persist() else s2u
    val (_, t3) = step(s2)
    val out = Seq(t1, t2, t3).zipWithIndex
      .map { case (t, i) =>
        t.select(lit(i + 1).cast("int").as("merge_rank"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("merged"), col("cnt"))
      }
      .reduce(_.union(_))
      .orderBy(col("merge_rank"))
    if (!materialize) out
    else Layouts.materialize((out, Seq(sym0, s1, s2)))
  }

  /** Containment candidate pairs BEFORE the τ threshold (Broder 1997):
    * distinct DupK-token shingles → df-capped inverted index → candidate
    * self-join → per-pair shared count + both asymmetric containment
    * ratios. Public so the adversarial spec can pin the df-cap's
    * structural guarantees directly on the candidate set: a shingle at
    * df == ContainDfCap contributes exactly C(df,2) candidates, one past
    * the cap contributes ZERO — the boilerplate prune that keeps the
    * join linear in true-dup multiplicity instead of df².
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = Corpus.toks(s, dir, "lang")
      .filter(size(col("toks")) >= DupK)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(toks) - $DupK), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $DupK)))"))).as("g"))
    val rare = sh.groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= ContainDfCap).select(col("g"))
    val pr = sh.join(rare, Seq("g"))
    val cnt = pr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = pr.as("x").join(pr.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c_shared"))
    pairs
      .join(broadcast(cnt.select(col("doc_id").as("a"), col("n_sh").as("na"))), "a")
      .join(broadcast(cnt.select(col("doc_id").as("b"), col("n_sh").as("nb"))), "b")
      .withColumn("cont_a",
        round(col("c_shared").cast(DoubleType) / col("na"), 6))
      .withColumn("cont_b",
        round(col("c_shared").cast(DoubleType) / col("nb"), 6))
  }
}
