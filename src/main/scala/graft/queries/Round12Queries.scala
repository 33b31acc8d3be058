package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.operators.Layouts
import graft.queries.Corpus.h60Spark

/** Round-12 batch: curation-at-scale twins + schedule math —
  *
  *  - BLOOM-prefiltered decontamination: the GPT-3-style eval-overlap
  *    screen with the eval shingle index compressed to a fixed-size
  *    Bloom bitmap (Bloom 1970) broadcast ahead of the exact join —
  *    false-positive-tolerant prefiltering with provably zero false
  *    negatives, so the final answer is BIT-IDENTICAL to
  *    `pipe_decontaminate` (shared oracle);
  *  - broadcast-CUTOFF CCNet bucketing: the production form the
  *    `pipe_ccnet_buckets` code comment promises — per-language tercile
  *    cutoff scores from a lang-bounded rollup, broadcast back, buckets
  *    assigned in a narrow comparison pass (no per-language rank
  *    window);
  *  - data-constrained epoch scheduling (Muennighoff et al. 2023,
  *    "Scaling Data-Constrained Language Models"): temperature-mixed
  *    per-source budget allocation with the ≤4-epoch repeat cap and one
  *    water-filling redistribution round;
  *  - MAD robust length outliers (Iglewicz & Hoaglin 1993 modified
  *    z-score): per-language median/MAD broadcast, corpus flagged in a
  *    narrow pass;
  *  - the RUNNING soft-dedup weight (batch twin of
  *    `DocumentStreams.incrementalSoftDedup`): weight 1/k where k is
  *    the doc's arrival rank within its duplicate cluster — what an
  *    online index can actually know at ingest time; the final arrival
  *    recovers `pipe_soft_dedup`'s 1/|cluster|.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object Round12Queries {

  // ── Bloom filter constants ─────────────────────────────────────────
  /** Bitmap size: 2^16 bits = 1024 longs = 8 KiB — fixed no matter how
    * large the eval set grows (the whole point vs the shingle index).
    */
  val BloomBits = 65536
  val BloomWords = BloomBits / 64
  /** Independent hash functions (k = 3 ≈ optimal for m/n ≈ 4–8 at the
    * fixture's eval shingle count).
    */
  val BloomK = 3

  // ── epoch-schedule constants ───────────────────────────────────────
  /** Repeat ceiling: ~4 epochs is where repeated data's value decays to
    * noise (Muennighoff 2023 fig. 3).
    */
  val MaxEpochs = 4

  /** Modified z-score outlier threshold (Iglewicz & Hoaglin 1993). */
  val MadZ = 3.5

  private val EvalMod = 17

  /** Per-doc LM-surprisal scores (doc_id, lang, avg_surprisal) — the
    * CCNet scoring pass shared by pipe_ccnet_buckets_cutoff and the
    * sketch twin (SketchQueries, over the `BottomK` law): one
    * token-count shuffle, broadcast freq/total, one doc rollup over
    * exact-DECIMAL surprisal terms.
    */
  private[graft] def ccnetScored(s: SparkSession, dir: String): DataFrame = {
    val tk = Corpus.tok(s, dir, "lang")
    val freq = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("total"))
    tk.join(broadcast(freq), "tok")
      .crossJoin(broadcast(tot))
      .withColumn("surp",
        round(-log(col("cnt") / col("total")), 9).cast(DecimalType(28, 9)))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("surp")).cast(DoubleType) / count(lit(1)), 6)
        .as("avg_surprisal"))
  }

  /** The matching DuckDB CTE chain, ending in `scored`. */
  private[queries] val ccnetScoredDuck: String =
    s"""tk AS (
          SELECT doc_id, lang, unnest(toks) AS tok
          FROM (SELECT d.doc_id, d.lang, ${Corpus.tokensDuck("d.text")} AS toks
                FROM documents d)),
        f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT sum(cnt) AS total FROM f),
        sc AS (
          SELECT doc_id, lang,
            CAST(round(-ln(cnt / (SELECT total FROM tot)), 9) AS DECIMAL(28,9)) AS surp
          FROM tk JOIN f USING (tok)),
        scored AS (
          SELECT doc_id, lang,
            round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS avg_surprisal
          FROM sc GROUP BY doc_id, lang)"""

  /** Corpus 5-gram shingle stream — identical to pipe_decontaminate's
    * (CurationQueries.scala): the bloom twin must screen the same
    * shingle space to share its oracle.
    */
  private def shingles5(s: SparkSession, dir: String): DataFrame =
    Corpus.toks(s, dir)
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))")))
        .as("shingle"))

  /** The BloomK bit positions of a shingle, shared expression recipe. */
  private def bloomBitsExpr(shingleCol: String): String =
    s"""transform(sequence(0, ${BloomK - 1}), j ->
          ${h60Spark(s"concat('bf', cast(j as string), ':', $shingleCol)")} % $BloomBits)"""

  /** (bloom-survivor corpus shingles BEFORE the exact verify join,
    * distinct eval shingle set). The shingle stream is persisted: it
    * feeds the eval index, the bitmap build, and the corpus screen, and
    * without the InMemoryRelation barrier the explode subtree would be
    * inlined into all three (the minhashPairs recipe). Survivors
    * exposed for Round12Spec's pruning/false-negative assertions.
    */
  /** Also returns the persisted shingle stage so callers can release it
    * (the query below through `Layouts.materialize`; Round12Spec too).
    */
  private[graft] def bloomParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = shingles5(s, dir).persist()
    val evalSet = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("shingle")).distinct()
    val bf = evalSet
      .select(explode(expr(bloomBitsExpr("shingle"))).as("bit"))
      .select((col("bit") / 64).cast("int").as("w"),
        expr("shiftleft(1L, cast(bit % 64 as int))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("mm"))
      .select(expr(
        s"transform(sequence(0, ${BloomWords - 1}), i -> coalesce(mm[i], 0L))")
        .as("bf"))
    val survivors = sh.filter(col("doc_id") % EvalMod =!= 0)
      .crossJoin(broadcast(bf))
      .filter(expr(
        s"""forall(${bloomBitsExpr("shingle")},
              b -> (bf[cast(b / 64 as int)] & shiftleft(1L, cast(b % 64 as int))) <> 0)"""))
      .select(col("doc_id"), col("shingle"))
    (survivors, evalSet, sh)
  }

  /** Shared CC cluster table (doc_id, cluster_id, cluster_size) with
    * singleton fill — the same left-join + coalesce as pipe_soft_dedup.
    */
  private[queries] def clusteredDocs(s: SparkSession, dir: String): DataFrame = {
    val cc = DedupQueries.clusterCc(s, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Bloom-prefiltered decontamination ────────────────────────────
    // At benchmark-suite scale the distinct-eval-shingle index is still
    // broadcastable, but it grows with the eval suite; the Bloom bitmap
    // does NOT — 8 KiB forever, and the corpus-side screen becomes pure
    // per-row bit math with NO join at all. Only bloom survivors (true
    // hits + the ~(1-e^{-kn/m})^k false-positive sliver) enter the
    // exact broadcast join, which removes the false positives — a Bloom
    // filter has no false negatives, so the final result is
    // bit-identical to pipe_decontaminate and replays ITS oracle. The
    // bitmap itself is built in-plan (explode → bit_or rollup →
    // map_from_entries one-row collapse; collect_list order washes out
    // in the map), no driver-side filter object.
    QueryDef(
      "pipe_decontaminate_bloom",
      (s, dir) => {
        val (survivors, evalSet, sh) = bloomParts(s, dir)
        // materialize the (tiny) per-doc rollup, then release the
        // corpus-sized shingle cache
        Layouts.materialize((survivors
          .join(broadcast(evalSet), "shingle")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("shingle")).as("n_eval_hits"))
          .orderBy(col("doc_id")), Seq(sh)))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(range(len(toks) - 4),
              i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))) AS shingle
          FROM ${Corpus.toksDuck()} WHERE len(toks) >= 5),
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $EvalMod = 0)
        SELECT doc_id, count(DISTINCT sh.shingle) AS n_eval_hits
        FROM sh JOIN ev USING (shingle)
        WHERE doc_id % $EvalMod <> 0
        GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Bloom-prefiltered 5-gram decontamination: 8 KiB bitmap " +
        "(2^16 bits, k=3) built in-plan and broadcast; the corpus screen " +
        "is joinless per-row bit math, exact verify only on survivors — " +
        "zero false negatives, so the result is bit-identical to " +
        "pipe_decontaminate (shared oracle)."),

    // ── CCNet bucketing through broadcast cutoffs ────────────────────
    // The production twin pipe_ccnet_buckets' code comment promises:
    // instead of the per-language rank window (which range-shuffles
    // each language onto ONE task — the built-in hot-group skew of a
    // low-cardinality partition key), compute the two tercile cutoff
    // scores per language in a lang-bounded aggregate, broadcast them,
    // and assign buckets in a narrow comparison pass. The corpus never
    // sorts. Cutoffs here are EXACT percentiles so DuckDB can replay
    // them (quantile_cont — same linear interpolation); the 100 TB form
    // swaps in a mergeable quantile sketch and keeps everything else.
    // Threshold semantics (score ≤ cutoff) make boundary ties land in
    // the lower bucket on both engines; counts differ from the
    // rank-window form by at most the tied docs, which is why this is
    // its own declared query with its own oracle.
    QueryDef(
      "pipe_ccnet_buckets_cutoff",
      (s, dir) => {
        val scored = ccnetScored(s, dir)
        val cuts = scored.groupBy(col("lang")).agg(
          round(expr("percentile(avg_surprisal, cast(1 as double) / 3)"), 6).as("c1"),
          round(expr("percentile(avg_surprisal, cast(2 as double) / 3)"), 6).as("c2"))
        scored.join(broadcast(cuts), Seq("lang"))
          .withColumn("ppl_bucket", expr(
            """CASE WHEN avg_surprisal <= c1 THEN 'head'
                    WHEN avg_surprisal <= c2 THEN 'middle'
                    ELSE 'tail' END"""))
          .select(col("doc_id"), col("lang"), col("avg_surprisal"), col("ppl_bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $ccnetScoredDuck,
        cuts AS (
          SELECT lang,
            round(quantile_cont(avg_surprisal, 1.0 / 3), 6) AS c1,
            round(quantile_cont(avg_surprisal, 2.0 / 3), 6) AS c2
          FROM scored GROUP BY lang)
        SELECT doc_id, scored.lang, avg_surprisal,
          CASE WHEN avg_surprisal <= c1 THEN 'head'
               WHEN avg_surprisal <= c2 THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM scored JOIN cuts ON scored.lang = cuts.lang
        ORDER BY doc_id"""),
      doc = "CCNet bucketing, broadcast-cutoff form: per-language tercile " +
        "cutoffs from a lang-bounded exact-percentile rollup, broadcast " +
        "back, buckets assigned in a narrow comparison pass — no " +
        "per-language rank window, corpus never sorts."),

    // ── data-constrained epoch scheduling (Muennighoff 2023) ─────────
    // Given per-source available tokens (n_chars as the deterministic
    // token proxy) and a temperature-α=0.5 target mixture, allocate a
    // budget B = Σ avail: alloc_d = share_d·B. Sources whose allocation
    // exceeds MaxEpochs·avail are CAPPED (repeating data past ~4 epochs
    // is worthless — the paper's headline result) and their surplus is
    // redistributed pro-rata across the uncapped sources in one
    // water-filling round (stated plainly: full water-filling iterates
    // until no new caps; one round is exact when the redistribution
    // caps nothing new, which the spec checks on the fixture — and the
    // redistributed value is CLAMPED at avail·MaxEpochs, so on skewed
    // data where the single round would over-fill a source the ≤4-epoch
    // ceiling still holds; the clamped surplus is then simply unspent
    // budget, the conservative failure mode). Every
    // sum over the source table is round(·,6)→DECIMAL so double
    // aggregation order can't leak in; the whole schedule is
    // |sources|-row math after ONE map-side-combinable corpus rollup.
    QueryDef(
      "pipe_epoch_schedule",
      (s, dir) => {
        val avail = Tables.load(s, dir, "documents")
          .groupBy(col("source")).agg(sum(col("n_chars")).as("avail"))
        val shares = avail
          .withColumn("rt", round(sqrt(col("avail").cast(DoubleType)), 6)
            .cast(DecimalType(28, 6)))
        val scal = shares.agg(
          sum(col("rt")).as("rtsum"), sum(col("avail")).as("budget"))
        val alloc = shares.crossJoin(broadcast(scal))
          .withColumn("share",
            round(col("rt").cast(DoubleType) / col("rtsum").cast(DoubleType), 9))
          .withColumn("alloc0", round(col("share") * col("budget"), 2)
            .cast(DecimalType(28, 2)))
          .withColumn("capped",
            col("alloc0") > col("avail") * lit(MaxEpochs))
        val redis = alloc.agg(
          sum(when(col("capped"),
              col("alloc0") - col("avail") * lit(MaxEpochs))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(28, 2)))).as("surplus"),
          sum(when(!col("capped"), col("alloc0"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(28, 2)))).as("open"))
        alloc.crossJoin(broadcast(redis))
          .withColumn("final_toks", when(col("capped"),
              (col("avail") * lit(MaxEpochs)).cast(DoubleType))
            .otherwise(least(
              round(col("alloc0").cast(DoubleType) *
                (lit(1.0) + col("surplus").cast(DoubleType) /
                  col("open").cast(DoubleType)), 2),
              (col("avail") * lit(MaxEpochs)).cast(DoubleType))))
          .withColumn("epochs", round(col("final_toks") / col("avail"), 4))
          .select(col("source"), col("avail"),
            col("share"), col("alloc0").cast(DoubleType).as("alloc0"),
            col("capped"), col("final_toks"), col("epochs"))
          .orderBy(col("source"))
      },
      Some(s"""WITH avail AS (
          SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
          FROM documents GROUP BY source),
        shares AS (
          SELECT source, avail,
            CAST(round(sqrt(CAST(avail AS DOUBLE)), 6) AS DECIMAL(28,6)) AS rt
          FROM avail),
        scal AS (SELECT sum(rt) AS rtsum, sum(avail) AS budget FROM shares),
        alloc AS (
          SELECT source, avail,
            round(CAST(rt AS DOUBLE) / CAST(rtsum AS DOUBLE), 9) AS share,
            CAST(round(round(CAST(rt AS DOUBLE) / CAST(rtsum AS DOUBLE), 9) * budget, 2)
              AS DECIMAL(28,2)) AS alloc0
          FROM shares CROSS JOIN scal),
        alloc2 AS (
          SELECT *, alloc0 > avail * $MaxEpochs AS capped FROM alloc),
        redis AS (
          SELECT
            sum(CASE WHEN capped THEN alloc0 - avail * $MaxEpochs
                     ELSE CAST(0 AS DECIMAL(28,2)) END) AS surplus,
            sum(CASE WHEN capped THEN CAST(0 AS DECIMAL(28,2))
                     ELSE alloc0 END) AS open
          FROM alloc2)
        SELECT source, avail, share,
          CAST(alloc0 AS DOUBLE) AS alloc0, capped,
          CASE WHEN capped THEN CAST(avail * $MaxEpochs AS DOUBLE)
               ELSE least(round(CAST(alloc0 AS DOUBLE) *
                 (1.0 + CAST(surplus AS DOUBLE) / CAST(open AS DOUBLE)), 2),
                 CAST(avail * $MaxEpochs AS DOUBLE))
          END AS final_toks,
          round(CASE WHEN capped THEN CAST(avail * $MaxEpochs AS DOUBLE)
               ELSE least(round(CAST(alloc0 AS DOUBLE) *
                 (1.0 + CAST(surplus AS DOUBLE) / CAST(open AS DOUBLE)), 2),
                 CAST(avail * $MaxEpochs AS DOUBLE))
          END / avail, 4) AS epochs
        FROM alloc2 CROSS JOIN redis
        ORDER BY source"""),
      doc = "Data-constrained epoch schedule (Muennighoff 2023): " +
        "temperature-mixed budget allocation with the ≤4-epoch repeat " +
        "cap and one pro-rata water-filling redistribution; one corpus " +
        "rollup, then |sources|-row exact-DECIMAL math."),

    // ── MAD robust length outliers (modified z-score) ────────────────
    // Per-language median and MAD (median absolute deviation) computed
    // as exact percentiles in two lang-bounded rollups, broadcast back;
    // the corpus is flagged in a narrow comparison pass — no global
    // sort, no window. Modified z = 0.6745·(x − med)/MAD with |z| > 3.5
    // (Iglewicz & Hoaglin 1993); MAD floors at 1 so a degenerate
    // language (all lengths equal) divides safely. At 100 TB the two
    // exact-percentile rollups become one mergeable KLL/t-digest sketch
    // pass; everything downstream is unchanged.
    QueryDef(
      "text_length_outliers",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val med = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, cast(1 as double) / 2)").as("med"))
        val dev = docs.join(broadcast(med), Seq("lang"))
        val mad = dev.groupBy(col("lang"))
          .agg(expr("percentile(abs(n_chars - med), cast(1 as double) / 2)")
            .as("mad"))
        dev.join(broadcast(mad), Seq("lang"))
          .withColumn("robust_z", round(
            lit(0.6745) * (col("n_chars") - col("med")) /
              greatest(col("mad"), lit(1.0)), 6))
          .withColumn("is_outlier", abs(col("robust_z")) > MadZ)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
            col("robust_z"), col("is_outlier"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH med AS (
          SELECT lang, quantile_cont(n_chars, 0.5) AS med
          FROM documents GROUP BY lang),
        mad AS (
          SELECT d.lang, quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
          FROM documents d JOIN med m ON d.lang = m.lang
          GROUP BY d.lang)
        SELECT d.doc_id, d.lang, d.n_chars,
          round(m.med, 6) AS med, round(a.mad, 6) AS mad,
          round(0.6745 * (d.n_chars - m.med) / greatest(a.mad, 1.0), 6) AS robust_z,
          abs(round(0.6745 * (d.n_chars - m.med) / greatest(a.mad, 1.0), 6)) > $MadZ AS is_outlier
        FROM documents d
        JOIN med m ON d.lang = m.lang
        JOIN mad a ON d.lang = a.lang
        ORDER BY d.doc_id"""),
      doc = "MAD robust length outliers (modified z-score, |z| > 3.5): " +
        "per-language median + MAD from exact-percentile rollups " +
        "broadcast back, corpus flagged in a narrow pass — no global " +
        "sort; sketch-swappable at 100 TB."),

    // ── running soft-dedup weight (batch twin of the stream) ─────────
    // The ONLINE form of pipe_soft_dedup: when a doc arrives, its
    // weight is 1/k where k = how many cluster members (itself
    // included) have arrived so far — arrival order := doc_id order,
    // exactly what DocumentStreams.incrementalSoftDedup's per-bucket
    // index computes at ingest time. The last arrival recovers the
    // batch 1/|cluster|; earlier members carry the running values an
    // online system can actually know. Root = first-arrived member =
    // min doc_id = the CC min-label cluster_id, so the rank window
    // partitions on the CLUSTER key (high-cardinality — no hot group).
    QueryDef(
      "st_soft_dedup_running",
      (s, dir) => {
        val w = Window.partitionBy(col("cluster_id")).orderBy(col("doc_id"))
        clusteredDocs(s, dir)
          .withColumn("k", row_number().over(w).cast("long"))
          .withColumn("weight", round(lit(1.0) / col("k"), 6))
          .select(col("doc_id"), col("cluster_id").as("root"), col("k"),
            col("weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${DedupQueries.minhashPairsDuckCteRecursive},
          und AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
            UNION
            SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
          lbl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          full_lbl AS (
            SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS root
            FROM documents d LEFT JOIN lbl l USING (doc_id))
        SELECT doc_id, root,
          row_number() OVER (PARTITION BY root ORDER BY doc_id) AS k,
          round(1.0 / row_number() OVER (PARTITION BY root ORDER BY doc_id), 6) AS weight
        FROM full_lbl ORDER BY doc_id"""),
      doc = "Running soft-dedup weight (batch twin of the streaming " +
        "incrementalSoftDedup): weight 1/k at arrival rank k within the " +
        "CC cluster, arrival order = doc_id order; last arrival equals " +
        "pipe_soft_dedup's 1/|cluster|; rank window on the " +
        "high-cardinality cluster key."),

    // ── reciprocal-rank fusion of two ANN indexes ────────────────────
    // RRF (Cormack, Clarke & Buettcher SIGIR 2009): score(d) =
    // Σ_systems 1/(60 + rank_s(d)) — the rank-only ensembling rule that
    // needs no score calibration between systems. Here it fuses the two
    // data-independent-vs-clustered ANN serving paths (sign-LSH
    // multi-probe and IVF centroid-probe) over their shared query set:
    // the standard cheap recall lift when two indexes miss DIFFERENT
    // neighbors. Both inputs arrive query-bounded (top-k per query), so
    // the fusion join + re-rank window touch k·|q| rows — negligible
    // next to the index scans at any corpus size.
    QueryDef(
      "sim_rrf_fusion",
      (s, dir) => {
        val byName = SimilarityQueries.defs.map(d => d.name -> d).toMap
        val l = byName("sim_lsh_topk").fn(s, dir)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("lr"))
        val i = byName("sim_ivf_topk").fn(s, dir)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("ir"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("neighbor_id").asc)
        l.join(i, Seq("query_id", "neighbor_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("ir")), lit(0.0)), 9))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= SimilarityQueries.IvfTopK)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("rrf"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val byName = SimilarityQueries.defs.map(d => d.name -> d).toMap
        s"""WITH lsh AS (${byName("sim_lsh_topk").oracle.get}),
          ivf AS (${byName("sim_ivf_topk").oracle.get}),
          uni AS (
            SELECT coalesce(l.query_id, i.query_id) AS query_id,
              coalesce(l.neighbor_id, i.neighbor_id) AS neighbor_id,
              l.rank AS lr, i.rank AS ir
            FROM lsh l FULL OUTER JOIN ivf i
              ON l.query_id = i.query_id AND l.neighbor_id = i.neighbor_id),
          sc AS (
            SELECT query_id, neighbor_id,
              round(coalesce(1.0 / (60 + lr), 0.0)
                + coalesce(1.0 / (60 + ir), 0.0), 9) AS rrf
            FROM uni),
          rk AS (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC) AS rank
            FROM sc)
        SELECT query_id, rank, neighbor_id, rrf FROM rk
        WHERE rank <= ${SimilarityQueries.IvfTopK}
        ORDER BY query_id, rank"""
      },
      doc = "Reciprocal-rank fusion (k=60) of the sign-LSH and IVF ANN " +
        "rankings over the shared query set: rank-only ensembling, no " +
        "score calibration; fusion runs on k·|q| rows regardless of " +
        "corpus size."),

    // ── corpus drift: KL / JS divergence between snapshot halves ─────
    // The distribution-shift monitor a refreshed-crawl pipeline runs
    // before retraining: per-language unigram distributions of two
    // snapshots (deterministically: even vs odd doc_ids) compared by
    // KL(A‖B), KL(B‖A) and the bounded symmetric Jensen-Shannon
    // divergence, with add-one smoothing over the union vocabulary so
    // every log is finite. ONE (lang, tok) corpus rollup carrying both
    // sides as conditional counts (map-side combinable), a lang-bounded
    // stats broadcast, then vocab-bounded narrow math; per-term
    // contributions round(·,9)→DECIMAL so double aggregation order
    // cannot leak into the sums.
    QueryDef(
      "pipe_corpus_drift",
      (s, dir) => {
        val tk = Corpus.documents(s, dir)
          .select(col("lang"), (col("doc_id") % 2 === 0).as("is_a"),
            explode(Corpus.tokens(col("text"))).as("tok"))
        val cnt = tk.groupBy(col("lang"), col("tok")).agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
        val stats = cnt.groupBy(col("lang")).agg(
          sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          count(lit(1)).as("vv"))
        cnt.join(broadcast(stats), Seq("lang"))
          .withColumn("p", (col("ca") + 1).cast(DoubleType) / (col("na") + col("vv")))
          .withColumn("q", (col("cb") + 1).cast(DoubleType) / (col("nb") + col("vv")))
          .withColumn("m", (col("p") + col("q")) / 2)
          .withColumn("kab", round(col("p") * log(col("p") / col("q")), 9)
            .cast(DecimalType(28, 9)))
          .withColumn("kba", round(col("q") * log(col("q") / col("p")), 9)
            .cast(DecimalType(28, 9)))
          .withColumn("jst", round(
            col("p") * log(col("p") / col("m")) / 2 +
              col("q") * log(col("q") / col("m")) / 2, 9)
            .cast(DecimalType(28, 9)))
          .groupBy(col("lang"))
          .agg(
            max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
            max(col("vv")).as("vocab"),
            round(sum(col("kab")).cast(DoubleType), 6).as("kl_ab"),
            round(sum(col("kba")).cast(DoubleType), 6).as("kl_ba"),
            round(sum(col("jst")).cast(DoubleType), 6).as("js"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH tk AS (
          SELECT lang, doc_id % 2 = 0 AS is_a,
            unnest(${Corpus.tokensDuck("text")}) AS tok
          FROM documents),
        cnt AS (
          SELECT lang, tok,
            sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
            sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
          FROM tk GROUP BY lang, tok),
        stats AS (
          SELECT lang, CAST(sum(ca) AS BIGINT) AS na,
            CAST(sum(cb) AS BIGINT) AS nb, count(*) AS vv
          FROM cnt GROUP BY lang),
        terms AS (
          SELECT c.lang, s.na, s.nb, s.vv,
            CAST(c.ca + 1 AS DOUBLE) / (s.na + s.vv) AS p,
            CAST(c.cb + 1 AS DOUBLE) / (s.nb + s.vv) AS q
          FROM cnt c JOIN stats s ON c.lang = s.lang),
        contrib AS (
          SELECT lang, na, nb, vv,
            CAST(round(p * ln(p / q), 9) AS DECIMAL(28,9)) AS kab,
            CAST(round(q * ln(q / p), 9) AS DECIMAL(28,9)) AS kba,
            CAST(round(p * ln(p / ((p + q) / 2)) / 2
              + q * ln(q / ((p + q) / 2)) / 2, 9) AS DECIMAL(28,9)) AS jst
          FROM terms)
        SELECT lang, max(na) AS n_a, max(nb) AS n_b, max(vv) AS vocab,
          round(CAST(sum(kab) AS DOUBLE), 6) AS kl_ab,
          round(CAST(sum(kba) AS DOUBLE), 6) AS kl_ba,
          round(CAST(sum(jst) AS DOUBLE), 6) AS js
        FROM contrib GROUP BY lang ORDER BY lang"""),
      doc = "Per-language corpus drift between snapshot halves: KL both " +
        "directions + bounded Jensen-Shannon over add-one-smoothed " +
        "unigram distributions; one (lang,tok) rollup, lang-bounded " +
        "stats broadcast, vocab-bounded exact-DECIMAL math."),

    // ── duplication profile: cluster-size histogram ──────────────────
    // The dedup REPORT a curation run ships: how many duplicate
    // clusters of each size, how many docs they hold, and how many
    // docs hard dedup would remove (excess = docs − clusters). One
    // rollup over the cluster table (already true-dup-bounded plus one
    // row per singleton); composes the same CC clusters every other
    // dedup consumer uses.
    QueryDef(
      "dedup_cluster_stats",
      (s, dir) => {
        clusteredDocs(s, dir)
          .groupBy(col("cluster_size"))
          .agg(
            count_distinct(col("cluster_id")).as("n_clusters"),
            count(lit(1)).as("n_docs"))
          .withColumn("excess_docs", col("n_docs") - col("n_clusters"))
          .orderBy(col("cluster_size"))
      },
      Some(s"""${DedupQueries.minhashPairsDuckCteRecursive},
          und AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
            UNION
            SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
          lbl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          full_lbl AS (
            SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN lbl l USING (doc_id)),
          sized AS (
            SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM full_lbl)
        SELECT cluster_size,
          count(DISTINCT cluster_id) AS n_clusters,
          count(*) AS n_docs,
          count(*) - count(DISTINCT cluster_id) AS excess_docs
        FROM sized GROUP BY cluster_size ORDER BY cluster_size"""),
      doc = "Duplication profile: cluster-size histogram over the shared " +
        "CC clusters (n_clusters, n_docs, hard-dedup excess per size); " +
        "one rollup on the dup-bounded cluster table."),

    // ── duplicate clusters via alternating star rounds ───────────────
    // The adversarial-graph twin of dedup_cluster_cc: min-label
    // propagation moves a label one hop per round (rounds = component
    // diameter — fine for real near-dup clusters, pathological for
    // chain-shaped ones, e.g. sliding boilerplate where doc i matches
    // only doc i±1); the Kiveris SoCC'14 large-star/small-star rounds
    // rewire the graph toward depth-1 stars and converge in O(log² n)
    // rounds at ANY diameter. Identical output by construction (both
    // canonicalize to the min reachable id) ⇒ the two queries share one
    // oracle; CcStarSpec pins bit-equality here and the round-count
    // separation on a planted 64-chain (star ≤ 8 rounds where min-label
    // needs the full 64).
    QueryDef(
      "dedup_cluster_cc_star",
      (s, dir) => {
        val edges = DedupQueries.minhashPairs(s, dir)
          .select(col("doc_a"), col("doc_b"))
        val (labels, _) = graft.operators.ConnectedComponents.runStar(edges)
        val w = Window.partitionBy(col("cluster_id"))
        labels
          .select(col("cluster_id"), col("node").as("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .orderBy(col("cluster_id"), col("doc_id"))
      },
      DedupQueries.defs.find(_.name == "dedup_cluster_cc").flatMap(_.oracle),
      doc = "Duplicate clusters via alternating large-star/small-star " +
        "rounds (Kiveris 2014): O(log^2 n) rounds at any diameter vs " +
        "min-label's diameter-bound; identical labels, shared oracle."),

    // ── event-RATE anomaly vs a trailing baseline ────────────────────
    // The ops-monitoring shape next to ev_anomaly (which z-scores a
    // VALUE within its user's full history): is THIS hour's event count
    // anomalous against the trailing 6 observed hours of its type? One
    // map-side-combinable (type, hour) rollup collapses the corpus;
    // the trailing mean/variance window then runs on the AGGREGATED
    // series — |types|·|hours| rows, corpus-size-independent, so the
    // low-cardinality partition key is harmless here. Variance from
    // exact-integer trailing sums (s2 − s1²/n)/(n−1); a bucket needs
    // ≥ 3 trailing observations for a verdict (else z is NULL and the
    // flag false). Gap semantics: hours with zero events are absent
    // rows, so the baseline is over OBSERVED buckets — stated, not
    // hidden.
    QueryDef(
      "ev_rate_anomaly",
      (s, dir) => {
        val counts = Tables.load(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("ws"))
          .rowsBetween(-6, -1)
        counts
          .withColumn("tn", count(col("n")).over(w))
          .withColumn("s1", sum(col("n")).over(w))
          .withColumn("s2", sum(col("n") * col("n")).over(w))
          .withColumn("mu", col("s1").cast(DoubleType) / col("tn"))
          .withColumn("va", expr(
            "CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1) ELSE 0.0 END"))
          .withColumn("z", expr(
            "CASE WHEN tn >= 3 AND va > 0 THEN round((n - mu) / sqrt(va), 6) END"))
          .withColumn("is_anomaly",
            coalesce(abs(col("z")) > 3.0, lit(false)))
          .select(col("ws"), col("event_type"), col("n"),
            round(col("mu"), 6).as("trail_mu"), col("z"), col("is_anomaly"))
          .orderBy(col("ws"), col("event_type"))
      },
      Some("""WITH counts AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
            count(*) AS n
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT ws, event_type, n,
            count(n) OVER w AS tn,
            sum(n) OVER w AS s1,
            sum(n * n) OVER w AS s2
          FROM counts
          WINDOW w AS (PARTITION BY event_type ORDER BY ws
            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        z AS (
          SELECT ws, event_type, n,
            CAST(s1 AS DOUBLE) / tn AS mu,
            CASE WHEN tn > 1 THEN (s2 - CAST(s1 AS DOUBLE) * s1 / tn) / (tn - 1)
                 ELSE 0.0 END AS va,
            tn
          FROM st)
        SELECT ws, event_type, n,
          round(mu, 6) AS trail_mu,
          CASE WHEN tn >= 3 AND va > 0 THEN round((n - mu) / sqrt(va), 6) END AS z,
          COALESCE(CASE WHEN tn >= 3 AND va > 0
            THEN abs(round((n - mu) / sqrt(va), 6)) > 3.0 END, FALSE) AS is_anomaly
        FROM z ORDER BY ws, event_type"""),
      doc = "Hourly event-rate anomaly vs the trailing-6-hour baseline " +
        "per type: one (type, hour) rollup collapses the corpus, the " +
        "trailing mean/variance window runs on the aggregated series " +
        "(corpus-size-independent); z needs >= 3 trailing observations.")
  )
}
