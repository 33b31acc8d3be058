package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Round-12 batch 2: tokenizer/corpus audits and composed quality
  * gates —
  *
  *  - per-document TOKEN ENTROPY (Shannon unigram diversity, the
  *    repetitiveness signal next to text_repetition);
  *  - per-language TOKENIZER FERTILITY off the learned P11 BPE merges;
  *  - the DATASET CARD datasheet rollup (Gebru et al. 2021);
  *  - SURVIVORSHIP dedup (keep the longest cluster member);
  *  - the LANGUAGE-LABEL confusion audit over text_langid;
  *  - per-doc N-GRAM NOVELTY (the df==1 memorization-risk share);
  *  - the composite QUALITY-GATE ENSEMBLE nesting three declared
  *    signal queries with exact-DECIMAL policy scoring.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  */
object Round12bQueries {

  /** Standalone so pipe_quality_ensemble can reference it without a
    * self-referential `defs` initialization (the ensemble's oracle is
    * built eagerly while `defs` is still being constructed). */
  private val entropyDef: QueryDef =
    QueryDef(
        "text_token_entropy",
        (s, dir) => {
          val cnt = Corpus.tok(s, dir)
            .groupBy(col("doc_id"), col("tok"))
            .agg(count(lit(1)).as("c"))
          val w = Window.partitionBy(col("doc_id"))
          cnt
            .withColumn("n", sum(col("c")).over(w))
            .withColumn("term", round(
              (col("c").cast(DoubleType) / col("n")) *
                log(col("c").cast(DoubleType) / col("n")), 9)
              .cast(DecimalType(28, 9)))
            .groupBy(col("doc_id"))
            .agg(
              max(col("n")).as("n_tokens"),
              count(lit(1)).as("n_types"),
              round(-sum(col("term")).cast(DoubleType), 6).as("entropy"))
            .withColumn("norm_entropy", expr(
              "CASE WHEN n_types > 1 THEN round(entropy / ln(n_types), 6) ELSE 0.0 END"))
            .orderBy(col("doc_id"))
        },
        Some(s"""WITH tk AS (
            SELECT doc_id, unnest(${Corpus.tokensDuck("text")}) AS tok
            FROM documents),
          cnt AS (
            SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY doc_id, tok),
          st AS (
            SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
            FROM cnt),
          terms AS (
            SELECT doc_id, n,
              CAST(round((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9)
                AS DECIMAL(28,9)) AS term
            FROM st)
          SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
            round(-CAST(sum(term) AS DOUBLE), 6) AS entropy,
            CASE WHEN count(*) > 1
              THEN round(round(-CAST(sum(term) AS DOUBLE), 6) / ln(count(*)), 6)
              ELSE 0.0 END AS norm_entropy
          FROM terms GROUP BY doc_id ORDER BY doc_id"""),
        doc = "Per-doc Shannon token entropy + ln(n_types)-normalized " +
          "diversity in [0,1]: one (doc,tok) rollup, doc totals via a " +
          "high-cardinality window, order-free DECIMAL term sums.")

  val defs: Seq[QueryDef] = Seq(

    // ── per-document token entropy ───────────────────────────────────
    // H(doc) = −Σ_t (c_t/n)·ln(c_t/n) over the doc's own unigram
    // distribution. One (doc, tok) rollup with map-side combine; the
    // doc total arrives via a window on the HIGH-cardinality doc_id
    // (no hot group, WindowGroupLimit-free but partition-local); the
    // per-type terms round(·,9)→DECIMAL so the sum is
    // aggregation-order-free. norm_entropy = H/ln(n_types) ∈ [0,1]
    // (1 = perfectly diverse, 0 = one token repeated; singleton-type
    // docs define 0/0 as 0).
    entropyDef,

    // ── per-language tokenizer fertility ─────────────────────────────
    // Fertility = subword tokens per word, the standard per-language
    // tokenizer-quality metric (a tokenizer trained on English-heavy
    // data fragments other languages into more pieces — the
    // XLM-R/BLOOM tokenizer analyses). Closes the P11→P13 loop one
    // step further: train merges (vocab-table chain) → apply to the
    // DISTINCT-word vocab → ONE corpus join + a LANG rollup. The merge
    // chain and vocab rewrite are word-type-bounded; the corpus pays
    // one exploded join exactly like pipe_bpe_tokenize.
    QueryDef(
      "text_tokenizer_fertility",
      (s, dir) => {
        val merges = Round10Queries.bpeMerges(s, dir, materialize = true)
        def pairOf(k: Int): DataFrame =
          merges.filter(col("merge_rank") === k).select(col("pair").as(s"p$k"))
        def rep(c: String, p: String): String =
          s"trim(replace(concat(' ', $c, ' '), concat(' ', $p, ' '), " +
            s"concat(' ', replace($p, ' ', ''), ' ')))"
        val words = Corpus.tok(s, dir).select(col("tok").as("w"))
        val vocab = words.distinct()
          .withColumn("ws0",
            concat(regexp_replace(col("w"), "(.)", "$1 "), lit("</w>")))
          .crossJoin(broadcast(pairOf(1)))
          .crossJoin(broadcast(pairOf(2)))
          .crossJoin(broadcast(pairOf(3)))
          .withColumn("ws1", expr(rep("ws0", "p1")))
          .withColumn("ws2", expr(rep("ws1", "p2")))
          .withColumn("ws3", expr(rep("ws2", "p3")))
          .select(col("w"), size(split(col("ws3"), " ")).cast("long").as("n_post"))
        Corpus.documents(s, dir)
          .select(col("lang"), explode(Corpus.tokens(col("text"))).as("w"))
          .join(vocab, Seq("w"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_words"),
            sum(col("n_post")).as("n_tokens"),
            sum(length(col("w"))).as("n_chars"))
          .withColumn("fertility",
            round(col("n_tokens").cast(DoubleType) / col("n_words"), 6))
          .withColumn("chars_per_token",
            round(col("n_chars").cast(DoubleType) / col("n_tokens"), 6))
          .orderBy(col("lang"))
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
          tok AS (SELECT lang, unnest(toks) AS w FROM ${Corpus.toksDuck("lang")})
          SELECT lang, count(*) AS n_words,
            CAST(sum(n_post) AS BIGINT) AS n_tokens,
            CAST(sum(length(w)) AS BIGINT) AS n_chars,
            round(CAST(sum(n_post) AS DOUBLE) / count(*), 6) AS fertility,
            round(CAST(sum(length(w)) AS DOUBLE) / sum(n_post), 6) AS chars_per_token
          FROM tok JOIN vocab USING (w)
          GROUP BY lang ORDER BY lang"""
      },
      doc = "Per-language BPE fertility (subword tokens per word) + " +
        "chars per token, off the learned P11 merges: merge chain and " +
        "rewrite on the word-type-bounded vocab, one corpus join, one " +
        "lang rollup."),

    // ── dataset card (datasheet rollup) ──────────────────────────────
    // The one-artifact summary a dataset release ships (Gebru et al.
    // 2021, "Datasheets for Datasets"): corpus size, language/source
    // breadth, token volume, vocabulary, exact-duplicate excess, and
    // mean document length — every number an exact-integer aggregate or
    // ONE rounded division, so the card is engine-reproducible
    // bit-for-bit. Three small rollups over one corpus scan shape
    // (docs-level agg + a distinct-token count + a distinct-hash
    // count), unioned into the long (metric, value) table.
    QueryDef(
      "pipe_dataset_card",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          count_distinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"),
          sum(size(Corpus.tokens(col("text")))).cast("long").as("total_tokens"),
          count_distinct(md5(col("text"))).as("n_unique_texts"))
        val voc = Corpus.tok(s, dir)
          .agg(count_distinct(col("tok")).as("vocab_size"))
        base.crossJoin(broadcast(voc)).select(explode(map_from_arrays(
            array(lit("n_docs"), lit("n_langs"), lit("n_sources"),
              lit("total_chars"), lit("total_tokens"), lit("vocab_size"),
              lit("exact_dup_excess"), lit("mean_doc_tokens")),
            array(
              col("n_docs").cast(DoubleType),
              col("n_langs").cast(DoubleType),
              col("n_sources").cast(DoubleType),
              col("total_chars").cast(DoubleType),
              col("total_tokens").cast(DoubleType),
              col("vocab_size").cast(DoubleType),
              (col("n_docs") - col("n_unique_texts")).cast(DoubleType),
              round(col("total_tokens").cast(DoubleType) / col("n_docs"), 6))))
          .as(Seq("metric", "value")))
          .orderBy(col("metric"))
      },
      Some(s"""WITH base AS (
          SELECT count(*) AS n_docs,
            count(DISTINCT lang) AS n_langs,
            count(DISTINCT source) AS n_sources,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(len(${Corpus.tokensDuck("text")})) AS BIGINT) AS total_tokens,
            count(DISTINCT md5(text)) AS n_unique_texts
          FROM documents),
        voc AS (
          SELECT count(DISTINCT tok) AS vocab_size FROM (
            SELECT unnest(${Corpus.tokensDuck("text")}) AS tok FROM documents)),
        long AS (
          SELECT unnest(['n_docs', 'n_langs', 'n_sources', 'total_chars',
              'total_tokens', 'vocab_size', 'exact_dup_excess',
              'mean_doc_tokens']) AS metric,
            unnest([CAST(n_docs AS DOUBLE), CAST(n_langs AS DOUBLE),
              CAST(n_sources AS DOUBLE), CAST(total_chars AS DOUBLE),
              CAST(total_tokens AS DOUBLE), CAST(vocab_size AS DOUBLE),
              CAST(n_docs - n_unique_texts AS DOUBLE),
              round(CAST(total_tokens AS DOUBLE) / n_docs, 6)]) AS value
          FROM base CROSS JOIN voc)
        SELECT metric, value FROM long ORDER BY metric"""),
      doc = "Dataset card (Gebru 2021 datasheet rollup): corpus/lang/" +
        "source counts, token volume, vocabulary size, exact-dup excess, " +
        "mean doc tokens — exact-integer aggregates, engine-reproducible " +
        "bit-for-bit."),

    // ── survivorship: keep the LONGEST member of each dup cluster ────
    // dedup_cluster_cc canonicalizes on min doc_id — fine for identity,
    // wrong for VALUE: crawl dedup keeps the longest/most complete
    // variant of a near-dup cluster (truncated pages, stripped
    // boilerplate copies lose). This is the MDM "survivorship rule"
    // applied to corpus curation: canonical = argmax(n_chars), doc_id
    // as the deterministic tiebreak. Rank window partitions on the
    // high-cardinality cluster key; singletons are their own canonical.
    QueryDef(
      "pipe_dedup_survivorship",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        Round12Queries.clusteredDocs(s, dir)
          .join(docs, Seq("doc_id"))
          .withColumn("is_canonical", row_number().over(w) === 1)
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            col("n_chars"), col("is_canonical"))
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
            SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
              d.n_chars
            FROM documents d LEFT JOIN lbl l USING (doc_id))
        SELECT doc_id, cluster_id,
          count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          n_chars,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY n_chars DESC, doc_id ASC) = 1 AS is_canonical
        FROM full_lbl ORDER BY doc_id"""),
      doc = "Survivorship dedup: canonical = the LONGEST member of each " +
        "CC cluster (argmax n_chars, doc_id tiebreak) — the keep-most-" +
        "complete rule crawl dedup actually wants; rank window on the " +
        "high-cardinality cluster key, singletons self-canonical."),

    // ── language-label audit: declared vs predicted confusion ────────
    // The label-quality audit a multilingual corpus release runs: cross
    // the DECLARED lang column with the T3 stopword-hit-rate language
    // classifier and report the confusion matrix plus each declared
    // language's agreement rate. Reuses the declared text_langid query
    // verbatim (and nests its full oracle), so classifier and audit can
    // never drift; the rollup output is |langs|²-bounded.
    QueryDef(
      "text_lang_confusion",
      (s, dir) => {
        val langid = TextQueries.defs.find(_.name == "text_langid").get
        val w = Window.partitionBy(col("labeled_lang"))
        langid.fn(s, dir)
          .groupBy(col("labeled_lang"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("pct_of_labeled", round(
            col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w), 6))
          .orderBy(col("labeled_lang"), col("predicted_lang"))
      },
      Some {
        val langidOracle =
          TextQueries.defs.find(_.name == "text_langid").get.oracle.get
        s"""WITH langid AS ($langidOracle)
          SELECT labeled_lang, predicted_lang, count(*) AS n_docs,
            round(CAST(count(*) AS DOUBLE) /
              sum(count(*)) OVER (PARTITION BY labeled_lang), 6) AS pct_of_labeled
          FROM langid
          GROUP BY labeled_lang, predicted_lang
          ORDER BY labeled_lang, predicted_lang"""
      },
      doc = "Language-label audit: declared × predicted confusion matrix " +
        "with per-declared-language agreement rates; nests the declared " +
        "text_langid query and oracle verbatim, |langs|^2-bounded output.")
      ,

    // ── n-gram novelty: the df==1 share of a doc's shingles ──────────
    // The inverse of text_dup_spans' duplication coverage: what
    // fraction of a doc's distinct 8-token shingles appear NOWHERE else
    // in the corpus — the novelty / memorization-risk proxy of Lee
    // et al. 2022's dedup analyses (a doc of df==1 shingles contributes
    // genuinely new text; a doc of high-df shingles re-states the
    // corpus). One (doc, shingle) explode → one shingle-df rollup →
    // co-partitioned join back → one doc rollup, all map-side
    // combinable; the df table shuffles WITH the corpus (never
    // broadcast — it is corpus-scale by construction).
    QueryDef(
      "text_ngram_novelty",
      (s, dir) => {
        val k = 8
        val sh = Corpus.toks(s, dir)
          .filter(size(col("toks")) >= k)
          .select(col("doc_id"), explode(array_distinct(expr(
            s"transform(sequence(0, size(toks) - $k), " +
              s"i -> concat_ws(' ', slice(toks, i + 1, $k)))"))).as("g"))
        // join-free: a df==1 shingle belongs to exactly ONE doc, so the
        // shingle rollup can carry min(doc_id) and the novel counts fall
        // out of a second rollup — no corpus-scale stream-vs-df join
        // (the joined form measured 5.8 s at x10 where the sibling
        // text_dup_spans ran 0.36 s; this form is the sibling's shape)
        val perDoc = sh.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"))
        val novel = sh.groupBy(col("g"))
          .agg(count(lit(1)).as("dfc"), min(col("doc_id")).as("doc_id"))
          .filter(col("dfc") === 1)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
        perDoc.join(novel, Seq("doc_id"), "left")
          .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
          .withColumn("novelty",
            round(col("n_novel").cast(DoubleType) / col("n_shingles"), 6))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id,
            unnest(list_distinct(list_transform(range(len(toks) - 7),
              i -> array_to_string(toks[i+1:i+8], ' ')))) AS g
          FROM (SELECT doc_id, ${Corpus.tokensDuck("text")} AS toks
                FROM documents)
          WHERE len(toks) >= 8),
        per_doc AS (
          SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
        novel AS (
          SELECT doc_id, count(*) AS n_novel FROM (
            SELECT g, count(*) AS dfc, min(doc_id) AS doc_id
            FROM sh GROUP BY g)
          WHERE dfc = 1 GROUP BY doc_id)
        SELECT p.doc_id, p.n_shingles,
          coalesce(n.n_novel, 0) AS n_novel,
          round(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / p.n_shingles, 6) AS novelty
        FROM per_doc p LEFT JOIN novel n ON p.doc_id = n.doc_id
        ORDER BY p.doc_id"""),
      doc = "Per-doc n-gram novelty: share of a doc's distinct 8-token " +
        "shingles with corpus df == 1 (the inverse of duplication " +
        "coverage); shingle-df rollup + co-partitioned join, df table " +
        "shuffles with the corpus, never broadcast."),

    // ── quality ensemble: one gate from three declared signals ───────
    // The composite keep decision a curation pipeline actually applies:
    // a FIXED linear policy over the Gopher rule gate, token-entropy
    // diversity, and the Gopher repetition fraction — stated plainly as
    // hand-set policy weights (a production gate tunes them on held-out
    // labels; the composition, not the weights, is the operator). All
    // three inputs are the DECLARED queries reused verbatim (and their
    // oracles nested verbatim), so the ensemble can never drift from
    // its components; the joins are doc-keyed co-partitioned rollup
    // outputs. Docs too short for 2-grams contribute repetition 0.
    QueryDef(
      "pipe_quality_ensemble",
      (s, dir) => {
        def byName(defs: Seq[QueryDef], n: String) = defs.find(_.name == n).get
        val g = byName(CurationQueries.defs, "text_gopher_quality").fn(s, dir)
          .select(col("doc_id"), col("keep").as("gopher_keep"))
        val r = byName(CurationQueries.defs, "text_repetition").fn(s, dir)
          .select(col("doc_id"), col("dup_2gram_char_frac"))
        val e = entropyDef.fn(s, dir)
          .select(col("doc_id"), col("norm_entropy"))
        g.join(e, Seq("doc_id"))
          .join(r, Seq("doc_id"), "left")
          .withColumn("dup_frac", coalesce(col("dup_2gram_char_frac"), lit(0.0)))
          // integer-weighted EXACT DECIMAL sum on a 0-10 scale: the
          // float form round(0.4g + 0.3e + ..., 6) lands on .xxxxxx5
          // rounding boundaries systematically (0.3 x a 6-dp input),
          // where Spark's decimal-string HALF_UP and DuckDB's binary
          // rounding disagree by 1e-6 — caught by the oracle gate. The
          // 6-dp inputs cast losslessly to DECIMAL(18,6); x4/x3 and the
          // sum are exact; the final decimal->double cast is correctly
          // rounded in both engines.
          .withColumn("score",
            (when(col("gopher_keep"), lit(1)).otherwise(lit(0))
                .cast(DecimalType(18, 6)) * 4 +
              col("norm_entropy").cast(DecimalType(18, 6)) * 3 +
              (lit(1).cast(DecimalType(18, 6)) -
                col("dup_frac").cast(DecimalType(18, 6))) * 3)
              .cast(DoubleType))
          .withColumn("keep", col("score") >= 6.0)
          .select(col("doc_id"), col("gopher_keep"), col("norm_entropy"),
            col("dup_frac"), col("score"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        def oracleOf(defs: Seq[QueryDef], n: String) =
          defs.find(_.name == n).get.oracle.get
        s"""WITH g AS (${oracleOf(CurationQueries.defs, "text_gopher_quality")}),
          r AS (${oracleOf(CurationQueries.defs, "text_repetition")}),
          e AS (${entropyDef.oracle.get})
        SELECT g.doc_id, g.keep AS gopher_keep, e.norm_entropy,
          coalesce(r.dup_2gram_char_frac, 0.0) AS dup_frac,
          CAST(CAST(CASE WHEN g.keep THEN 1 ELSE 0 END AS DECIMAL(18,6)) * 4
            + CAST(e.norm_entropy AS DECIMAL(18,6)) * 3
            + (CAST(1 AS DECIMAL(18,6))
               - CAST(coalesce(r.dup_2gram_char_frac, 0.0) AS DECIMAL(18,6))) * 3
            AS DOUBLE) AS score,
          CAST(CAST(CASE WHEN g.keep THEN 1 ELSE 0 END AS DECIMAL(18,6)) * 4
            + CAST(e.norm_entropy AS DECIMAL(18,6)) * 3
            + (CAST(1 AS DECIMAL(18,6))
               - CAST(coalesce(r.dup_2gram_char_frac, 0.0) AS DECIMAL(18,6))) * 3
            AS DOUBLE) >= 6.0 AS keep
        FROM g JOIN e ON g.doc_id = e.doc_id
        LEFT JOIN r ON g.doc_id = r.doc_id
        ORDER BY g.doc_id"""
      },
      doc = "Composite quality gate: fixed linear policy (4x gopher + 3x " +
        "diversity + 3x non-repetition on a 0-10 scale, keep at >= 6; " +
        "integer-weighted exact-DECIMAL sum, no float rounding) over three " +
        "DECLARED signal queries reused verbatim with their oracles " +
        "nested — the ensemble cannot drift from its components."),

    // ── k-anonymity audit over the release quasi-identifiers ─────────
    // Sweeney 2002: a released row set is k-anonymous over its
    // quasi-identifier columns iff every QI cell holds >= k records.
    // Here QI = (lang, source) — the release-hygiene check that pairs
    // with pipe_dp_stats (suppress-the-small-cells is the classic
    // pre-DP mitigation). ONE map-side-combinable rollup; cells below
    // k are flagged for suppression. Output is |langs|x|sources|-
    // bounded regardless of corpus size.
    QueryDef(
      "pipe_k_anonymity",
      (s, dir) => {
        val k = 5
        Tables.load(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("k_anonymous", col("n_docs") >= k)
          .withColumn("suppress", !col("k_anonymous"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT lang, source, count(*) AS n_docs,
          count(*) >= 5 AS k_anonymous,
          NOT (count(*) >= 5) AS suppress
        FROM documents GROUP BY lang, source
        ORDER BY lang, source"""),
      doc = "k-anonymity audit (Sweeney 2002, k=5) over the (lang, " +
        "source) quasi-identifiers: one rollup, cells below k flagged " +
        "for suppression; the pre-DP release-hygiene check next to " +
        "pipe_dp_stats."),

    // ── PII incidence report per source ──────────────────────────────
    // The release-audit companion of text_pii_redact: COUNT the
    // email/IPv4/phone matches per source instead of redacting them —
    // what a datasheet's privacy section reports. Same deterministic
    // synthesized contact line and the SAME three patterns as the
    // redact query (the manufactured-but-really-exercised move; the
    // redact query already pins cross-engine pattern agreement), so
    // every doc genuinely contains each PII class. Non-overlapping
    // leftmost match counts in both engines; narrow per-row regexp
    // pass + one source rollup.
    QueryDef(
      "pipe_pii_stats",
      (s, dir) => {
        val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
        val phone = "\\+?\\d[\\d\\s-]{7,}\\d"
        Tables.load(s, dir, "documents")
          .withColumn("raw", concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-01"),
            col("doc_id"), lit(" at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7 ok")))
          .withColumn("ne", regexp_count(col("raw"), lit(email)))
          .withColumn("ni", regexp_count(col("raw"), lit(ip)))
          .withColumn("np", regexp_count(col("raw"), lit(phone)))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ne")).as("n_emails"),
            sum(col("ni")).as("n_ips"),
            sum(col("np")).as("n_phones"),
            sum(when(col("ne") + col("ni") + col("np") > 0, 1L)
              .otherwise(0L)).as("docs_with_pii"))
          .orderBy(col("source"))
      },
      Some("""WITH raw AS (
          SELECT doc_id, source,
            substring(text, 1, 40) || ' contact user' || doc_id ||
            '@example.com or +1-555-01' || doc_id || ' at 10.0.' ||
            (doc_id % 256) || '.7 ok' AS raw
          FROM documents),
        cnt AS (
          SELECT source,
            len(regexp_extract_all(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS ne,
            len(regexp_extract_all(raw, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS ni,
            len(regexp_extract_all(raw, '\+?\d[\d\s-]{7,}\d')) AS np
          FROM raw)
        SELECT source, count(*) AS n_docs,
          CAST(sum(ne) AS BIGINT) AS n_emails,
          CAST(sum(ni) AS BIGINT) AS n_ips,
          CAST(sum(np) AS BIGINT) AS n_phones,
          CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
        FROM cnt GROUP BY source ORDER BY source"""),
      doc = "PII incidence report per source (datasheet privacy " +
        "section): non-overlapping match counts of the text_pii_redact " +
        "patterns over the same synthesized contact lines; narrow " +
        "regexp pass + one source rollup.")
  )
}
