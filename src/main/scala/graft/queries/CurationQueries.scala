package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark, idHash60Duck, idHash60Spark}

/** Round-4 training-data curation operators over `documents` — the
  * pipeline stages a 100 TB pretraining corpus build runs between raw
  * crawl and tokenizer:
  *
  *  - benchmark DECONTAMINATION (drop training docs that leak eval data),
  *  - repetition filtering (Gopher-style duplicate-n-gram fractions),
  *  - composite quality rules (Gopher/C4-style keep flags),
  *  - domain/language MIXTURE sampling to a target distribution,
  *  - incremental dedup of an incoming batch against corpus history,
  *  - unigram-surprisal and held-out Stupid-Backoff bigram LM scoring
  *    (rounds 6/10 — the CCNet-style LM-quality signals).
  *
  * Reference scope note: alxmancilla/parquet-demo has no text analytics
  * at all (its compute surface is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66); this whole file is [EXT] surface
  * (SURVEY §2.7), like the other dedup/text operators.
  *
  * Determinism: hashes are md5-derived 60-bit ints (identical in Spark
  * and DuckDB); every ratio is a single division of exact integer sums
  * rounded once — bit-identical cross-engine (the q62 recipe).
  */
object CurationQueries {

  // Eval-set membership for decontamination: every 17th doc plays the
  // role of a benchmark/eval document.
  private val EvalMod = 17
  // Incoming-batch membership for incremental dedup.
  private val IncMod = 5

  val defs: Seq[QueryDef] = Seq(

    // ── benchmark decontamination (n-gram overlap vs an eval set) ────
    // The scale shape: the eval set (benchmarks) is tiny and FIXED, so
    // its distinct-shingle index is built once and BROADCAST; the 100 TB
    // training side streams past it with zero shuffle of the corpus —
    // only the per-doc hit aggregation shuffles (on doc_id), and that is
    // map-side-combinable. This is exactly how GPT-3/PaLM-style 13-gram
    // decontamination runs in practice.
    QueryDef(
      "pipe_decontaminate",
      (s, dir) => {
        val sh = Corpus.toks(s, dir)
          .filter(size(col("toks")) >= 5)
          .select(col("doc_id"), explode(array_distinct(expr(
            "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))")))
            .as("shingle"))
        val evalSet = sh.filter(col("doc_id") % EvalMod === 0)
          .select(col("shingle")).distinct()
        sh.filter(col("doc_id") % EvalMod =!= 0)
          .join(broadcast(evalSet), "shingle")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("shingle")).as("n_eval_hits"))
          .orderBy(col("doc_id"))
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
      doc = "5-gram eval-overlap decontamination; eval shingle index broadcast, " +
        "corpus side never shuffles."),

    // ── Gopher repetition filter: duplicate-2-gram character fraction ─
    // frac of 2-gram characters belonging to grams that occur more than
    // once in the doc, plus the most-frequent-gram share. One shuffle on
    // (doc_id, gram) with map-side combine, then a map-side-combinable
    // per-doc rollup — linear in corpus size.
    QueryDef(
      "text_repetition",
      (s, dir) => {
        val grams = Corpus.toks(s, dir)
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
            .as("gram"))
        grams.groupBy(col("doc_id"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("len", length(col("gram")).cast("bigint"))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(when(col("cnt") > 1, col("cnt") * col("len")).otherwise(lit(0L)))
              .cast("double") / sum(col("cnt") * col("len")), 6).as("dup_2gram_char_frac"),
            round(max(col("cnt")).cast("double") / sum(col("cnt")), 6).as("top_2gram_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH g AS (
          SELECT doc_id,
            unnest(list_transform(range(len(toks) - 1),
              i -> toks[i+1] || ' ' || toks[i+2])) AS gram
          FROM ${Corpus.toksDuck()} WHERE len(toks) >= 2),
        c AS (
          SELECT doc_id, gram, count(*) AS cnt,
            CAST(length(gram) AS BIGINT) AS len
          FROM g GROUP BY doc_id, gram)
        SELECT doc_id,
          round(CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS DOUBLE)
            / sum(cnt * len), 6) AS dup_2gram_char_frac,
          round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_2gram_frac
        FROM c GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Gopher-style duplicate-n-gram character fraction + top-gram share."),

    // ── Gopher/C4 composite quality rules ────────────────────────────
    // All flags from ONE narrow pass (codegen'd HOFs, no shuffle):
    // word count bounds, mean word length bounds, alphabetic-word
    // fraction, stopword floor, and the composite keep flag.
    QueryDef(
      "text_gopher_quality",
      (s, dir) =>
        Corpus.toks(s, dir)
          .withColumn("n_words", size(col("toks")).cast("bigint"))
          .withColumn("sum_len", expr(
            "aggregate(toks, cast(0 as bigint), (acc, t) -> acc + length(t))"))
          .withColumn("n_alpha", expr(
            "cast(size(filter(toks, t -> t rlike '^[a-z]+$')) as bigint)"))
          .withColumn("n_stop", expr(
            s"cast(size(filter(toks, t -> t IN ${TextQueries.lex("en").map(w => s"'$w'").mkString("(", ", ", ")")})) as bigint)"))
          .select(
            col("doc_id"),
            col("n_words"),
            round(col("sum_len").cast("double") / col("n_words"), 6).as("mean_word_len"),
            round(col("n_alpha").cast("double") / col("n_words"), 6).as("alpha_frac"),
            col("n_stop"),
            (col("n_words").between(20, 1000) &&
              (col("sum_len") * 1 >= col("n_words") * 3) &&
              (col("sum_len") <= col("n_words") * 10) &&
              (col("n_alpha") * 5 >= col("n_words") * 4) &&
              col("n_stop") >= 2).as("keep"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
            / len(toks), 6) AS mean_word_len,
          round(CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$$'))) AS DOUBLE)
            / len(toks), 6) AS alpha_frac,
          CAST(len(list_filter(toks, t -> t IN ${TextQueries.lex("en").map(w => s"'$w'").mkString("(", ", ", ")")})) AS BIGINT) AS n_stop,
          (len(toks) BETWEEN 20 AND 1000
            AND list_sum(list_transform(toks, t -> length(t))) >= len(toks) * 3
            AND list_sum(list_transform(toks, t -> length(t))) <= len(toks) * 10
            AND len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$$'))) * 5 >= len(toks) * 4
            AND len(list_filter(toks, t -> t IN ${TextQueries.lex("en").map(w => s"'$w'").mkString("(", ", ", ")")})) >= 2) AS keep
        FROM ${Corpus.toksDuck()} ORDER BY doc_id"""),
      doc = "Gopher-style rule gate; bounds compared in exact integer arithmetic " +
        "(sum_len >= 3·n_words, not sum_len/n_words >= 3.0 — no float boundary)."),

    // ── deterministic domain-mixture sampling ────────────────────────
    // Plan a per-language sampling threshold that hits a target mixture
    // (en 40% / de 20% / es 20% / fr 20% of a budget = half the corpus),
    // then sample by CONTENT HASH threshold, not rand(): h60(doc_id) %
    // 1e6 < thr. Deterministic (re-runs and backfills pick identical
    // rows), cheap (no sort, no rand state), and exactly what mixture
    // rebalancing does at 100 TB — the plan table is a few rows,
    // broadcast into one narrow filter pass over the corpus. All the
    // threshold math is integer division — bit-identical cross-engine.
    QueryDef(
      "pipe_domain_mix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val total = docs.count()
        val budget = total / 2
        // target share numerators out of 5: en 2, de/es/fr 1. All
        // integer `div` — Column./ is DOUBLE division in Spark.
        val plan = docs.groupBy(col("lang")).agg(count(lit(1)).as("avail"))
          .withColumn("want", expr(
            s"(CASE WHEN lang = 'en' THEN 2 ELSE 1 END * ${budget}L) div 5"))
          .withColumn("thr", least(lit(1000000L), expr("(want * 1000000L) div avail")))
        val kept = docs
          .join(broadcast(plan), "lang")
          .filter(expr(s"${idHash60Spark("doc_id")} % 1000000") < col("thr"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        plan.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("avail"), col("want"), col("thr"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH tot AS (SELECT count(*) // 2 AS budget FROM documents),
        plan AS (
          SELECT lang, count(*) AS avail,
            CASE WHEN lang = 'en' THEN 2 ELSE 1 END * (SELECT budget FROM tot) // 5 AS want
          FROM documents GROUP BY lang),
        thr AS (
          SELECT lang, avail, want,
            least(1000000, want * 1000000 // avail) AS thr FROM plan),
        kept AS (
          SELECT d.lang, count(*) AS n_kept
          FROM documents d JOIN thr ON d.lang = thr.lang
          WHERE ${idHash60Duck("d.doc_id")} % 1000000 < thr.thr
          GROUP BY d.lang)
        SELECT t.lang, t.avail, t.want, t.thr,
          COALESCE(k.n_kept, 0) AS n_kept
        FROM thr t LEFT JOIN kept k ON t.lang = k.lang
        ORDER BY t.lang"""),
      doc = "Hash-threshold mixture sampling: deterministic, stateless, " +
        "broadcast plan + one narrow corpus pass."),

    // ── unigram-LM surprisal scoring (CCNet-style quality signal) ────
    // Train a unigram LM on the corpus itself (one token-frequency
    // shuffle), then score every doc by mean surprisal -ln p(tok).
    // The vocabulary is corpus-bounded (words, not docs) so the freq
    // table broadcasts; the corpus side is one narrow pass + one
    // map-side-combinable doc rollup. Cross-engine float determinism:
    // each DISTINCT surprisal value is one ln() rounded to 9 digits
    // (only ~|{cnt values}| distinct inputs ever hit libm), then the
    // per-doc mean is an exact DECIMAL sum over those rounded terms —
    // partition-order-free.
    QueryDef(
      "text_perplexity",
      (s, dir) => {
        val tk = Corpus.toks(s, dir)
          .select(col("doc_id"), explode(col("toks")).as("tok"))
        val freq = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = freq.agg(sum(col("cnt")).as("total"))
        // explicit broadcast pin: the vocabulary is word-bounded (Heaps'
        // law, ~O(corpus^0.5) — MBs at 100 TB), but its size is
        // corpus-dependent, so don't leave the plan choice to AQE's
        // runtime estimate (round-6 advice: the doc claimed a broadcast
        // the plan didn't guarantee). PlanSpec asserts the BHJ.
        tk.join(broadcast(freq), "tok")
          .crossJoin(broadcast(tot))
          .withColumn("surp",
            round(-log(col("cnt") / col("total")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("surp")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_surprisal"),
            count(lit(1)).as("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, unnest(toks) AS tok FROM ${Corpus.toksDuck()}),
        f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT sum(cnt) AS total FROM f),
        sc AS (
          SELECT doc_id,
            CAST(round(-ln(cnt / (SELECT total FROM tot)), 9) AS DECIMAL(28,9)) AS surp
          FROM tk JOIN f USING (tok))
        SELECT doc_id,
          round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS avg_surprisal,
          count(*) AS n_tokens
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Mean unigram surprisal per doc (the CCNet LM-quality shape); " +
        "freq table broadcast, corpus never shuffles twice."),

    // ── bigram LM scoring with Stupid Backoff (Brants et al. 2007) ───
    // The distributed n-gram LM shape from "Large Language Models in
    // Machine Translation": score S(w2|w1) = c(w1 w2)/c(w1), backing
    // off to 0.4·c(w2)/N when the bigram is unseen (and 0.4/N at full
    // OOV) — no normalization pass, which is exactly what makes the
    // model trainable as plain count tables at corpus scale. Trained
    // HELD-OUT (even doc_ids = the "curated" half, the CCNet posture:
    // an LM trained on clean text scores the crawl), so odd docs
    // genuinely exercise the backoff branch. Count tables are
    // vocab-bounded → broadcast here; `text_lm_backoff_sharded` below
    // implements the Brants 2007 w1-sharded serving layout for the
    // 100 TB case where the bigram table outgrows broadcast. The
    // corpus side is one narrow bigram explode + one doc rollup.
    // Determinism: the text_perplexity recipe — round each ln to 9 dp,
    // exact DECIMAL sum, one final round; 0.4 is written 2/(5·N) in
    // integer terms so no decimal literal poisons the double
    // arithmetic on either engine.
    QueryDef(
      "text_lm_backoff",
      (s, dir) => {
        val tk = Corpus.toks(s, dir).filter(size(col("toks")) >= 2)
        val bg = tk.select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val train = bg.filter(expr("doc_id % 2 = 0"))
        val bigCnt = train.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
        val uni = tk.filter(expr("doc_id % 2 = 0"))
          .select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val tot = uni.agg(sum(col("cu")).as("n_train"))
        bg
          .join(broadcast(bigCnt), Seq("w1", "w2"), "left")
          .join(broadcast(uni.select(col("tok").as("w1"), col("cu").as("c1"))),
            Seq("w1"), "left")
          .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("c2"))),
            Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("sb", expr(
            """CASE WHEN cb IS NOT NULL THEN CAST(cb AS DOUBLE) / c1
                    WHEN c2 IS NOT NULL THEN CAST(2 AS DOUBLE) * c2 / (5 * n_train)
                    ELSE CAST(2 AS DOUBLE) / (5 * n_train) END"""))
          .withColumn("ls", round(log(col("sb")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("ls")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_logscore"),
            count(lit(1)).as("n_bigrams"))
          .withColumn("trained_on", expr("doc_id % 2 = 0"))
          .orderBy(col("doc_id"))
      },
      Some(lmBackoffSql),
      doc = "Held-out bigram LM scoring with Stupid Backoff (Brants 2007): " +
        "count tables broadcast, one corpus bigram pass + one doc rollup; " +
        "odd docs exercise the unseen-bigram backoff branch for real."),

    // ── Brants 2007 w1-sharded serving layout for the bigram LM ──────
    // The same Stupid-Backoff scores through the paper's distributed
    // count-table layout (§3 of "Large Language Models in Machine
    // Translation"): bigrams are SHARDED BY FIRST WORD, so looking up
    // c(w1,w2) and its context count c(w1) both land on the w1 shard —
    // here: the corpus bigram stream repartitions ONCE on w1 and both
    // count-table joins are shuffle-hash equi-joins into that one
    // layout (the bigram rollup and the unigram c1 table arrive
    // already w1-partitioned from their own groupBys, so neither
    // re-exchanges; one exchange of the corpus serves both lookups).
    // Only the UNIGRAM backoff table c(w2) and the 1-row total stay
    // broadcast — vocab-bounded by Heaps' law, the piece the paper
    // replicates to every shard. This is the form that survives a
    // bigram table too big to broadcast (it shards with the corpus);
    // identical scores to text_lm_backoff (spec-pinned, shared oracle).
    QueryDef(
      "text_lm_backoff_sharded",
      (s, dir) => {
        val tk = Corpus.toks(s, dir).filter(size(col("toks")) >= 2)
        val bg = tk.select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
          .repartition(col("w1"))
        val train = bg.filter(expr("doc_id % 2 = 0"))
        // both shard tables inherit HashPartitioning(w1) from their
        // groupBys (ClusteredDistribution(w1,w2) is satisfied by the
        // w1 subset), so the joins below add NO exchange beyond bg's one
        val bigCnt = train.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
        val uni = tk.filter(expr("doc_id % 2 = 0"))
          .select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val tot = uni.agg(sum(col("cu")).as("n_train"))
        bg
          .join(bigCnt.hint("shuffle_hash"), Seq("w1", "w2"), "left")
          .join(uni.select(col("tok").as("w1"), col("cu").as("c1"))
            .hint("shuffle_hash"), Seq("w1"), "left")
          .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("c2"))),
            Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("sb", expr(
            """CASE WHEN cb IS NOT NULL THEN CAST(cb AS DOUBLE) / c1
                    WHEN c2 IS NOT NULL THEN CAST(2 AS DOUBLE) * c2 / (5 * n_train)
                    ELSE CAST(2 AS DOUBLE) / (5 * n_train) END"""))
          .withColumn("ls", round(log(col("sb")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("ls")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_logscore"),
            count(lit(1)).as("n_bigrams"))
          .withColumn("trained_on", expr("doc_id % 2 = 0"))
          .orderBy(col("doc_id"))
      },
      Some(lmBackoffSql),
      doc = "Stupid-Backoff bigram LM through the Brants 2007 w1-sharded " +
        "serving layout: corpus bigrams repartition once on w1; bigram and " +
        "context-count lookups are shuffle-hash joins into that layout " +
        "(no broadcast of the bigram table); only the vocab-bounded " +
        "unigram backoff table replicates. Scores identical to " +
        "text_lm_backoff."),

    // ── weighted sampling without replacement (Efraimidis-Spirakis) ──
    // A-Res (2006): each item draws u ~ U(0,1] and keeps key u^(1/w);
    // the global top-k by key IS a weighted sample without replacement
    // — the one-pass, shuffle-light way to draw a weighted corpus
    // subsample (here w = n_chars: length-proportional, the "sample by
    // token budget" pass). u is a seeded md5 uniform (RNG-free,
    // replayable); ordering by u^(1/w) equals ordering by ln(u)/w, so
    // the key is ONE ln + one division rounded once — no pow, no
    // cross-engine exponentiation drift. The plan is a narrow key pass
    // + TakeOrderedAndProject: no window, no global sort shuffle.
    QueryDef(
      "pipe_weighted_sample",
      (s, dir) => {
        val k = 100
        // greatest(n_chars, 1): a zero-length doc must yield a FINITE
        // key (w=1 ⇒ deeply negative, effectively never sampled), not a
        // NULL/Inf one — Spark and DuckDB order NULLs oppositely under
        // DESC, so an empty doc in a regenerated fixture would silently
        // break oracle parity (ADVICE r10)
        Corpus.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            expr(s"round(ln((${idHash60Spark("doc_id")} + 1) " +
              "/ 1152921504606846976.0) / greatest(n_chars, 1), 12)").as("skey"))
          .orderBy(col("skey").desc, col("doc_id"))
          .limit(k)
      },
      Some(s"""SELECT doc_id, lang, n_chars,
          round(ln((${idHash60Duck("doc_id")} + 1)
            / 1152921504606846976.0) / greatest(n_chars, 1), 12) AS skey
        FROM documents
        ORDER BY skey DESC, doc_id
        LIMIT 100"""),
      doc = "Efraimidis-Spirakis A-Res weighted sample without replacement " +
        "(w = n_chars): seeded md5 uniforms, ln(u)/w keys (pow-free), " +
        "TakeOrdered top-k — one narrow pass, no global sort."),

    // ── stratified weighted sampling (per-language token budgets) ────
    // A-Res per stratum: the curation pass that fills a PER-LANGUAGE
    // sample budget (the data-mix counterpart of pipe_weighted_sample's
    // global budget). Same seeded ln(u)/w keys; the per-group top-k runs
    // through the bounded-heap typed Aggregator (TopKAgg), NOT a window:
    // lang is low-cardinality, so a window would range-shuffle every doc
    // into ≤|langs| partitions — a built-in hot-group skew. The
    // Aggregator keeps a k-row buffer per group and merges map-side, so
    // each partition ships at most k rows per language across the one
    // exchange — the shape that survives a billion-doc language at
    // 100 TB (q19_topk_agg's recipe applied to curation).
    QueryDef(
      "pipe_weighted_sample_stratified",
      (s, dir) => {
        val k = 20
        val topk = udaf(graft.operators.TopKAgg(k))
        Corpus.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            expr(s"round(ln((${idHash60Spark("doc_id")} + 1) " +
              "/ 1152921504606846976.0) / greatest(n_chars, 1), 12)").as("skey"))
          .groupBy(col("lang"))
          .agg(topk(col("skey"), col("doc_id")).as("tk"))
          .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "x")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rn"),
            col("x.tag").as("doc_id"), col("x.value").as("skey"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(s"""SELECT lang, rn, doc_id, skey FROM (
          SELECT lang, doc_id, skey,
            row_number() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id ASC) AS rn
          FROM (SELECT doc_id, lang,
            round(ln((${idHash60Duck("doc_id")} + 1)
              / 1152921504606846976.0) / greatest(n_chars, 1), 12) AS skey
            FROM documents)) WHERE rn <= 20
        ORDER BY lang, rn"""),
      doc = "Per-language A-Res weighted sample (stratified token " +
        "budgets): seeded ln(u)/w keys, bounded-heap Aggregator top-k " +
        "per language — k rows per group per partition over the wire, " +
        "no low-cardinality window shuffle."),

    // ── incremental dedup: incoming batch vs corpus history ──────────
    // The streaming-ingest companion to dedup_exact: classify each
    // incoming doc as duplicate-of-history, duplicate-within-batch, or
    // new. At scale the history side is a bucketed/bloom-indexed hash
    // table keyed by content hash — the probe is one shuffle of the
    // (small) incoming batch, never of the history.
    QueryDef(
      "pipe_incremental_dedup",
      (s, dir) => {
        val h = Tables.load(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("h"))
        val hist = h.filter(col("doc_id") % IncMod =!= IncMod - 1)
          .select(col("h")).distinct().withColumn("in_hist", lit(1))
        val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        h.filter(col("doc_id") % IncMod === IncMod - 1)
          .withColumn("rn", row_number().over(w))
          .join(hist, Seq("h"), "left")
          .select(col("doc_id"),
            when(col("in_hist") === 1, lit("dup_history"))
              .when(col("rn") > 1, lit("dup_batch"))
              .otherwise(lit("new")).as("status"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH h AS (
          SELECT doc_id, md5(text) AS h FROM documents),
        hist AS (SELECT DISTINCT h FROM h WHERE doc_id % $IncMod <> ${IncMod - 1}),
        i AS (
          SELECT doc_id, h,
            row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          FROM h WHERE doc_id % $IncMod = ${IncMod - 1})
        SELECT doc_id,
          CASE WHEN h IN (SELECT h FROM hist) THEN 'dup_history'
               WHEN rn > 1 THEN 'dup_batch'
               ELSE 'new' END AS status
        FROM i ORDER BY doc_id"""),
      doc = "Batch-vs-history exact dedup classification (the incremental " +
        "ingest path of dedup_exact)."),

    // ── expectations gate: declarative constraint validation ─────────
    // The Deequ/Great-Expectations shape a pipeline runs before letting
    // a batch into the training corpus: not-null, PK uniqueness, value
    // ranges, accepted values, and referential integrity, each reported
    // as (rule, violations, checked, pass) — exact integers, so the
    // report is bit-stable cross-engine.
    //
    // Shape at scale: ALL row-level rules fold into ONE scalar aggregate
    // pass over the fact scan (map-side partials → a few bytes per
    // partition); PK uniqueness rides the same pass as a count-distinct —
    // a SINGLE distinct group, which Catalyst folds into the two-phase
    // aggregate with NO Expand (PlanSpec pins exactly this plan; an
    // Expand only appears at 2+ distinct groups, the pipe_profile case);
    // only referential integrity
    // needs a second input — a left-anti join against the parent keys,
    // which AQE broadcasts when the parent is small and shuffles
    // key-only projections otherwise. Nothing row-sized ever reaches
    // the driver; the report is 6 rows however big the fact table is.
    //
    // The fixture makes two rules REALLY fail (the generator's lineitem
    // PK is non-unique and quantity reaches 50), so violation counting
    // is exercised, not just the all-green path.
    QueryDef(
      "pipe_expectations",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders").select(col("o_orderkey"))
        val scalar = l.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_nn"),
          (count(lit(1)) -
            countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_pk"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 49, 1L)
            .otherwise(0L)).as("v_qty"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("v_disc"),
          sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L)).as("v_rf"))
        val fk = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("v_fk"))
        scalar.crossJoin(fk) // 1 row × 1 row
          .select(expr(
            """stack(6,
               'accepted_returnflag_ANR', v_rf,
               'fk_orderkey_in_orders', v_fk,
               'not_null_quantity', v_nn,
               'pk_unique_orderkey_linenumber', v_pk,
               'range_discount_0_0.1', v_disc,
               'range_quantity_1_49', v_qty) AS (rule, violations)"""),
            col("n_rows").as("checked"))
          .withColumn("pass", col("violations") === 0L)
          .orderBy(col("rule"))
      },
      Some("""WITH m AS (
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
            CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v_pk,
            CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 49 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
            CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
            CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_rf
          FROM lineitem),
        f AS (
          SELECT CAST(count(*) AS BIGINT) AS v_fk FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        SELECT rule, violations, checked, violations = 0 AS pass FROM (
          SELECT 'accepted_returnflag_ANR' AS rule, v_rf AS violations, n_rows AS checked FROM m, f
          UNION ALL SELECT 'fk_orderkey_in_orders', v_fk, n_rows FROM m, f
          UNION ALL SELECT 'not_null_quantity', v_nn, n_rows FROM m, f
          UNION ALL SELECT 'pk_unique_orderkey_linenumber', v_pk, n_rows FROM m, f
          UNION ALL SELECT 'range_discount_0_0.1', v_disc, n_rows FROM m, f
          UNION ALL SELECT 'range_quantity_1_49', v_qty, n_rows FROM m, f)
        ORDER BY rule"""),
      doc = "Deequ-style expectations gate over lineitem: 6 rules, one " +
        "scalar-aggregate pass + count-distinct + anti-join FK check; " +
        "two rules genuinely fail on the fixture (non-unique PK, qty=50)."),

    // ── sequence packing: docs → fixed-token training sequences ──────
    // The tokenizer-side packing step of a pretraining pipeline:
    // documents are concatenated in a deterministic order and cut every
    // B tokens into training sequences (GPT-style contiguous packing —
    // docs may straddle a cut). The closed form over the exclusive
    // prefix sum gives each doc the sequence its FIRST token lands in
    // (seq_id = floor(prior/B)) and its offset inside that sequence —
    // no sequential scan, so the assignment parallelizes as a window.
    // `least(n_tokens, B)` models the long-doc truncation a packer
    // applies before concatenation.
    //
    // Shape at scale: packing is per-(lang) stream — ONE hash shuffle
    // on the partition key, then a sorted window per partition; no
    // global order, no driver involvement. 100 TB packs as thousands of
    // independent language×shard streams; the fixture's 4 lang streams
    // stand in for them.
    QueryDef(
      "pipe_pack_sequences",
      (s, dir) => {
        val B = 2048
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            least(size(split(col("text"), " ")), lit(B)).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          // INTEGER div/pmod, not `/`-then-cast: Column `/` is double
          // division, and a stream whose cumulative token count passes
          // 2^53 would round seq_id (the operator's own framing is
          // 100 TB corpora; same trap Tables.loadEvents documents)
          .select(col("doc_id"), col("lang"), col("n_tok"),
            expr(s"(cum - n_tok) div $B").as("seq_id"),
            expr(s"pmod(cum - n_tok, $B)").as("seq_offset"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH d AS (
          SELECT doc_id, lang,
            CAST(least(len(string_split(text, ' ')), 2048) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tok,
            sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS prior
          FROM d)
        SELECT doc_id, lang, n_tok,
          CAST(prior // 2048 AS BIGINT) AS seq_id,
          CAST(prior % 2048 AS BIGINT) AS seq_offset
        FROM c ORDER BY lang, doc_id"""),
      doc = "GPT-style contiguous sequence packing (budget 2048) per " +
        "language stream: exclusive prefix-sum window → seq_id/offset " +
        "via exact integer div/mod; one shuffle on the stream key, " +
        "sorted window per partition."),

    // ── sharded sequence packing: the declared 100 TB scale form ─────
    // Per-lang packing caps parallelism at |languages| (the fixture's 4
    // streams). The production decomposition packs language×shard
    // streams: shard = stable_hash(doc_id) % S is deterministic and
    // engine-agnostic (same md5-prefix hash both engines), and each
    // (lang, shard) stream packs independently with the same closed
    // form. The (lang, shard, seq_id) triple IS the sequence identity a
    // downstream packer consumes — sequences never cross shards by
    // construction, so no global renumbering is needed. ONE shuffle on
    // the composite key; parallelism = |lang| × S and grows with S, not
    // the language inventory.
    QueryDef(
      "pipe_pack_sequences_sharded",
      (s, dir) => {
        val B = 2048
        val S = 8
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr(s"pmod(${idHash60Spark("doc_id")}, $S)").as("shard"),
            least(size(split(col("text"), " ")), lit(B)).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
            expr(s"(cum - n_tok) div $B").as("seq_id"),
            expr(s"pmod(cum - n_tok, $B)").as("seq_offset"))
          .orderBy(col("lang"), col("shard"), col("doc_id"))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, lang,
            ${idHash60Duck("doc_id")} % 8 AS shard,
            CAST(least(len(string_split(text, ' ')), 2048) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, lang, shard, n_tok,
            sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS prior
          FROM d)
        SELECT doc_id, lang, shard, n_tok,
          CAST(prior // 2048 AS BIGINT) AS seq_id,
          CAST(prior % 2048 AS BIGINT) AS seq_offset
        FROM c ORDER BY lang, shard, doc_id"""),
      doc = "Sharded sequence packing — the 100 TB decomposition: " +
        "deterministic hash shard × language composite stream key, ONE " +
        "shuffle on (lang, shard), exclusive prefix-sum within shard; " +
        "(lang, shard, seq_id) is the sequence identity and parallelism " +
        "scales with the shard count, not the language inventory."),

    // ── deterministic global shuffle + train/val/test split ──────────
    // The step between curation and tokenization: assign every document
    // a seeded pseudo-random position (its shuffle key) and a split
    // (90/5/5 by key residue). Deterministic by construction — the same
    // seed replays the same permutation on any engine, any cluster
    // size, any partitioning — which is what makes a training run
    // reproducible and a val set stable across corpus rebuilds.
    //
    // Shape at scale: deliberately NO global row_number (an un-
    // partitioned window is a single task — the classic driver-shaped
    // bottleneck). The shuffle key ITSELF is the permutation: emitting
    // it costs a map-only pass, and the final ORDER BY is Spark's
    // range-partitioned distributed sort (sample → range boundaries →
    // per-partition sort), the same mechanism that writes sorted 100 TB
    // outputs. Split assignment is a residue test on the key — no
    // second hash, no join.
    QueryDef(
      "pipe_shuffle_split",
      (s, dir) => {
        val hk = expr(h60Spark("concat('shuf42:', cast(doc_id as string))"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), hk.as("shuffle_key"))
          .withColumn("split",
            when(col("shuffle_key") % 100 < 90, lit("train"))
              .when(col("shuffle_key") % 100 < 95, lit("val"))
              .otherwise(lit("test")))
          .orderBy(col("shuffle_key"), col("doc_id"))
      },
      Some(s"""WITH k AS (
          SELECT doc_id,
            ${h60Duck("('shuf42:' || CAST(doc_id AS VARCHAR))")} AS shuffle_key
          FROM documents)
        SELECT doc_id, shuffle_key,
          CASE WHEN shuffle_key % 100 < 90 THEN 'train'
               WHEN shuffle_key % 100 < 95 THEN 'val'
               ELSE 'test' END AS split
        FROM k ORDER BY shuffle_key, doc_id"""),
      doc = "Seeded deterministic corpus shuffle + 90/5/5 split: the " +
        "md5 shuffle key IS the permutation (no single-task global " +
        "window), materialized by a range-partitioned distributed " +
        "sort; split = key residue, replayable on any engine."),

    // ── temperature-scaled language/domain resampling ────────────────
    // The multilingual mixing step (XLM-R/mT5-style): raw language
    // shares follow a power law, so training samples lang d with
    // probability ∝ p_d^α (α = 0.5 here) — rare languages upsampled
    // relative to their share, dominant ones damped. This form keeps
    // the rarest stream whole (rate 1.0) and downsamples every other
    // stream by sqrt(n_min/n_d): monotone in n_d, budget-free, and
    // deterministic — membership is a residue test on a seeded md5
    // hash, so the SAME docs are kept on every engine and every rerun.
    //
    // Shape at scale: the rate table is |languages| rows — an agg over
    // a lang-only projection (map-side combinable), broadcast back to
    // the corpus; the fact side streams past with zero shuffle before
    // the per-lang count rollup. No sampling state, no RNG, no
    // collect: the filter is a pure per-row expression.
    QueryDef(
      "pipe_temperature_mix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"))
        val rates = counts
          .crossJoin(broadcast(counts.agg(min(col("n_total")).as("n_min"))))
          .select(col("lang"), col("n_total"),
            sqrt(col("n_min").cast(DoubleType) / col("n_total"))
              .as("keep_rate"))
        val hk = expr(h60Spark("concat('mix7:', cast(doc_id as string))"))
        val kept = docs.join(broadcast(rates), Seq("lang"))
          .where((hk % 1000000L) < col("keep_rate") * lit(1000000.0))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        rates.join(broadcast(kept), Seq("lang"), "left")
          .select(col("lang"), col("n_total"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH counts AS (
          SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
        rates AS (
          SELECT lang, n_total,
            sqrt(CAST((SELECT min(n_total) FROM counts) AS DOUBLE)
              / n_total) AS keep_rate
          FROM counts),
        kept AS (
          SELECT d.lang, count(*) AS n_kept
          FROM documents d JOIN rates r ON d.lang = r.lang
          WHERE ${h60Duck("('mix7:' || CAST(d.doc_id AS VARCHAR))")} % 1000000
            < keep_rate * 1000000.0
          GROUP BY d.lang)
        SELECT r.lang, r.n_total, coalesce(k.n_kept, 0) AS n_kept
        FROM rates r LEFT JOIN kept k ON r.lang = k.lang
        ORDER BY r.lang"""),
      doc = "Temperature-scaled (α = 0.5) language resampling: keep " +
        "rate sqrt(n_min/n_d) per language — rarest stream whole, " +
        "power-law head damped; membership is a seeded md5 residue " +
        "test (reproducible, RNG-free), rates broadcast, corpus side " +
        "un-shuffled until the count rollup.")
  )

  /** Shared oracle for text_lm_backoff and its w1-sharded twin — the
    * scores are identical by construction (only the join layout
    * differs), so both rows replay the same SQL.
    */
  private def lmBackoffSql: String =
    s"""WITH tk AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck()} WHERE len(toks) >= 2),
        bg AS (
          SELECT doc_id,
            unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS w1,
            unnest(list_transform(range(len(toks) - 1), i -> toks[i+2])) AS w2
          FROM tk),
        bigcnt AS (
          SELECT w1, w2, count(*) AS cb FROM bg WHERE doc_id % 2 = 0
          GROUP BY w1, w2),
        uni AS (
          SELECT tok, count(*) AS cu
          FROM (SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 2 = 0)
          GROUP BY tok),
        tot AS (SELECT sum(cu) AS n_train FROM uni),
        sc AS (
          SELECT bg.doc_id,
            CAST(round(ln(
              CASE WHEN b.cb IS NOT NULL THEN CAST(b.cb AS DOUBLE) / u1.cu
                   WHEN u2.cu IS NOT NULL THEN CAST(2 AS DOUBLE) * u2.cu / (5 * (SELECT n_train FROM tot))
                   ELSE CAST(2 AS DOUBLE) / (5 * (SELECT n_train FROM tot)) END),
              9) AS DECIMAL(28,9)) AS ls
          FROM bg
          LEFT JOIN bigcnt b ON bg.w1 = b.w1 AND bg.w2 = b.w2
          LEFT JOIN uni u1 ON bg.w1 = u1.tok
          LEFT JOIN uni u2 ON bg.w2 = u2.tok)
        SELECT doc_id,
          round(CAST(sum(ls) AS DOUBLE) / count(*), 6) AS avg_logscore,
          count(*) AS n_bigrams,
          doc_id % 2 = 0 AS trained_on
        FROM sc GROUP BY doc_id ORDER BY doc_id"""
}
