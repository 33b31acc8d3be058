package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.queries.Corpus.{h60Duck, h60Spark}

/** Round-11 operators: the published pipeline passes still missing from
  * the SURVEY §2.7 families after round 10b —
  *
  *  - interpolated Kneser-Ney bigram LM scoring (Chen & Goodman 1998,
  *    "An Empirical Study of Smoothing Techniques for Language
  *    Modeling") — the absolute-discount + continuation-count smoother
  *    that KenLM-style corpus LMs actually ship, next to the existing
  *    Stupid-Backoff pair,
  *  - CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet:
  *    Extracting High Quality Monolingual Datasets from Web Crawl
  *    Data") — the head/middle/tail per-language tercile split that
  *    decides what gets kept/reviewed/dropped,
  *  - C4 line-level cleaning (Raffel et al. 2020, §2.2 of the T5
  *    paper) — terminal-punctuation / min-words / blocklist rules per
  *    LINE, document survives with ≥3 kept lines,
  *  - blocked entity resolution (the Fellegi-Sunter/blocking shape,
  *    Christen 2012) — block key → in-block candidate pairs →
  *    edit-distance verify,
  *  - SCD2 validity intervals — the type-2 slowly-changing-dimension
  *    build (Kimball) from an append-only change log.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (its compute is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66); this file is [EXT] like the rest of
  * SURVEY §2.7.
  *
  * Determinism: the established recipes — md5-derived 60-bit ints for
  * synthesized bits, every float ratio written as ONE division of exact
  * integers with identical expression text in both engines, ln rounded
  * to 9 dp then summed as exact DECIMAL.
  */
object Round11Queries {

  // ── C4 line-cleaning constants (Raffel et al. 2020 §2.2) ───────────
  /** Synthesized line length in tokens (the fixture corpus has no real
    * newlines — the deterministic segmentation is the same move as
    * text_pii_redact's synthesized contact lines: the RULES are real and
    * genuinely exercised, the line structure is manufactured).
    */
  val C4LineLen = 12
  /** C4 keeps only lines with ≥ 5 words. */
  val C4MinWords = 5
  /** C4 keeps only documents with ≥ 3 surviving lines. */
  val C4MinLines = 3

  // ── entity-resolution constants ────────────────────────────────────
  /** Every ErTwinMod-th customer gets a dirty duplicate record. */
  val ErTwinMod = 3
  /** Levenshtein accept threshold for a candidate pair. */
  val ErMaxLev = 1

  /** Interpolated-KN probability, shared expression text (runs verbatim
    * in both Spark SQL and DuckDB so the IEEE op order is identical).
    * D = 3/4 is kept as exact integer arithmetic: max(c-D,0)/ctx is
    * written max(4c-3,0)/(4·ctx). The continuation distribution gets
    * add-one smoothing over (B + V) so every probability is strictly
    * positive (the log-safe floor; Σ_w2 P(w2|w1) = 1 exactly).
    *   cb  = c(w1,w2)           bigram count (NULL when unseen)
    *   c1  = Σ_w2 c(w1,w2)      context count (NULL when w1 unseen)
    *   fw  = N1+(w1·)           distinct continuations of w1
    *   bw  = N1+(·w2)           distinct left-contexts of w2
    *   bb  = total distinct bigram types, vv = training vocab size
    */
  private val knProbExpr =
    """CASE WHEN c1 IS NOT NULL THEN
         CAST(CASE WHEN cb IS NOT NULL THEN greatest(4 * cb - 3, 0) ELSE 0 END AS DOUBLE) / (4 * c1)
         + CAST(3 * fw * (COALESCE(bw, 0) + 1) AS DOUBLE) / (CAST(4 * c1 AS DOUBLE) * (bb + vv))
       ELSE CAST(COALESCE(bw, 0) + 1 AS DOUBLE) / (bb + vv) END"""

  val defs: Seq[QueryDef] = Seq(

    // ── interpolated Kneser-Ney bigram LM (Chen & Goodman 1998) ──────
    // Same train/score posture as text_lm_backoff: trained HELD-OUT on
    // the even-doc_id half, so odd docs genuinely exercise the unseen-
    // bigram interpolation path. The smoother is the real thing:
    // absolute discount D = 0.75 off every seen bigram, the freed mass
    // D·N1+(w1·)/c(w1) backing off to the CONTINUATION distribution
    // N1+(·w2)/B (how many distinct contexts w2 follows — the "San
    // Francisco" fix: 'francisco' is frequent but predictable, so its
    // continuation count, not its frequency, carries the backoff).
    // Plan shape: identical to text_lm_backoff — every count table is
    // vocab/bigram-type-bounded and BROADCAST (Heaps' law keeps them
    // MBs at 100 TB; the w1-sharded twin layout already exists for the
    // LM family in text_lm_backoff_sharded and applies verbatim here);
    // the corpus pays ONE bigram explode + ONE doc rollup. The ctx
    // table folds c(w1) and N1+(w1·) into one pass over the bigram
    // rollup — counting continuations needs no second corpus scan.
    QueryDef(
      "text_lm_kneser_ney",
      (s, dir) => {
        val tk = Corpus.toks(s, dir, "lang").filter(size(col("toks")) >= 2)
        val bg = tk.select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val train = bg.filter(expr("doc_id % 2 = 0"))
        val bigCnt = train.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cb"))
          .persist()
        // context count AND distinct-continuation count in one pass
        // over the (already tiny) bigram rollup
        val ctx = bigCnt.groupBy(col("w1"))
          .agg(sum(col("cb")).as("c1"), count(lit(1)).as("fw"))
        val cont = bigCnt.groupBy(col("w2"))
          .agg(count(lit(1)).as("bw"))
        val scal = bigCnt.agg(count(lit(1)).as("bb")).crossJoin(
          train.select(col("w1")).union(train.select(col("w2")))
            .agg(countDistinct(col("w1")).as("vv")))
        bg
          .join(broadcast(bigCnt), Seq("w1", "w2"), "left")
          .join(broadcast(ctx), Seq("w1"), "left")
          .join(broadcast(cont), Seq("w2"), "left")
          .crossJoin(broadcast(scal))
          .withColumn("p", expr(knProbExpr))
          .withColumn("lp", round(log(col("p")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("lp")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_logprob"),
            count(lit(1)).as("n_bigrams"))
          .withColumn("trained_on", expr("doc_id % 2 = 0"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck("lang")} WHERE len(toks) >= 2),
        bg AS (
          SELECT doc_id, u.i AS pos, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
          FROM tk, unnest(range(0, len(toks) - 1)) u(i)),
        train AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
        bigcnt AS (SELECT w1, w2, count(*) AS cb FROM train GROUP BY w1, w2),
        ctx AS (SELECT w1, sum(cb) AS c1, count(*) AS fw FROM bigcnt GROUP BY w1),
        cont AS (SELECT w2, count(*) AS bw FROM bigcnt GROUP BY w2),
        scal AS (
          SELECT (SELECT count(*) FROM bigcnt) AS bb,
                 (SELECT count(DISTINCT w) FROM (
                    SELECT w1 AS w FROM train UNION ALL SELECT w2 FROM train)) AS vv),
        sc AS (
          SELECT g.doc_id,
            CAST(round(ln($knProbExpr), 9) AS DECIMAL(28,9)) AS lp
          FROM bg g
          LEFT JOIN bigcnt USING (w1, w2)
          LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2)
          CROSS JOIN scal)
        SELECT doc_id,
          round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob,
          count(*) AS n_bigrams,
          doc_id % 2 = 0 AS trained_on
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Held-out interpolated Kneser-Ney bigram LM (D=3/4 exact): " +
        "absolute discount + continuation-count backoff, add-one floor on " +
        "the continuation distribution keeps every log finite; count " +
        "tables broadcast, one corpus bigram pass + one doc rollup."),

    // ── CCNet perplexity buckets (Wenzek et al. 2020) ────────────────
    // The published keep/review/drop split: score every document with
    // the corpus LM (here the text_perplexity unigram-surprisal signal,
    // same DECIMAL recipe), then split EACH LANGUAGE into equal-count
    // head/middle/tail terciles by score. CCNet itself sorts per
    // language shard, which is exactly the rank window below; ties
    // break on doc_id so the split is total. Scale note: |langs| is
    // small, so the rank window range-shuffles each language to one
    // task — at 100 TB the production form computes the two cutoff
    // scores per language from a quantile sketch rollup (lang-bounded,
    // broadcast back) and assigns buckets in a narrow comparison pass;
    // the window IS the per-shard sort CCNet runs, kept here because
    // the tercile boundary must be exact for the oracle.
    QueryDef(
      "pipe_ccnet_buckets",
      (s, dir) => {
        val tk = Corpus.toks(s, dir, "lang")
          .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
        val freq = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = freq.agg(sum(col("cnt")).as("total"))
        val scored = tk.join(broadcast(freq), "tok")
          .crossJoin(broadcast(tot))
          .withColumn("surp",
            round(-log(col("cnt") / col("total")), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"), col("lang"))
          .agg(round(sum(col("surp")).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_surprisal"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("avg_surprisal").asc, col("doc_id").asc)
        val wn = Window.partitionBy(col("lang"))
        scored
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .withColumn("ppl_bucket", expr(
            """CASE WHEN rk * 3 <= n THEN 'head'
                    WHEN rk * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END"""))
          .select(col("doc_id"), col("lang"), col("avg_surprisal"), col("ppl_bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, lang, unnest(toks) AS tok FROM ${Corpus.toksDuck("lang")}),
        f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT sum(cnt) AS total FROM f),
        sc AS (
          SELECT doc_id, lang,
            CAST(round(-ln(cnt / (SELECT total FROM tot)), 9) AS DECIMAL(28,9)) AS surp
          FROM tk JOIN f USING (tok)),
        scored AS (
          SELECT doc_id, lang,
            round(CAST(sum(surp) AS DOUBLE) / count(*), 6) AS avg_surprisal
          FROM sc GROUP BY doc_id, lang),
        ranked AS (
          SELECT doc_id, lang, avg_surprisal,
            row_number() OVER (PARTITION BY lang ORDER BY avg_surprisal ASC, doc_id ASC) AS rk,
            count(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT doc_id, lang, avg_surprisal,
          CASE WHEN rk * 3 <= n THEN 'head'
               WHEN rk * 3 <= 2 * n THEN 'middle'
               ELSE 'tail' END AS ppl_bucket
        FROM ranked ORDER BY doc_id"""),
      doc = "CCNet head/middle/tail: per-language equal-count terciles by " +
        "LM surprisal; the rank window is CCNet's own per-shard sort, the " +
        "100 TB form broadcasts sketch-derived cutoffs instead."),

    // ── C4 line-level cleaning (Raffel et al. 2020 §2.2) ─────────────
    // The T5 cleaning pass operates per LINE, then keeps documents with
    // ≥3 surviving lines: a line survives if it ends in terminal
    // punctuation, has ≥5 words, and trips no blocklist entry. The
    // fixture corpus has no newlines or punctuation, so line structure
    // is synthesized deterministically (12-token segments; a trailing
    // '.' appended when the line's md5 bit says so — 70% of lines), the
    // same manufactured-but-really-exercised move as text_pii_redact.
    // Everything runs inside array higher-order functions on the row:
    // ZERO shuffles, one codegen'd narrow pass over the corpus — the
    // shape that matters at 100 TB, where C4-style cleaning is a
    // throughput-bound scan.
    QueryDef(
      "text_c4_filter",
      (s, dir) => {
        val mkLines =
          s"""transform(sequence(0, greatest(cast(ceil(size(toks) / ${C4LineLen}.0) as int), 1) - 1),
                i -> concat(
                  array_join(slice(toks, i * $C4LineLen + 1, $C4LineLen), ' '),
                  CASE WHEN ${h60Spark(s"concat(cast(doc_id as string), ':', cast(i as string))")} % 10 < 7
                       THEN '.' ELSE '' END))"""
        val keepRules =
          s"""l -> size(split(l, ' ')) >= $C4MinWords
                AND l LIKE '%.'
                AND l NOT LIKE '%slow%'
                AND l NOT LIKE '%lorem ipsum%'
                AND l NOT LIKE '%javascript%'
                AND l NOT LIKE '%{%'"""
        Corpus.toks(s, dir, "lang")
          .withColumn("lines", expr(mkLines))
          .withColumn("kept", expr(s"filter(lines, $keepRules)"))
          .select(
            col("doc_id"),
            size(col("lines")).as("n_lines"),
            size(col("kept")).as("n_kept"),
            (size(col("kept")) >= C4MinLines).as("keep_doc"),
            array_join(col("kept"), " ").as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck("lang")}),
        ln AS (
          SELECT doc_id,
            list_transform(
              range(0, greatest(CAST(ceil(len(toks) / ${C4LineLen}.0) AS BIGINT), 1)),
              i -> array_to_string(toks[i * $C4LineLen + 1 : i * $C4LineLen + $C4LineLen], ' ')
                   || (CASE WHEN ${h60Duck(s"doc_id || ':' || i")} % 10 < 7
                            THEN '.' ELSE '' END)) AS lines
          FROM d),
        k AS (
          SELECT doc_id, lines,
            list_filter(lines, l ->
              len(string_split(l, ' ')) >= $C4MinWords
              AND l LIKE '%.'
              AND l NOT LIKE '%slow%'
              AND l NOT LIKE '%lorem ipsum%'
              AND l NOT LIKE '%javascript%'
              AND l NOT LIKE '%{%') AS kept
          FROM ln)
        SELECT doc_id,
          len(lines) AS n_lines,
          len(kept) AS n_kept,
          len(kept) >= $C4MinLines AS keep_doc,
          COALESCE(array_to_string(kept, ' '), '') AS cleaned
        FROM k ORDER BY doc_id"""),
      doc = "C4 §2.2 line rules (terminal punct, ≥5 words, blocklist) over " +
        "deterministic synthesized lines; doc survives with ≥3 kept lines; " +
        "zero-shuffle array-HOF pass."),

    // ── blocked entity resolution (Christen 2012 / Fellegi-Sunter) ───
    // Record linkage at corpus scale: never compare all pairs — derive
    // a BLOCK KEY, all-pairs only within a block, verify candidates
    // with an edit-distance gate. Records are the customer names plus a
    // deterministic dirty twin for every 3rd customer (one deleted
    // char, the classic data-entry error), so true matches exist and
    // the verify gate genuinely fires. The block key is the last-3-
    // digit suffix of the numeric id inside the name: edit-robust for
    // the planted twin (digit-preserving), and it bounds block size at
    // n/1000 — the production knob is key width, exactly like the
    // AnnScaledBits rule (more digits as the corpus grows keeps
    // in-block all-pairs constant). Blocking recall loss is DECLARED
    // semantics (a cross-block near-pair is dropped by construction)
    // and the oracle replays the same blocks. ONE shuffle on the block
    // key; the levenshtein verify runs only inside blocks.
    QueryDef(
      "pipe_entity_blocking",
      (s, dir) => {
        val base = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), lower(col("c_name")).as("name"))
        val recs = base
          .select((col("c_custkey") * 2).as("rec_id"), col("name"))
          .union(base.filter(col("c_custkey") % ErTwinMod === 0)
            .select((col("c_custkey") * 2 + 1).as("rec_id"),
              expr("concat(substring(name, 1, 8), substring(name, 10))").as("name")))
          .withColumn("digits", regexp_replace(col("name"), "[^0-9]", ""))
          .withColumn("blk", expr("substring(digits, length(digits) - 2, 3)"))
          .select(col("rec_id"), col("name"), col("blk"))
        val a = recs.toDF("rec_a", "name_a", "blk")
        val b = recs.toDF("rec_b", "name_b", "blk")
        a.join(b, Seq("blk"))
          .filter(col("rec_a") < col("rec_b"))
          .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
          .filter(col("lev") <= ErMaxLev)
          .select(col("rec_a"), col("rec_b"), col("name_a"), col("name_b"), col("lev"))
          .orderBy(col("rec_a"), col("rec_b"))
      },
      Some(s"""WITH base AS (
          SELECT c_custkey, lower(c_name) AS name FROM customer),
        recs0 AS (
          SELECT c_custkey * 2 AS rec_id, name FROM base
          UNION ALL
          SELECT c_custkey * 2 + 1 AS rec_id,
            substring(name, 1, 8) || substring(name, 10) AS name
          FROM base WHERE c_custkey % $ErTwinMod = 0),
        recs AS (
          SELECT rec_id, name,
            substring(regexp_replace(name, '[^0-9]', '', 'g'),
              length(regexp_replace(name, '[^0-9]', '', 'g')) - 2, 3) AS blk
          FROM recs0)
        SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
          a.name AS name_a, b.name AS name_b,
          levenshtein(a.name, b.name) AS lev
        FROM recs a JOIN recs b ON a.blk = b.blk AND a.rec_id < b.rec_id
        WHERE levenshtein(a.name, b.name) <= $ErMaxLev
        ORDER BY rec_a, rec_b"""),
      doc = "Blocked record linkage: suffix-digit block key (edit-robust " +
        "for the planted twin, block size n/1000), in-block candidates " +
        "only, levenshtein<=1 verify; key width is the scale knob."),

    // ── SCD2 validity intervals from an append-only change log ───────
    // The Kimball type-2 dimension build: the events stream is the
    // change log of a per-user attribute (value); consecutive no-op
    // changes collapse (true SCD2 records only real changes), then
    // every surviving change opens an interval [ts, next_ts) closed by
    // the next change — lead() over the same (user_id, ts) ordering,
    // NULL = current row. Both windows share one partitioning, so the
    // whole build is ONE shuffle on user_id (high-cardinality — no
    // hot-group concern) + two in-partition sorted passes.
    QueryDef(
      "ev_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val chg = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("prev", lag(col("value"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("value"))
        val w2 = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        chg
          .withColumn("valid_to", lead(col("ts"), 1).over(w2))
          .select(
            col("user_id"),
            col("ts").as("valid_from"),
            col("valid_to"),
            col("event_id").as("change_id"),
            col("value"),
            col("valid_to").isNull.as("is_current"))
          .orderBy(col("user_id"), col("valid_from"), col("change_id"))
      },
      Some("""WITH chg AS (
          SELECT user_id, ts, event_id, value
          FROM (
            SELECT user_id, ts, event_id, value,
              lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
            FROM events)
          WHERE prev IS NULL OR prev <> value)
        SELECT user_id,
          ts AS valid_from,
          lead(ts) OVER w AS valid_to,
          event_id AS change_id,
          value,
          lead(ts) OVER w IS NULL AS is_current
        FROM chg
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ORDER BY user_id, valid_from, change_id"""),
      doc = "Type-2 SCD build from a change log: no-op collapse + lead() " +
        "validity intervals, one user_id shuffle, two sorted passes.")
  )
}
