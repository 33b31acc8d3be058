package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a training-data pipeline, over
  * `documents(doc_id, text, lang, source, n_chars)`.
  *
  * Everything is built-in Catalyst expressions (string + higher-order
  * array functions) — no UDFs — so the whole stage stays codegen-friendly
  * and scales linearly with the corpus: each query is a single
  * narrow-transform pass over the scan (no shuffle except the final
  * presentation sort, which a real pipeline would drop).
  */
object TextQueries {

  /** Stopword lexicons used by quality scoring and language ID.
    * Tiny on purpose: the heuristic (hit-rate argmax) is the declared
    * operator; a production list would just be a bigger literal.
    */
  val lex: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "zu"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"))

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Count of tokens present in a word list (works in both Spark SQL and
    * DuckDB — same syntax).
    */
  private def hitsExpr(ws: Seq[String]): String =
    s"size(filter(toks, t -> t IN ${sqlList(ws)}))"
  private def hitsDuck(ws: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN ${sqlList(ws)}))"

  // Language-ID decision: fixed CASE chain = deterministic alphabetical
  // tiebreak. Same text in both dialects.
  private def langCase(score: String => String): String = {
    val s = Map("de" -> score("s_de"), "en" -> score("s_en"),
      "es" -> score("s_es"), "fr" -> score("s_fr"))
    s"""CASE
       WHEN ${s("de")} >= ${s("en")} AND ${s("de")} >= ${s("es")} AND ${s("de")} >= ${s("fr")} THEN 'de'
       WHEN ${s("en")} >= ${s("es")} AND ${s("en")} >= ${s("fr")} THEN 'en'
       WHEN ${s("es")} >= ${s("fr")} THEN 'es'
       ELSE 'fr' END"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ── token counting: whitespace + BPE-ish regex tokens ────────────
    QueryDef(
      "text_tokens",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            size(Corpus.tokens(col("text"))).as("n_ws_tokens"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
              .as("n_re_tokens"),
            length(col("text")).as("len_chars"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
          len(${Corpus.tokensDuck("text")}) AS n_ws_tokens,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
          length(text) AS len_chars
        FROM documents ORDER BY doc_id""")),

    // ── quality scoring: length / punctuation / stopword / uniqueness ─
    QueryDef(
      "text_quality",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumn("toks", Corpus.tokens(col("text")))
        docs.select(
            col("doc_id"),
            length(col("text")).as("len_chars"),
            size(col("toks")).as("n_words"),
            (length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double") /
              length(col("text"))).as("punct_ratio"),
            (expr(hitsExpr(lex("en"))).cast("double") / size(col("toks")))
              .as("stop_ratio"),
            (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
              .as("uniq_ratio"))
          .withColumn("quality_score",
            round(lit(0.25) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
              lit(0.35) * col("uniq_ratio") +
              lit(0.25) * least(col("stop_ratio") * 5.0, lit(1.0)) +
              lit(0.15) * (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))), 6))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH q AS (
          SELECT doc_id, text, ${Corpus.tokensDuck("text")} AS toks FROM documents),
        m AS (
          SELECT doc_id,
            length(text) AS len_chars,
            len(toks) AS n_words,
            CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
            CAST(${hitsDuck(lex("en"))} AS DOUBLE) / len(toks) AS stop_ratio,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
          FROM q)
        SELECT doc_id, len_chars, n_words, punct_ratio, stop_ratio, uniq_ratio,
          round(0.25 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
              + 0.35 * uniq_ratio
              + 0.25 * least(stop_ratio * 5.0, 1.0)
              + 0.15 * (1.0 - least(punct_ratio * 10.0, 1.0)), 6) AS quality_score
        FROM m ORDER BY doc_id""")),

    // ── language ID: stopword hit-rate argmax ────────────────────────
    QueryDef(
      "text_langid",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .withColumn("toks", Corpus.tokens(col("text")))
          .withColumn("s_de", expr(hitsExpr(lex("de"))))
          .withColumn("s_en", expr(hitsExpr(lex("en"))))
          .withColumn("s_es", expr(hitsExpr(lex("es"))))
          .withColumn("s_fr", expr(hitsExpr(lex("fr"))))
        scored.select(
            col("doc_id"), col("lang").as("labeled_lang"),
            expr(langCase(identity)).as("predicted_lang"),
            col("s_de"), col("s_en"), col("s_es"), col("s_fr"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH q AS (
          SELECT doc_id, lang, ${Corpus.tokensDuck("text")} AS toks FROM documents),
        sc AS (
          SELECT doc_id, lang,
            ${hitsDuck(lex("de"))} AS s_de, ${hitsDuck(lex("en"))} AS s_en,
            ${hitsDuck(lex("es"))} AS s_es, ${hitsDuck(lex("fr"))} AS s_fr
          FROM q)
        SELECT doc_id, lang AS labeled_lang, ${langCase(identity)} AS predicted_lang,
          s_de, s_en, s_es, s_fr
        FROM sc ORDER BY doc_id""")),

    // ── PII redaction (emails / IPv4s / phone-ish numbers) ───────────
    // The fixture text is PII-free, so each doc gets a deterministic
    // synthetic contact line appended (same expression in both engines)
    // before redaction — the patterns are genuinely exercised on every
    // row. RE2 (DuckDB) and java.util.regex agree on this pattern subset
    // (no backrefs, no lookaround).
    QueryDef(
      "text_pii_redact",
      (s, dir) => {
        val withPii = Tables.load(s, dir, "documents")
          .withColumn("raw", concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-01"),
            col("doc_id"), lit(" at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7 ok")))
        withPii.select(
            col("doc_id"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("raw"),
                  "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "[EMAIL]"),
                "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"),
              "\\+?\\d[\\d\\s-]{7,}\\d", "[PHONE]")
              .as("redacted"))
          .withColumn("n_redacted",
            size(split(col("redacted"), "\\[EMAIL\\]|\\[IP\\]|\\[PHONE\\]")) - 1)
          .orderBy(col("doc_id"))
      },
      Some("""WITH raw AS (
          SELECT doc_id,
            substring(text, 1, 40) || ' contact user' || doc_id ||
            '@example.com or +1-555-01' || doc_id || ' at 10.0.' ||
            (doc_id % 256) || '.7 ok' AS raw
          FROM documents),
        red AS (
          SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(raw,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
              '\+?\d[\d\s-]{7,}\d', '[PHONE]', 'g') AS redacted
          FROM raw)
        SELECT doc_id, redacted,
          len(string_split_regex(redacted, '\[EMAIL\]|\[IP\]|\[PHONE\]')) - 1 AS n_redacted
        FROM red ORDER BY doc_id"""),
      doc = "Email/IP/phone redaction — the curation stage every training-data pipeline runs; single narrow codegen'd pass."),

    // ── end-to-end curation pipeline (filter → dedup → stats) ────────
    // Composition query: quality-gate the corpus, exact-dedup survivors
    // (keep lowest doc_id per content hash), then per-language stats.
    // Shape: one narrow scoring pass, one shuffle on the content hash,
    // one shuffle on lang — the whole curation funnel in three stages.
    QueryDef(
      "pipe_curate",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .withColumn("toks", Corpus.tokens(col("text")))
          .withColumn("uniq_ratio",
            size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .filter(col("uniq_ratio") >= 0.5 && size(col("toks")) >= 10)
        val deduped = scored
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        deduped.join(scored.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, lang, md5(text) AS h
          FROM (SELECT doc_id, lang, text,
                  ${Corpus.tokensDuck("text")} AS toks FROM documents)
          WHERE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.5
            AND len(toks) >= 10),
        deduped AS (
          SELECT h, min(doc_id) AS doc_id FROM scored GROUP BY h)
        SELECT s.lang, count(*) AS n_docs
        FROM deduped d JOIN scored s ON d.doc_id = s.doc_id
        GROUP BY s.lang ORDER BY s.lang"""),
      doc = "Quality-gate → exact-dedup → per-language stats: the curation funnel as one declarative plan."),

    // ── curation with NEAR-dup cluster resolution ────────────────────
    // The end-to-end corpus-curation shape for a training-data pipeline:
    // exact dedup (content hash), then minhash-LSH near-dup pairs over
    // the survivors, connected components to form duplicate clusters,
    // keep one canonical (min-id) doc per cluster, report per-language
    // survivor counts. Everything before the (tiny) component loop is
    // single-shuffle-per-stage; the oracle replays the whole pipeline in
    // SQL with a recursive-CTE closure.
    QueryDef(
      "pipe_curate_cc",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // surv is referenced three times (both edge endpoints + the final
        // anti-join) — persist the (narrow) key set once.
        val surv = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
          .persist()
        val pairs = DedupQueries.minhashPairs(s, dir)
          .select(col("doc_a"), col("doc_b"))
        val edges = pairs
          .join(surv.toDF("doc_a"), "doc_a")
          .join(surv.toDF("doc_b"), "doc_b")
        val labels = graft.operators.ConnectedComponents.run(edges)
        val drop = labels.filter(col("node") =!= col("cluster_id"))
          .select(col("node").as("doc_id"))
        surv.join(drop, Seq("doc_id"), "left_anti")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"))
      },
      Some(s"""${DedupQueries.minhashPairsDuckCteRecursive},
          surv AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          e AS (
            SELECT doc_a, doc_b FROM pairs
            WHERE doc_a IN (SELECT doc_id FROM surv)
              AND doc_b IN (SELECT doc_id FROM surv)),
          und AS (
            SELECT doc_a AS u, doc_b AS v FROM e
            UNION SELECT doc_b, doc_a FROM e),
          reach AS (
            SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
            UNION
            SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u),
          lbl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          kept AS (
            SELECT s.doc_id FROM surv s LEFT JOIN lbl l ON s.doc_id = l.doc_id
            WHERE l.doc_id IS NULL OR l.cluster_id = s.doc_id)
        SELECT d.lang, count(*) AS n_docs
        FROM kept k JOIN documents d ON k.doc_id = d.doc_id
        GROUP BY d.lang ORDER BY d.lang"""),
      doc = "pipe_curate upgraded with near-dup CLUSTER removal (exact hash → " +
        "LSH pairs → components → canonical-only)."),

    // ── sliding-window document chunking (64-token, stride 48) ───────
    // The pre-tokenization step of a training pipeline: long documents
    // become overlapping fixed-size chunks (overlap keeps boundary
    // context). One narrow pass + a generator — rows out ≈ tokens/stride,
    // no shuffle at all; chunk_idx is the deterministic position key.
    QueryDef(
      "text_chunk",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
          .select(col("doc_id"), col("n"),
            posexplode(expr(
              """transform(
                   sequence(0, greatest(cast(ceil((n - 64) / 48.0) as int), 0)),
                   i -> array_join(slice(toks, i * 48 + 1, 64), ' '))"""))
              .as(Seq("chunk_idx", "chunk")))
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
            len(string_split(text, ' ')) AS n
          FROM documents)
        SELECT doc_id, n, u.i AS chunk_idx,
          array_to_string(toks[u.i * 48 + 1 : u.i * 48 + 64], ' ') AS chunk
        FROM d, unnest(range(0, greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT), 0) + 1)) u(i)
        ORDER BY doc_id, chunk_idx"""),
      doc = "Last chunk starts at ceil((n-64)/48)·48 so coverage reaches the " +
        "end; both engines' slices clamp identically at the boundary."),

    // ── document fingerprint: md5 of whitespace-normalized text ──────
    QueryDef(
      "text_fingerprint",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            expr(Corpus.h60Spark("trim(regexp_replace(lower(text), '\\\\s+', ' '))"))
              .as("fingerprint"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
          ${Corpus.h60Duck("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS fingerprint
        FROM documents ORDER BY doc_id"""),
      doc = "60-bit md5 prefix = cross-engine-stable content fingerprint.")
  )
}
