package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 batch 3: text_readability, Flesch reading-ease +
  * Flesch-Kincaid grade (Kincaid et al. 1975) from deterministic
  * sentence/word/syllable counts — the classic quality signal next to
  * the Gopher rules.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface; this file is [EXT] like all of SURVEY §2.7.
  */
object Round13cQueries {

  val defs: Seq[QueryDef] = Seq(

    // ── Flesch reading-ease / Flesch-Kincaid grade ───────────────────
    // 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) and
    // the grade twin 0.39·(w/s) + 11.8·(sy/w) − 15.59. Deterministic
    // proxies, identical in both engines: sentences = terminal-punct
    // runs (min 1), words = whitespace tokens, syllables = total vowel
    // groups floored GLOBALLY at the word count (greatest(groups,
    // n_words) — NOT the per-word max(1, groups) heuristic: the global
    // floor undercounts whenever multi-syllable words coexist with
    // vowel-less words, but it is one aggregate comparison instead of a
    // per-word pass, and both engines compute it identically).
    // Zero-shuffle
    // narrow pass + one doc-ordered output; all ratios are plain double
    // divisions of exact integer counts.
    QueryDef(
      "text_readability",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("n_words", size(split(col("text"), " ")))
          .withColumn("n_sents", greatest(
            expr("CAST(regexp_count(text, '[.!?]+') AS INT)"), lit(1)))
          .withColumn("n_syll", greatest(
            expr("CAST(regexp_count(lower(text), '[aeiouy]+') AS INT)"),
            col("n_words")))
          .withColumn("flesch", round(expr(
            "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)" +
              " - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)"), 6))
          .withColumn("fk_grade", round(expr(
            "0.39 * (CAST(n_words AS DOUBLE) / n_sents)" +
              " + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59"), 6))
          .select(col("doc_id"), col("n_words"), col("n_sents"),
            col("n_syll"), col("flesch"), col("fk_grade"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          len(string_split(text, ' ')) AS n_words,
          greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT), 1) AS n_sents,
          greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT),
            len(string_split(text, ' '))) AS n_syll,
          round(206.835
            - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                / greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT), 1))
            - 84.6 * (CAST(greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT),
                  len(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' '))), 6) AS flesch,
          round(0.39 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                / greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT), 1))
            + 11.8 * (CAST(greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT),
                  len(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' '))) - 15.59, 6) AS fk_grade
        FROM documents ORDER BY doc_id"""),
      doc = "Flesch reading-ease + Flesch-Kincaid grade (Kincaid 1975) " +
        "from deterministic sentence/word/vowel-group counts; " +
        "zero-shuffle narrow pass, plain double ratios of exact ints.")
  )
}
