package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 batch 3: readability scoring and hard-negative mining —
  *
  *  - text_readability: Flesch reading-ease + Flesch-Kincaid grade
  *    (Kincaid et al. 1975) from deterministic sentence/word/syllable
  *    counts — the classic quality signal next to the Gopher rules;
  *  - sim_hard_negatives: DPR-style hard-negative mining (Karpukhin
  *    et al. 2020) — per query, the top-k most similar vectors with a
  *    DIFFERENT label: similar enough to be hard, wrong by label.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface; this file is [EXT] like all of SURVEY §2.7.
  */
object Round13cQueries {

  /** Hard negatives returned per query. */
  val HnK = 5
  /** Queries = the first HnQueries vec_ids (the sim-family stance). */
  val HnQueries = 5

  /** `Corpus.nvecsDuck` keeping `label` — sim_hard_negatives' oracle
    * only, so it stays here (the Spark side is `Corpus.nvecs(…, "label")`). */
  private val labelledVecsDuck =
    s"""vecs AS (
         SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v,
           label
         FROM embeddings),
       nvecs AS (
         SELECT vec_id, v, label, %s AS nrm FROM vecs)"""
      .format(VectorOps.duckNorm("v"))

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
        "zero-shuffle narrow pass, plain double ratios of exact ints."),

    // ── DPR-style hard-negative mining (Karpukhin et al. 2020) ───────
    // The contrastive-training data op: for each query vector, the
    // top-k most COSINE-SIMILAR vectors whose label DIFFERS — similar
    // enough to be hard, wrong by label. Same broadcast-query /
    // one-scan shape as sim_brute_topk with the label predicate pushed
    // into the join condition (the scan never materializes same-label
    // pairs); at scale the LSH/IVF candidate restriction composes in
    // front exactly as in the serving rows.
    QueryDef(
      "sim_hard_negatives",
      (s, dir) => {
        val all = Corpus.nvecs(s, dir, "label")
        val q = all.filter(col("vec_id") < HnQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qn"), col("label").as("qlabel"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neg_id").asc)
        all.join(broadcast(q),
            col("vec_id") =!= col("query_id") &&
              col("label") =!= col("qlabel"))
          .select(col("query_id"), col("qlabel"),
            col("vec_id").as("neg_id"), col("label").as("neg_label"),
            round(VectorOps.cosine(col("v"), col("qv"), col("nrm"), col("qn")), 6)
              .as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= HnK)
          .select(col("query_id"), col("rank"), col("neg_id"),
            col("qlabel"), col("neg_label"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $labelledVecsDuck,
          q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
                  label AS qlabel
                FROM nvecs WHERE vec_id < $HnQueries),
          sims AS (
            SELECT q.query_id, q.qlabel, a.vec_id AS neg_id,
              a.label AS neg_label,
              round(${VectorOps.duckDot("a.v", "q.qv")} / (a.nrm * q.qn), 6) AS cosine
            FROM nvecs a JOIN q
              ON a.vec_id <> q.query_id AND a.label <> q.qlabel),
          ranked AS (
            SELECT query_id, qlabel, neg_id, neg_label, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neg_id ASC) AS rank
            FROM sims)
        SELECT query_id, rank, neg_id, qlabel, neg_label, cosine
        FROM ranked WHERE rank <= $HnK
        ORDER BY query_id, rank"""),
      doc = s"DPR-style hard negatives (top-$HnK cosine, different " +
        "label): broadcast query side, label predicate inside the join " +
        "condition (same-label pairs never materialize); LSH/IVF " +
        "candidate restriction composes in front at scale.")
  )
}
