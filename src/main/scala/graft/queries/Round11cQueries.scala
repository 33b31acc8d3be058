package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables

/** Round-11 batch 3: corpus-hygiene passes —
  *
  *  - embedding-space eval-set decontamination (the semantic
  *    complement of `pipe_decontaminate`'s shingle overlap — the
  *    cosine-vs-benchmark screen production pretraining pipelines run
  *    next to exact-match decontamination) — eval embeddings collapse
  *    to ONE broadcast row, the corpus never shuffles;
  *  - per-document TF-IDF top terms (Spärck Jones 1972) — the
  *    document-keyword extraction next to the query-side BM25 ranker;
  *    the document-frequency table is Heaps-law-bounded and broadcast.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  *
  * Determinism: cosines are ONE division of native sequential-fold
  * dots, round(·,6), identical expression text in DuckDB; TF-IDF
  * weights are ONE multiplication of an exact BIGINT count by ln of
  * ONE division.
  */
object Round11cQueries {

  // ── semantic-decontamination constants ─────────────────────────────
  /** Eval-benchmark set: the first SemEvalN embeddings. */
  val SemEvalN = 16
  /** Cosine screen threshold. Near-random 64-dim fixture cosines
    * concentrate near 0 (σ ≈ 1/√64 ≈ 0.125), so 0.25 ≈ 2σ flags a
    * real minority tail — both verdicts populated at every SF
    * (spec-pinned). */
  val SemTau = 0.25

  // ── TF-IDF constants ───────────────────────────────────────────────
  val TfidfTopK = 5

  val defs: Seq[QueryDef] = Seq(

    // ── embedding-space eval-set decontamination ─────────────────────
    // The semantic screen next to pipe_decontaminate's shingle overlap:
    // flag any corpus vector whose max cosine against the eval
    // benchmark exceeds τ. Eval embeddings collapse to ONE eid-sorted
    // broadcast row; the corpus pass is ZERO-SHUFFLE — max/argmax run
    // in-row over the eval array (argmax = first index of the max in
    // the eid-sorted array ⇒ lowest matching eval id, same as the
    // oracle's min(eid) over maxima). At 100 TB the eval set is
    // thousands of rows — broadcast by definition (it's a benchmark) —
    // and the corpus still never shuffles.
    QueryDef(
      "pipe_decontaminate_semantic",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val vecs = Corpus.vecs(s, dir)
        val eva = vecs.filter(col("vec_id") < SemEvalN)
          .select(struct(col("vec_id").as("eid"), col("v").as("ev")).as("e"))
          .agg(sort_array(collect_list(col("e"))).as("evals"))
        vecs.filter(col("vec_id") >= SemEvalN)
          .crossJoin(broadcast(eva))
          .withColumn("cos", expr(
            "transform(evals, e -> round(vec_dot(v, e.ev)" +
              " / (sqrt(vec_dot(v, v)) * sqrt(vec_dot(e.ev, e.ev))), 6))"))
          .withColumn("max_cosine", array_max(col("cos")))
          .withColumn("matched_eval",
            expr("evals[array_position(cos, array_max(cos)) - 1].eid"))
          .withColumn("contaminated", col("max_cosine") >= SemTau)
          .select(col("vec_id"), col("matched_eval"), col("max_cosine"),
            col("contaminated"))
          .orderBy(col("vec_id"))
      },
      Some {
        val cos = s"round(${VectorOps.duckDot("a.v", "e.ev")}" +
          s" / (sqrt(${VectorOps.duckDot("a.v", "a.v")}) * sqrt(${VectorOps.duckDot("e.ev", "e.ev")})), 6)"
        s"""WITH ${Corpus.vecsDuck},
          ev AS (SELECT vec_id AS eid, v AS ev FROM vecs WHERE vec_id < $SemEvalN),
          sc AS (
            SELECT a.vec_id, e.eid, $cos AS c
            FROM vecs a CROSS JOIN ev e
            WHERE a.vec_id >= $SemEvalN),
          mx AS (SELECT vec_id, max(c) AS max_cosine FROM sc GROUP BY vec_id)
        SELECT s.vec_id, min(s.eid) AS matched_eval, m.max_cosine,
          m.max_cosine >= $SemTau AS contaminated
        FROM sc s JOIN mx m ON s.vec_id = m.vec_id AND s.c = m.max_cosine
        GROUP BY s.vec_id, m.max_cosine
        ORDER BY s.vec_id"""
      },
      doc = "Embedding-space decontamination: max cosine vs the eval " +
        "benchmark set (one eid-sorted broadcast row), in-row max/argmax, " +
        "zero-shuffle corpus pass, τ=0.25 screen."),

    // ── per-document TF-IDF top terms ────────────────────────────────
    // Document-keyword extraction (the doc-side complement of the
    // query-side BM25 ranker): tf from one (doc, tok) rollup, df reused
    // from the SAME rollup (tf rows are distinct (doc, tok) pairs — no
    // second corpus scan), weight = tf · ln(N/df), top-5 per doc. The
    // df table is Heaps-law-bounded and broadcast; the per-doc window
    // partitions on the high-cardinality doc_id (no hot group) and
    // WindowGroupLimit prunes to ≤5 rows per doc before the final
    // ranking pass.
    QueryDef(
      "text_tfidf_topterms",
      (s, dir) => {
        val tk = Corpus.tok(s, dir)
        val tf = tk.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val nd = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok").asc)
        tf.join(broadcast(dfTab), Seq("tok"))
          .crossJoin(broadcast(nd))
          .withColumn("tfidf",
            round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= TfidfTopK)
          .select(col("doc_id"), col("rank"), col("tok"), col("tfidf"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, unnest(${Corpus.tokensDuck("text")}) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        nd AS (SELECT count(*) AS n FROM documents),
        sc AS (
          SELECT doc_id, tok,
            round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
          FROM tf JOIN dfq USING (tok) CROSS JOIN nd),
        rk AS (
          SELECT doc_id, tok, tfidf,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, tok ASC) AS rank
          FROM sc)
        SELECT doc_id, rank, tok, tfidf FROM rk
        WHERE rank <= $TfidfTopK ORDER BY doc_id, rank"""),
      doc = "Per-doc TF-IDF top-5 terms: tf and df from ONE corpus " +
        "rollup (df reuses the tf table), Heaps-bounded df broadcast, " +
        "high-cardinality doc window with WindowGroupLimit pruning.")
  )
}
