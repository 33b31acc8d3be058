package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Retrieval operators (round 10, [EXT] like all of SURVEY §2.7): the
  * web-corpus curation passes the §2.7 surface did not yet cover —
  *
  *  - BM25 lexical retrieval top-k (Robertson/Spärck Jones; the Lucene
  *    `ln(1 + (N-df+0.5)/(df+0.5))` idf form): the retrieval side of
  *    retrieval-based decontamination — "which corpus docs does this
  *    eval query pull up" is the membership-leakage probe GPT-3-style
  *    n-gram overlap (pipe_decontaminate) cannot express, and the same
  *    pass is RAG/reranker training-pair mining;
  *  - PMI collocation extraction (Church & Hanks 1990): unordered
  *    adjacent-token pair counts vs broadcast unigram marginals — the
  *    multi-word-expression miner ahead of tokenizer merge selection.
  *
  * Reference scope note: alxmancilla/parquet-demo has no retrieval or
  * graph surface (its compute is type coercion + ETL batching,
  * src/parquet_demo/io.py:21-66).
  *
  * Scale shapes:
  *  - BM25: the query-term table broadcasts and prunes the exploded
  *    corpus BEFORE its only wide operation, so the one real shuffle
  *    carries matching postings only — never the corpus. df/N/avgdl are
  *    term- or scalar-bounded rollups that broadcast back. At 100 TB the
  *    postings rollup is the inverted-index build restricted to the
  *    query vocabulary; everything downstream is |q-terms|·|hit-docs|.
  *  - PMI: ONE pair-count shuffle over the corpus bigrams; the unigram
  *    marginal table is vocab-bounded and broadcasts; the top-k is
  *    TakeOrdered — no window, no second corpus pass.
  *
  * Float determinism (the text_perplexity recipe): every libm result
  * (ln, the tf saturation) is rounded to 9–12 dp FIRST — only a
  * value-bounded set of distinct inputs ever reaches libm — then summed
  * as exact DECIMAL, so scores are independent of partition order and
  * identical in both engines.
  */
object RetrievalQueries {

  /** BM25 constants (the classic Robertson defaults). */
  val K1 = 1.2
  val B = 0.75
  val TopK = 5

  /** PMI collocations: minimum pair count and result size. */
  val PmiMinCount = 5
  val PmiTopK = 20

  /** Fixed benchmark query set over the fixture vocabulary — inline in
    * both engines, the eval-set side of a decontamination probe.
    */
  val BmQueries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 1L -> "merge",
    2L -> "vector", 2L -> "window",
    3L -> "slow", 3L -> "query", 3L -> "scan")

  private val bmQueriesDuck =
    BmQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** BM25 top-k over an ARBITRARY (query_id, tok) query set — the
    * declared row binds the fixed fixture set; the probe harness binds
    * synthetic sets up to |q|=1000 (VERDICT r10 item 4). The query set is
    * eval-set-bounded by definition (it's the retrieval side of a
    * decontamination / pair-mining pass), so it broadcasts at any
    * realistic |q|; the one real shuffle carries only query-matched
    * postings — its payload scales with matches, not with the corpus and
    * not with |q| directly (probe-pinned).
    */
  def bm25TopK(s: SparkSession, dir: String, qterms0: DataFrame): DataFrame = {
    val qterms = broadcast(qterms0)
    val docs = Corpus.toks(s, dir)
    // corpus-wide scalars: doc count and mean doc length, as ONE
    // double division of exact integer sums (shared both engines)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("n_toks"))
      .select(col("n_docs"),
        (col("n_toks").cast(DoubleType) / col("n_docs")).as("avgdl"))
    val posts = docs
      .select(col("doc_id"), size(col("toks")).cast(DoubleType).as("dl"),
        explode(col("toks")).as("tok"))
      .join(qterms, "tok")
      .groupBy(col("query_id"), col("tok"), col("doc_id"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), first(col("dl")).as("dl"))
    // df over the postings (term-bounded), broadcast back
    val dfTab = broadcast(
      posts.select(col("tok"), col("doc_id")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df")))
    val scored = posts
      .join(dfTab, "tok")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        round(
          expr(s"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
            s" * (tf * ${K1 + 1.0} / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)))"),
          9).cast(DecimalType(28, 9)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")).cast(DoubleType), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val rk = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(rk))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"),
        col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Deterministic synthetic query set for the |q| scaling probe: nq
    * queries × termsPerQuery terms hash-assigned (replayable, RNG-free)
    * from the corpus vocabulary — distinct queries SHARE terms, exactly
    * like a real eval set (common words recur across queries; the
    * fixture vocabulary is a fixed 31-word pool, ~31·m after ×m rotated
    * replication). The row_number window is over the VOCAB (Heaps-law
    * bounded), not the corpus — probe-harness scale, not a corpus pass.
    * A query can lose a term to an in-query hash collision (deduped) —
    * harmless: real queries vary in length too.
    */
  def syntheticBmQueries(s: SparkSession, dir: String, nq: Int,
      termsPerQuery: Int = 3): DataFrame = {
    // GLOBAL window over the distinct VOCABULARY (Heaps-law bounded —
    // sublinear in corpus size), not the corpus; probe-harness only.
    // The only global window in the repo whose input grows at all.
    val w = Window.orderBy(md5(col("tok")), col("tok"))
    val vocab = Corpus.toks(s, dir)
      .select(explode(col("toks")).as("tok")).distinct()
      .withColumn("rn", row_number().over(w) - 1)
      .localCheckpoint()
    val v = vocab.count()
    s.range(nq.toLong * termsPerQuery)
      .select(expr(s"id div $termsPerQuery").as("query_id"),
        pmod(hash(col("id")), lit(v)).cast("int").as("rn"))
      .join(broadcast(vocab), "rn")
      .select(col("query_id"), col("tok"))
      .distinct()
  }

  val defs: Seq[QueryDef] = Seq(

    // ── BM25 retrieval top-k ─────────────────────────────────────────
    // One corpus pass: explode tokens, broadcast-join the query terms
    // (the prune happens BEFORE the postings shuffle), rollup
    // (query, term, doc) postings carrying doc length along — so doc
    // length needs NO second corpus join. df comes from the postings
    // themselves (distinct doc per term); N/avgdl are one scalar agg.
    QueryDef(
      "text_bm25_topk",
      (s, dir) => {
        import s.implicits._
        bm25TopK(s, dir, BmQueries.toDF("query_id", "tok"))
      },
      Some(s"""WITH q(query_id, tok) AS (VALUES $bmQueriesDuck),
        docs AS (SELECT doc_id, toks FROM ${Corpus.toksDuck()}),
        stats AS (
          SELECT count(*) AS n_docs,
            CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
          FROM docs),
        posts AS (
          SELECT q.query_id, t.tok, t.doc_id,
            CAST(count(*) AS DOUBLE) AS tf, CAST(any_value(t.dl) AS DOUBLE) AS dl
          FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM docs) t
          JOIN q ON t.tok = q.tok
          GROUP BY q.query_id, t.tok, t.doc_id),
        dftab AS (
          SELECT tok, count(*) AS df
          FROM (SELECT DISTINCT tok, doc_id FROM posts) GROUP BY tok),
        scored AS (
          SELECT query_id, doc_id,
            round(CAST(sum(CAST(round(
              ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf * ${K1 + 1.0} / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl))),
              9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS score,
            count(*) AS n_terms
          FROM posts JOIN dftab USING (tok) CROSS JOIN stats
          GROUP BY query_id, doc_id),
        ranked AS (
          SELECT query_id, doc_id, score, n_terms,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
        SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
          doc_id, score, n_terms
        FROM ranked WHERE rnk <= $TopK
        ORDER BY query_id, rnk"""),
      doc = "BM25 top-k retrieval (Lucene idf form): query terms broadcast " +
        "and prune the corpus BEFORE the one postings shuffle; df/avgdl " +
        "are term-/scalar-bounded broadcasts; rounded-ln DECIMAL sums."),

    // ── PMI collocation extraction (Church & Hanks 1990) ─────────────
    // Pointwise mutual information over adjacent-token pairs: the
    // multi-word-expression miner a tokenizer/vocab curation pass runs
    // before choosing merge candidates. PMI(a,b) =
    // ln(c_ab·N² / (P·c_a·c_b)) with unordered pairs (least/greatest
    // normalization), a min-count floor, and a global top-k.
    // Shape: ONE (pair) count shuffle over the corpus bigrams; the
    // unigram table is vocab-bounded and broadcast; N/P are one scalar
    // agg; the top-k is TakeOrdered — no window, no second corpus pass.
    // Determinism: the inner ratio is pure double arithmetic with
    // identical association in both engines (CAST first — the integer
    // product c_ab·N² would overflow BIGINT), one ln rounded to 6 dp;
    // ties break on the pair text.
    QueryDef(
      "text_pmi_colloc",
      (s, dir) => {
        val tk = Corpus.toks(s, dir).filter(size(col("toks")) >= 2)
        val bg = tk.select(explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(least(toks[i], toks[i+1]) AS w1, " +
              "greatest(toks[i], toks[i+1]) AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val pairCnt = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= PmiMinCount)
        val uni = tk.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val tots = tk.agg(
          sum(size(col("toks"))).as("n_tok"),
          sum(size(col("toks")) - 1).as("n_pair"))
        pairCnt
          .join(broadcast(uni.select(col("tok").as("w1"), col("cu").as("ca"))), "w1")
          .join(broadcast(uni.select(col("tok").as("w2"), col("cu").as("cb"))), "w2")
          .crossJoin(broadcast(tots))
          .select(col("w1"), col("w2"), col("cab"),
            round(expr("ln(CAST(cab AS DOUBLE) * n_tok * n_tok " +
              "/ (CAST(n_pair AS DOUBLE) * ca * cb))"), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(PmiTopK)
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck()} WHERE len(toks) >= 2),
        bg AS (
          SELECT least(a, b) AS w1, greatest(a, b) AS w2 FROM (
            SELECT
              unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS a,
              unnest(list_transform(range(len(toks) - 1), i -> toks[i+2])) AS b
            FROM tk)),
        paircnt AS (
          SELECT w1, w2, count(*) AS cab FROM bg GROUP BY w1, w2
          HAVING count(*) >= $PmiMinCount),
        uni AS (
          SELECT tok, count(*) AS cu
          FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok),
        tots AS (
          SELECT sum(len(toks)) AS n_tok, sum(len(toks) - 1) AS n_pair FROM tk)
        SELECT p.w1, p.w2, p.cab,
          round(ln(CAST(p.cab AS DOUBLE) * n_tok * n_tok
            / (CAST(n_pair AS DOUBLE) * u1.cu * u2.cu)), 6) AS pmi
        FROM paircnt p
        JOIN uni u1 ON p.w1 = u1.tok
        JOIN uni u2 ON p.w2 = u2.tok
        CROSS JOIN tots
        ORDER BY pmi DESC, w1, w2
        LIMIT $PmiTopK"""),
      doc = "PMI collocations (Church & Hanks 1990): one pair-count " +
        "shuffle, broadcast unigram table, TakeOrdered top-k; the MWE " +
        "mining pass ahead of tokenizer merge selection.")
  )
}
