package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Round-11 batch 5: LM depth + dedup economics —
  *
  *  - TRIGRAM Stupid-Backoff scoring (Brants et al. 2007, "Large
  *    Language Models in Machine Translation" §3): the full two-level
  *    backoff recursion S(w3|w1w2) → α·S(w3|w2) → α²·S(w3) that the
  *    paper ships, next to the existing bigram pair (T10/`text_lm_
  *    backoff`) — same held-out posture, same broadcast-table plan;
  *  - SoftDeDup duplicate down-WEIGHTING: instead of dropping
  *    near-duplicates, assign every document sampling weight
  *    1/|cluster| so each duplicate cluster contributes exactly one
  *    document's worth of probability mass (the soft alternative to
  *    hard dedup used when duplicates carry signal, e.g. quality
  *    co-occurrence; cf. SlimPajama-DC's per-cluster budgets) —
  *    composes the LSH pair graph + connected components the hard path
  *    (`dedup_cluster_cc` / `pipe_curate_cc`) already builds.
  *
  * Reference scope note: alxmancilla/parquet-demo has no analytics
  * surface (src/parquet_demo/io.py:21-66 is type coercion + ETL
  * batching); this file is [EXT] like all of SURVEY §2.7.
  *
  * Determinism: every probability is a CASE of single divisions of
  * exact integer counts (identical expression text both engines), ln
  * rounded to 9 dp then summed as exact DECIMAL; weights are ONE
  * division rounded to 6.
  */
object Round11eQueries {

  /** Stupid-Backoff discount (the paper's α = 0.4; α² = 0.16 written
    * literally so both engines parse the identical constant). */
  val SbAlpha = "0.4"
  val SbAlpha2 = "0.16"

  /** The two-level Stupid-Backoff score, shared expression text.
    *   ct   = c(w1,w2,w3)   trigram count (NULL when unseen)
    *   cb12 = c(w1,w2)      bigram context (NULL when unseen — but
    *                        always present when ct is)
    *   cb23 = c(w2,w3)      backoff bigram
    *   c1w2 = c(w2), c1w3 = c(w3)   unigram counts
    *   nn   = train tokens, vv = train vocab
    * The unigram floor adds one over (nn + vv) so an unseen w3 scores
    * finitely (the same log-safe floor as text_lm_kneser_ney; Brants
    * leaves unseen words at 0, which has no logarithm). */
  private val sbProbExpr =
    s"""CASE WHEN ct IS NOT NULL THEN CAST(ct AS DOUBLE) / cb12
            WHEN cb23 IS NOT NULL THEN $SbAlpha * CAST(cb23 AS DOUBLE) / c1w2
            ELSE $SbAlpha2 * CAST(COALESCE(c1w3, 0) + 1 AS DOUBLE) / (nn + vv) END"""

  /** Shared oracle for both trigram-LM layouts (broadcast + sharded):
    * identical scores by construction, so one SQL serves both. */
  private val trigramOracleSql =
    s"""WITH tk AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck()} WHERE len(toks) >= 3),
        tg AS (
          SELECT doc_id, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2,
            toks[u.i + 3] AS w3
          FROM tk, unnest(range(0, len(toks) - 2)) u(i)),
        tri AS (
          SELECT w1, w2, w3, count(*) AS ct FROM tg
          WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3),
        tk2 AS (
          SELECT doc_id, toks FROM ${Corpus.toksDuck()}
          WHERE len(toks) >= 2 AND doc_id % 2 = 0),
        bg AS (
          SELECT toks[u.i + 1] AS wa, toks[u.i + 2] AS wb
          FROM tk2, unnest(range(0, len(toks) - 1)) u(i)),
        big AS (SELECT wa, wb, count(*) AS cb FROM bg GROUP BY wa, wb),
        uni AS (
          SELECT u.w AS w, count(*) AS c1
          FROM tk2, unnest(toks) u(w) GROUP BY u.w),
        scal AS (SELECT sum(c1) AS nn, count(*) AS vv FROM uni),
        sc AS (
          SELECT g.doc_id,
            CAST(round(ln($sbProbExpr), 9) AS DECIMAL(28,9)) AS lp
          FROM tg g
          LEFT JOIN tri USING (w1, w2, w3)
          LEFT JOIN (SELECT wa AS w1, wb AS w2, cb AS cb12 FROM big) b12 USING (w1, w2)
          LEFT JOIN (SELECT wa AS w2, wb AS w3, cb AS cb23 FROM big) b23 USING (w2, w3)
          LEFT JOIN (SELECT w AS w2, c1 AS c1w2 FROM uni) u2 USING (w2)
          LEFT JOIN (SELECT w AS w3, c1 AS c1w3 FROM uni) u3 USING (w3)
          CROSS JOIN scal)
        SELECT doc_id,
          round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob,
          count(*) AS n_trigrams,
          doc_id % 2 = 0 AS trained_on
        FROM sc GROUP BY doc_id ORDER BY doc_id"""

  val defs: Seq[QueryDef] = Seq(

    // ── trigram Stupid-Backoff LM (Brants 2007, full recursion) ──────
    // Trained HELD-OUT on even doc_ids. Count tables: trigrams from one
    // train explode; bigrams + unigrams from one more (a doc's final
    // bigram/token has no trigram, so deriving lower orders from the
    // trigram rollup would undercount — the separate explode keeps the
    // paper's own count semantics). All tables are n-gram-type-bounded
    // (Heaps' law) and BROADCAST; the scoring corpus pays ONE trigram
    // explode + ONE doc rollup, exactly the T10 plan shape — and the
    // w1-sharded serving layout of text_lm_backoff_sharded applies
    // verbatim when the trigram table outgrows broadcast (shard on the
    // (w1,w2) context prefix).
    QueryDef(
      "text_lm_trigram_backoff",
      (s, dir) => {
        val tk3 = Corpus.toks(s, dir).filter(size(col("toks")) >= 3)
        val tg = tk3.select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))")).as("t"))
          .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
            col("t.w3").as("w3"))
        val train3 = tg.filter(expr("doc_id % 2 = 0"))
        val triCnt = train3.groupBy(col("w1"), col("w2"), col("w3"))
          .agg(count(lit(1)).as("ct"))
        // lower orders from their own train explode (paper semantics)
        val tk2 = Corpus.toks(s, dir)
          .filter(expr("doc_id % 2 = 0") && size(col("toks")) >= 2)
        val bg = tk2.select(explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(toks[i] AS wa, toks[i+1] AS wb))")).as("b"))
          .select(col("b.wa").as("wa"), col("b.wb").as("wb"))
        val bigCnt = bg.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cb"))
        val uni = tk2.select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val scal = uni.agg(sum(col("c1")).as("nn"), count(lit(1)).as("vv"))
        tg
          .join(broadcast(triCnt), Seq("w1", "w2", "w3"), "left")
          .join(broadcast(bigCnt.toDF("w1", "w2", "cb12")), Seq("w1", "w2"), "left")
          .join(broadcast(bigCnt.toDF("w2", "w3", "cb23")), Seq("w2", "w3"), "left")
          .join(broadcast(uni.toDF("w2", "c1w2")), Seq("w2"), "left")
          .join(broadcast(uni.toDF("w3", "c1w3")), Seq("w3"), "left")
          .crossJoin(broadcast(scal))
          .withColumn("lp", round(log(expr(sbProbExpr)), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("lp")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_logprob"),
            count(lit(1)).as("n_trigrams"))
          .withColumn("trained_on", expr("doc_id % 2 = 0"))
          .orderBy(col("doc_id"))
      },
      Some(trigramOracleSql),
      doc = "Held-out trigram Stupid-Backoff (Brants 2007, α=0.4 full " +
        "recursion, add-one unigram floor): n-gram tables broadcast, one " +
        "corpus trigram explode + one doc rollup; " +
        "text_lm_trigram_backoff_sharded is the 100 TB serving layout."),

    // ── Brants 2007 context-sharded serving layout, trigram form ─────
    // Trigram-TYPE counts grow far faster than bigram types (Heaps'
    // law compounds per order), so the trigram table is the first to
    // outgrow broadcast. The paper's layout shards n-grams by their
    // CONTEXT PREFIX: looking up c(w1,w2,w3) and its context count
    // c(w1,w2) both land on the (w1,w2) shard. Here the corpus trigram
    // stream repartitions ONCE on (w1,w2); the trigram rollup and the
    // context bigram table arrive already (w1,w2)-partitioned from
    // their own groupBys (ClusteredDistribution on the (w1,w2) subset)
    // and shuffle-hash-join into that one layout — no re-exchange, no
    // broadcast of the trigram table. Only the bigram-BACKOFF table
    // c(w2,w3) (keyed off-prefix, bigram-type-bounded), the unigram
    // tables, and the 1-row total replicate — exactly the paper's
    // shard-replicated piece. Scores bit-identical to the broadcast
    // form (every probability the same CASE of the same exact integer
    // counts): shared oracle, Round11eSpec pins the equality and the
    // shuffle-hash plan.
    QueryDef(
      "text_lm_trigram_backoff_sharded",
      (s, dir) => {
        val tk3 = Corpus.toks(s, dir).filter(size(col("toks")) >= 3)
        val tgRaw = tk3.select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks) - 3), " +
              "i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))")).as("t"))
          .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
            col("t.w3").as("w3"))
        // Pinned partition count: a bare repartition(cols) is
        // AQE-optimizable (coalesced reads lose co-partition
        // compatibility and the stream re-exchanges per join —
        // observed on the fixture); REPARTITION_BY_NUM is left
        // alone, but the count itself is size-derived (round 21:
        // Layouts.scaledParallelism — the cluster cap binds at scale,
        // tiny corpora stop fanning every map task into
        // shuffle.partitions block files). With both shard joins keyed
        // on exactly (w1,w2) (see trig3 below) this one exchange fully
        // satisfies both joins' distributions — no EnsureRequirements
        // re-exchange.
        val tg = tgRaw.repartition(
          graft.operators.Layouts.scaledParallelism(tgRaw),
          col("w1"), col("w2"))
        val train3 = tg.filter(expr("doc_id % 2 = 0"))
        // The shard ROW is the paper's actual store layout: one row per
        // (w1,w2) CONTEXT carrying its continuation distribution as a
        // w3 → count map (collect_list order washes out in the map).
        // Keying the shard table by the context prefix — not the full
        // trigram — makes BOTH shard joins exact-(w1,w2) equi-joins, so
        // with every input already (w1,w2)-partitioned (the cached
        // stream by its pinned repartition; both rollups by subset
        // satisfaction over it / their own groupBy) EnsureRequirements
        // inserts NO further exchange: Spark's conservative
        // requireAllClusterKeysForCoPartition=true default would have
        // re-exchanged the stream for a 3-key trigram join.
        val trig3 = train3.groupBy(col("w1"), col("w2"), col("w3"))
          .agg(count(lit(1)).as("ct"))
          .groupBy(col("w1"), col("w2"))
          .agg(map_from_entries(collect_list(struct(col("w3"), col("ct"))))
            .as("w3map"))
        val tk2 = Corpus.toks(s, dir)
          .filter(expr("doc_id % 2 = 0") && size(col("toks")) >= 2)
        val bg = tk2.select(explode(expr(
            "transform(sequence(0, size(toks) - 2), " +
              "i -> struct(toks[i] AS wa, toks[i+1] AS wb))")).as("b"))
          .select(col("b.wa").as("wa"), col("b.wb").as("wb"))
        val bigCnt = bg.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cb"))
        val uni = tk2.select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val scal = uni.agg(sum(col("c1")).as("nn"), count(lit(1)).as("vv"))
        tg
          .join(trig3.hint("shuffle_hash"), Seq("w1", "w2"), "left")
          .join(bigCnt.toDF("w1", "w2", "cb12").hint("shuffle_hash"),
            Seq("w1", "w2"), "left")
          .withColumn("ct", element_at(col("w3map"), col("w3")))
          .join(broadcast(bigCnt.toDF("w2", "w3", "cb23")), Seq("w2", "w3"), "left")
          .join(broadcast(uni.toDF("w2", "c1w2")), Seq("w2"), "left")
          .join(broadcast(uni.toDF("w3", "c1w3")), Seq("w3"), "left")
          .crossJoin(broadcast(scal))
          .withColumn("lp", round(log(expr(sbProbExpr)), 9).cast(DecimalType(28, 9)))
          .groupBy(col("doc_id"))
          .agg(
            round(sum(col("lp")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_logprob"),
            count(lit(1)).as("n_trigrams"))
          .withColumn("trained_on", expr("doc_id % 2 = 0"))
          .orderBy(col("doc_id"))
      },
      Some(trigramOracleSql),
      doc = "Trigram Stupid-Backoff through the Brants 2007 context-" +
        "sharded serving layout: corpus trigrams repartition once on the " +
        "(w1,w2) prefix; trigram and context-count lookups are shuffle-" +
        "hash joins into that layout (no broadcast of the trigram table); " +
        "only the off-prefix backoff/unigram tables replicate. Scores " +
        "identical to text_lm_trigram_backoff."),

    // ── SoftDeDup: duplicate down-weighting ──────────────────────────
    // The soft alternative to dropping near-duplicates: every document
    // in an LSH/CC duplicate cluster gets sampling weight 1/|cluster|,
    // so the cluster contributes exactly one document's probability
    // mass; singletons keep weight 1. Reuses the pair graph + min-label
    // propagation the hard path already builds (DedupQueries.clusterCc).
    // The cluster table is true-dup-sized on a dup-light corpus, but a
    // boilerplate-heavy crawl makes it CORPUS-scale — so no hard
    // broadcast() hint here: AQE broadcasts when the table is small and
    // degrades to a plain keyed shuffle join when it is not, instead of
    // an OOM (SoftDedupAdversarialSpec plants exactly that corpus-scale
    // cluster table). eff_chars = n_chars·weight is the per-doc
    // contribution to the effective dataset size.
    QueryDef(
      "pipe_soft_dedup",
      (s, dir) => {
        val cc = DedupQueries.clusterCc(s, dir)
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .join(cc, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
          .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
          .withColumn("eff_chars", round(col("n_chars") * col("weight"), 6))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            col("weight"), col("eff_chars"))
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
          siz AS (
            SELECT doc_id, cluster_id,
              count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM lbl)
        SELECT d.doc_id,
          COALESCE(s.cluster_id, d.doc_id) AS cluster_id,
          COALESCE(s.cluster_size, 1) AS cluster_size,
          round(1.0 / COALESCE(s.cluster_size, 1), 6) AS weight,
          round(d.n_chars * round(1.0 / COALESCE(s.cluster_size, 1), 6), 6) AS eff_chars
        FROM documents d LEFT JOIN siz s USING (doc_id)
        ORDER BY d.doc_id"""),
      doc = "SoftDeDup: 1/|cluster| sampling weights over the LSH+CC " +
        "duplicate clusters (reused from the hard path), singletons keep " +
        "weight 1; the cluster table joins one corpus pass with AQE free " +
        "to broadcast when dup-sized and shuffle when corpus-scale.")
  )
}
