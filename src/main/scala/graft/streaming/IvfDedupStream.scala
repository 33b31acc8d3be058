package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ST28 — streaming embedding-ANN dedup over the TRAINED IVF index:
  * the round-19 measured serving conclusion ("sampling doesn't preserve
  * mid-cosine recall, TRAINING does") applied to the online dedup
  * service. The quantizer is trained OFFLINE (a batch Lloyd job —
  * `KnnGraphQueries.trainedCentArray` — refreshed by a re-index event as
  * the accepted corpus grows, the same posture as the auto-width
  * re-index note on ST27b) and rides into the stream as a STATIC 1-row
  * broadcast centroid array; an arriving vector computes its
  * `nprobe` nearest cells in ONE compiled `pq_argmin_k` pass, queries
  * the residents of every probed cell with an EXACT cosine, and
  * inserts at its home cell (cells[0] — the argmin). Candidate rule,
  * therefore: a pair is found iff the earlier vector's HOME cell is
  * among the later arrival's PROBED cells — exactly the declared batch
  * twin `st_incremental_ann_ivf`.
  *
  * Everything downstream of candidate generation — the per-bucket
  * MapState compare-and-insert processor and the min-verdict reduction
  * — is [[AnnDedupStream.AnnIndexProcessor]] REUSED VERBATIM: the two
  * online indexes differ in exactly the index structure (LSH buckets
  * vs trained cells), which is the comparison the batch recall audits
  * price. Per-cell residency is ~n/K at the K ~ √n sizing, so
  * `handleInputRows` stays O(batch × cell load) and state is the
  * accepted-index size.
  *
  * RE-INDEX CONTRACT (round 20 — the declared state bound): state
  * LIFETIME is one quantizer generation. Cell ids are positions in a
  * specific centroid array, so a refreshed quantizer makes old state
  * meaningless by construction — the re-index event (an offline Lloyd
  * retrain over the accepted corpus) starts a FRESH query (new
  * checkpoint) that re-ingests the accepted corpus under the new
  * centroids and continues with new arrivals. Per-cell residency is
  * therefore bounded by the re-index cadence: ~n_since_refresh /
  * K_generation, and K is count-derived at each retrain (K = ⌈√n⌉
  * clamped), so the per-cell load re-levels at every refresh instead
  * of growing without bound past a fixed K. StreamingIvfDedupSpec's
  * re-index arm pins the contract: a generation-A stream (prefix-
  * trained quantizer over the accepted prefix) equals the prefix twin,
  * and the refresh path (full retrain + fresh checkpoint + re-ingest)
  * lands exactly on the declared full-corpus batch twin with zero
  * generation-A state leakage.
  *
  * Reference scope: [EXT] — the reference's streaming surface is a
  * thread-pooled Mongo ingest (examples/ingest_parquet_to_mongo_stream
  * .py:130-160); this is the LLM-pipeline crossover (SURVEY §2.7).
  */
object IvfDedupStream {

  /** (bucket = cell id, vecId, home, v, nrm) — one row per (vector,
    * probed cell), all narrow expressions over the stream-static
    * broadcast of the trained centroid array (works identically on a
    * batch or streaming DataFrame — what makes the batch twin an
    * honest oracle). The caller must have `pq_argmin_k` registered
    * (GraftFunctions.register).
    */
  def probeRows(vecs: DataFrame, centArray: DataFrame, nprobe: Int)
      : DataFrame = {
    graft.queries.Corpus.nvecsOf(vecs)
      .crossJoin(broadcast(centArray))
      .withColumn("cells", expr(s"pq_argmin_k(v, cents, $nprobe)"))
      .withColumn("p", explode(expr(
        """transform(cells, (c, i) ->
           struct(CAST(c AS BIGINT) AS bucket, i = 0 AS home))""")))
      .select(col("p.bucket").as("bucket"), col("vec_id").as("vecId"),
        col("p.home").as("home"), col("v"), col("nrm"))
  }

  /** The streaming pipeline: probe rows → the SHARED per-bucket
    * stateful compare-and-insert. Emits per-cell candidates; the
    * per-vector verdict is min(struct(dupOf, cosine)) over cells
    * (the AnnDedupStream reduction).
    */
  def incrementalIvfDedup(vecs: DataFrame, centArray: DataFrame,
      nprobe: Int = graft.queries.KnnGraphQueries.KnnIvfNprobe,
      tau: Double = graft.queries.DedupQueries.CosineTau)
      : Dataset[AnnMatch] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    probeRows(vecs, centArray, nprobe)
      .as[AnnProbeRow]
      .groupByKey(_.bucket)
      .transformWithState(new AnnDedupStream.AnnIndexProcessor(tau),
        TimeMode.None(), OutputMode.Append())
  }
}
