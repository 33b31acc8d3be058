package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.{Corpus, DedupQueries}

/** One emitted per-band duplicate candidate: `docId` matched an
  * earlier-arrived `dupOf` in a shared LSH band bucket with `nMatch` of
  * the K minhash components equal.
  */
case class DupMatch(docId: Long, dupOf: Long, nMatch: Long)

/** Internal row shape entering the stateful operator. */
case class BandRow(bandKey: String, docId: Long, sig: String)

/** One emitted per-band soft-dedup assignment: at `docId`'s arrival its
  * bucket-local duplicate cluster (rooted at the FIRST-arrived member
  * `root`) had `k` members including this one, so the doc's RUNNING
  * sampling weight is 1/k — the online counterpart of batch
  * `pipe_soft_dedup`'s 1/|cluster| (the final arrival's weight equals
  * the batch weight; earlier members' weights are the running values
  * 1, 1/2, … an online index can actually know at ingest time).
  */
case class SoftAssign(docId: Long, root: Long, k: Long, weight: Double)

/** ST15 — streaming incremental near-dup dedup: the dedup INDEX as a
  * stateful stream. Batch dedup (dedup_minhash_lsh) answers "which pairs
  * in this corpus are near-dups"; an ingest pipeline needs the online
  * form — "is THIS arriving document a near-dup of anything already
  * accepted" — without rescanning the corpus per batch.
  *
  * Design: the corpus-resident state is keyed by LSH band bucket
  * (band_idx | band signature) and holds only minhash SIGNATURES, never
  * text or shingle sets — K×8 bytes per doc per band, the same index a
  * production dedup service keeps in its KV store. An arriving doc visits
  * its 8 buckets; each bucket compares the new signature against its
  * residents (estimated Jaccard = matching components / K) and emits the
  * smallest-id match ≥ the threshold. The per-doc verdict is the min over
  * its 8 bucket verdicts — reduced downstream (a second tiny stateful
  * stage in production; the convergence spec reduces it in the
  * assertion). Bucket residency is bounded by LSH bucket load (~1 at the
  * width rule), so `handleInputRows` stays O(batch × load), and state
  * grows linearly with ACCEPTED corpus size — exactly the index size.
  *
  * The batch twin (declared query `st_incremental_minhash`, DuckDB
  * oracle) replays the same semantics with arrival order := doc_id
  * order; StreamingDedupConvergenceSpec proves the stream reproduces it
  * bit-for-bit across multi-file micro-batch replays.
  *
  * Reference scope: [EXT] — the reference's streaming surface is a
  * thread-pooled Mongo ingest (examples/ingest_parquet_to_mongo_stream
  * .py:130-160) with no dedup; this is the LLM-pipeline crossover the
  * north star asks for.
  */
object DocumentStreams {

  /** Estimated-Jaccard acceptance: ≥ SigMatchMin of the K=32 minhash
    * components equal (16/32 ≈ Jaccard 0.5).
    */
  val SigMatchMin = 16

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Micro-batch file stream over a directory of documents parquet. */
  def readDocuments(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** (doc_id, sig, band_idx, band_sig) — shingle → K minhash components
    * (codegen'd MinHashSig, same constants as DedupQueries) → BANDS band
    * signatures. All narrow expressions: works identically on a batch or
    * streaming DataFrame, which is what makes the batch twin an honest
    * oracle.
    */
  def bandedSigs(docs: DataFrame): DataFrame = {
    import DedupQueries.{A, B, BANDS, P, ROWS}
    val sh = docs
      .select(col("doc_id"), Corpus.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
      .withColumn("hs", expr(
        s"transform(shingles, s -> ${Corpus.h60Spark("s")} % ${P}L)"))
    val sigCol = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftColumnBridge.expression(col("hs")), A, B, P))
    sh.withColumn("sig", sigCol)
      .select(col("doc_id"), col("sig"), posexplode(expr(
        s"transform(sequence(0, ${BANDS - 1}), b -> array_join(transform(slice(sig, b * $ROWS + 1, $ROWS), v -> cast(v as string)), '_'))"))
        .as(Seq("band_idx", "band_sig")))
  }

  /** Per-bucket state machine: MapState holds resident signatures
    * (docId → comma-joined components). Rows are processed in docId
    * order within the batch so same-batch earlier docs are visible —
    * with arrival order = docId order this makes the stream's verdict a
    * pure function of the doc set, not the batching.
    */
  class IncrementalMinhashProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandRow, DupMatch] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var sigs: MapState[Long, String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sigs = getHandle.getMapState[Long, String]("bucket_sigs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)

    private def matches(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var n = 0L
      while (i < a.length && i < b.length) { if (a(i) == b(i)) n += 1; i += 1 }
      n
    }

    override def handleInputRows(key: String, rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[DupMatch] = {
      val out = scala.collection.mutable.ArrayBuffer[DupMatch]()
      rows.toSeq.sortBy(_.docId).foreach { r =>
        val mySig = r.sig.split(',').map(_.toLong)
        var best = -1L
        var bestN = 0L
        sigs.iterator().foreach { case (docA, sigStr) =>
          if (docA < r.docId) {
            val n = matches(mySig, sigStr.split(',').map(_.toLong))
            if (n >= SigMatchMin && (best < 0 || docA < best)) {
              best = docA; bestN = n
            }
          }
        }
        if (best >= 0) out += DupMatch(r.docId, best, bestN)
        sigs.updateValue(r.docId, r.sig)
      }
      out.iterator
    }
  }

  /** Soft-dedup twin of [[IncrementalMinhashProcessor]]: alongside each
    * resident's signature the bucket stores its resolved cluster ROOT
    * (the first-arrived member), so an arriving doc inherits its best
    * match's root in O(1) and the bucket can count the root's current
    * membership — emitting the running 1/k weight at ingest time. Root
    * resolution is bucket-local (an arriving doc adopts the root its
    * match resolved when IT arrived), which equals the global transitive
    * cluster exactly when cluster members co-reside in their buckets —
    * the LSH design point (near-dups share bands by construction; exact
    * dups share ALL bands); the downstream per-doc verdict is the
    * min-root band with its max k. StreamingSoftDedupConvergenceSpec
    * pins stream ≡ running-rank semantics ≡ batch pipe_soft_dedup's
    * final weights on a planted cluster corpus, and multi-batch replay
    * ≡ single-batch (state-only visibility of earlier docs).
    */
  class IncrementalSoftDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandRow, SoftAssign] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var residents: MapState[Long, String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      residents = getHandle.getMapState[Long, String]("bucket_soft",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)

    private def matches(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var n = 0L
      while (i < a.length && i < b.length) { if (a(i) == b(i)) n += 1; i += 1 }
      n
    }

    override def handleInputRows(key: String, rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[SoftAssign] = {
      val out = scala.collection.mutable.ArrayBuffer[SoftAssign]()
      rows.toSeq.sortBy(_.docId).foreach { r =>
        val mySig = r.sig.split(',').map(_.toLong)
        var best = -1L
        var bestRoot = -1L
        val rootOf = scala.collection.mutable.HashMap[Long, Long]()
        residents.iterator().foreach { case (docA, stored) =>
          val sep = stored.indexOf('|')
          val rootA = stored.substring(0, sep).toLong
          rootOf(docA) = rootA
          if (docA < r.docId &&
              matches(mySig, stored.substring(sep + 1).split(',').map(_.toLong)) >= SigMatchMin &&
              (best < 0 || docA < best)) {
            best = docA; bestRoot = rootA
          }
        }
        val root = if (best >= 0) bestRoot else r.docId
        // same docA < docId guard as the best-match scan: a resident
        // with a LARGER doc_id (out-of-order arrival across
        // micro-batches) counts toward neither the match nor the
        // membership k, so weights are doc_id-rank semantics regardless
        // of arrival order
        val k = 1L + rootOf.iterator.count { case (docA, rt) =>
          docA < r.docId && rt == root }
        out += SoftAssign(r.docId, root, k, 1.0 / k)
        residents.updateValue(r.docId, s"$root|${r.sig}")
      }
      out.iterator
    }
  }

  /** Streaming SoftDeDup: banded signatures → per-bucket stateful
    * root-inherit-and-count. Emits per-band running assignments; the
    * per-doc verdict is the min-root band with its max k (weight 1/k).
    */
  def incrementalSoftDedup(docs: DataFrame): Dataset[SoftAssign] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedSigs(docs)
      .select(
        concat(col("band_idx").cast("string"), lit("|"), col("band_sig")).as("bandKey"),
        col("doc_id").as("docId"),
        array_join(expr("transform(sig, v -> cast(v as string))"), ",").as("sig"))
      .as[BandRow]
      .groupByKey(_.bandKey)
      .transformWithState(new IncrementalSoftDedupProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** The streaming pipeline: banded signatures → per-bucket stateful
    * compare-and-insert. Emits per-band candidates; the per-doc verdict
    * is min(struct(dupOf, nMatch)) over bands.
    */
  def incrementalDedup(docs: DataFrame): Dataset[DupMatch] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedSigs(docs)
      .select(
        concat(col("band_idx").cast("string"), lit("|"), col("band_sig")).as("bandKey"),
        col("doc_id").as("docId"),
        array_join(expr("transform(sig, v -> cast(v as string))"), ",").as("sig"))
      .as[BandRow]
      .groupByKey(_.bandKey)
      .transformWithState(new IncrementalMinhashProcessor, TimeMode.None(),
        OutputMode.Append())
  }
}
