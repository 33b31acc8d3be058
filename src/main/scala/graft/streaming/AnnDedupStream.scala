package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.queries.{Corpus, DedupQueries}

/** One emitted per-bucket candidate: arriving `vecId` matched the
  * earlier-arrived resident `dupOf` (exact cosine ≥ τ, `cosine` is the
  * verified value). The per-vector verdict is min(struct(dupOf,
  * cosine)) over a vector's bucket emissions — reduced downstream.
  */
case class AnnMatch(vecId: Long, dupOf: Long, cosine: Double)

/** Internal row shape entering the stateful operator: one row per
  * (vector, table, probe mask). `home` marks the mask-0 row — the only
  * row that INSERTS; the rest only query their bucket's residents.
  */
case class AnnProbeRow(bucket: Long, vecId: Long, home: Boolean,
    v: Array[Double], nrm: Double)

/** Bucket-resident payload: the full vector rides into state so the
  * τ-verify is exact and bucket-local (the index a production ANN-dedup
  * service keeps: bucket → {id, vector}).
  */
case class AnnResident(v: Array[Double], nrm: Double)

/** ST27 — streaming sign-LSH embedding-ANN dedup: the online
  * counterpart of `dedup_embedding_ann_scaled` (D5b) the way ST15
  * (`DocumentStreams.incrementalDedup`) is the online counterpart of
  * the minhash family — "is THIS arriving embedding a near-dup of
  * anything already accepted", without rescanning the corpus per batch.
  *
  * Design: corpus-resident state is keyed by (table, signature) bucket
  * and holds each resident's full vector (norm precomputed). An
  * arriving vector computes its `AnnTables` scaled-width signatures as
  * narrow columns (the EXACT expressions of the batch pipeline —
  * `DedupQueries.annSigCol`, shared by construction), explodes to its
  * radius-`AnnProbeRadius` Hamming ball per table (the batch
  * `probeMasks`), and each probed bucket compares the arrival against
  * its residents with an EXACT cosine — emitting the smallest-id
  * τ-passing match. Only the mask-0 (home) row inserts, so a pair
  * within Hamming ≤ radius in ≥1 table meets in the earlier vector's
  * home bucket — the same candidate rule as the batch pair join.
  * Per-bucket residency is bounded by LSH bucket load (~1 at the
  * bits ~ log2 n width rule), so `handleInputRows` stays
  * O(batch × load) and state grows linearly with ACCEPTED corpus size
  * — the index size. At 100 TB the knobs are the batch row's: width
  * follows log2 n, tables/probes buy recall at fixed cost.
  *
  * The batch twin (`st_incremental_ann`, DuckDB oracle
  * `annIncrementalDuckSql`) declares the semantics with arrival order
  * := vec_id order; StreamingAnnDedupSpec pins stream ≡ twin across
  * single-batch, multi-file ordered replay (earlier vectors only in
  * RocksDB state), and a checkpoint stop/restart.
  *
  * Reference scope: [EXT] — the reference's streaming surface is a
  * thread-pooled Mongo ingest (examples/ingest_parquet_to_mongo_stream
  * .py:130-160); this is the LLM-pipeline crossover (SURVEY §2.7).
  */
object AnnDedupStream {

  /** The declared production config — identical to
    * dedup_embedding_ann_scaled so the twin differs in exactly one
    * axis: arrival-order verdicts instead of the full pair set.
    */
  val Bits: Int = DedupQueries.AnnScaledBits
  val Tables: Int = DedupQueries.AnnTables
  val Radius: Int = DedupQueries.AnnProbeRadius
  val Tau: Double = DedupQueries.CosineTau

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Micro-batch file stream over a directory of embeddings parquet. */
  def readEmbeddings(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(embeddingsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** (bucket, vecId, home, v, nrm) — one row per (vector, table, probe
    * mask). All narrow expressions: works identically on a batch or
    * streaming DataFrame, which is what makes the batch twin an honest
    * oracle. Bucket keys fold the table index in as t·(mask+1) (tables
    * never cross-match — the batch pipeline's convention).
    *
    * `sigBits` is the width the hyperplane signature is COMPUTED at;
    * `bits` is the width the bucket key is MASKED to. The fixed-width
    * config runs sigBits = bits = AnnScaledBits; the auto-width config
    * (the D5d substrate) computes at Round16Queries.AnnAutoMaxBits and
    * masks to the corpus-derived width, so its bucket keys are
    * bit-identical to `annAutoPairs`' by construction (masking a
    * MaxBits signature to width w IS the w-wide index — its first w
    * hyperplanes).
    */
  def probeRows(vecs: DataFrame, sigBits: Int = Bits, bits: Int = Bits,
      tables: Int = Tables, radius: Int = Radius): DataFrame = {
    require(bits <= sigBits,
      s"mask width $bits exceeds computed signature width $sigBits")
    val masks = DedupQueries.probeMasks(bits, radius)
    val mask = (1L << bits) - 1L
    // signatures land in COLUMNS first (one dot-product chain per
    // table), then the ball explodes as cheap xors of those columns —
    // referencing the sig EXPRESSION per mask would inline the 12-term
    // 64-dim dot chain 211× per table into one giant non-codegen tree
    // (measured: the first draft ran minutes per micro-batch)
    val base = (0 until tables).foldLeft(Corpus.nvecsOf(vecs)) { (df, t) =>
      df.withColumn(s"sig_$t",
        DedupQueries.annSigCol(t, sigBits).bitwiseAND(lit(mask)))
    }
    val probes = (0 until tables).flatMap { t =>
      masks.map { m =>
        struct(
          (col(s"sig_$t").bitwiseXOR(lit(m)) +
            lit(t.toLong * (mask + 1L))).as("bucket"),
          lit(m == 0L).as("home"))
      }
    }
    base
      .withColumn("p", explode(array(probes: _*)))
      .select(col("p.bucket").as("bucket"), col("vec_id").as("vecId"),
        col("p.home").as("home"), col("v"), col("nrm"))
  }

  /** Per-bucket state machine: MapState holds resident vectors. Rows
    * are processed in vecId order within the batch so same-batch
    * earlier vectors are visible — with arrival order = vec_id order
    * this makes the stream's verdict a pure function of the vector
    * set, not the batching. A resident with a LARGER vec_id
    * (out-of-order arrival across micro-batches) never matches — same
    * doc_id-rank semantics as ST15/ST16.
    */
  class AnnIndexProcessor(tau: Double = Tau)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AnnProbeRow, AnnMatch] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var residents: MapState[Long, AnnResident] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      residents = getHandle.getMapState[Long, AnnResident]("ann_bucket",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[AnnResident], TTLConfig.NONE)

    /** Same arithmetic as the batch round(VectorOps.cosine, 6): a
      * sequential index-order dot (DotProduct's codegen loop), one
      * division by the norm product, HALF_UP at 6 dp.
      */
    private def cosine6(a: AnnResident, v: Array[Double], nrm: Double): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.v.length && i < v.length) { acc += a.v(i) * v(i); i += 1 }
      java.math.BigDecimal.valueOf(acc / (a.nrm * nrm))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }

    override def handleInputRows(key: Long, rows: Iterator[AnnProbeRow],
        timerValues: TimerValues): Iterator[AnnMatch] = {
      val out = scala.collection.mutable.ArrayBuffer[AnnMatch]()
      rows.toSeq.sortBy(_.vecId).foreach { r =>
        var best = -1L
        var bestCos = 0.0
        residents.iterator().foreach { case (idA, res) =>
          if (idA < r.vecId && (best < 0 || idA < best)) {
            val c = cosine6(res, r.v, r.nrm)
            if (c >= tau) { best = idA; bestCos = c }
          }
        }
        if (best >= 0) out += AnnMatch(r.vecId, best, bestCos)
        if (r.home) residents.updateValue(r.vecId, AnnResident(r.v, r.nrm))
      }
      out.iterator
    }
  }

  /** The streaming pipeline: probe rows → per-bucket stateful
    * compare-and-insert. Emits per-bucket candidates; the per-vector
    * verdict is min(struct(dupOf, cosine)) over buckets (dupOf is the
    * semantic key; cosine is a function of the pair, so the struct min
    * is deterministic).
    */
  def incrementalAnnDedup(vecs: DataFrame, sigBits: Int = Bits,
      bits: Int = Bits, tables: Int = Tables, radius: Int = Radius,
      tau: Double = Tau): Dataset[AnnMatch] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    probeRows(vecs, sigBits, bits, tables, radius)
      .as[AnnProbeRow]
      .groupByKey(_.bucket)
      .transformWithState(new AnnIndexProcessor(tau), TimeMode.None(),
        OutputMode.Append())
  }
}
