package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.util.AccumulatorV2

/** Batch ingest pipelines (SURVEY §2.1 S6, S7, S10).
  *
  * The reference's thread-pool + bounded-queue pipelining
  * (examples/ingest_parquet_to_mongo_bulk.py:144-157) is replaced by
  * Spark's task parallelism: `foreachPartition` runs one sink writer per
  * partition concurrently, and batching inside the partition bounds
  * memory exactly like `iter_batches(batch_size)` did. Metrics that the
  * reference collected per batch (rows/sec, write ms —
  * ingest_parquet_to_mongo_bulk.py:36-42) are Spark accumulators here so
  * they aggregate across executors; the per-batch DISTRIBUTION the
  * reference summarizes (median/avg/peak —
  * ingest_parquet_to_mongo_bulk.py:197-209) comes from a bounded
  * reservoir accumulator, so memory stays fixed no matter how many
  * batches a 100 TB run produces.
  *
  * Each row reaches the sink as a [[RowDoc]]: its values array over one
  * [[Fields]] index per partition, built from the field names captured
  * on the driver — the reference zips the names into each batch once
  * (ingest_parquet_to_mongo_bulk.py:70-96) instead of building a map
  * per row.
  */
object Ingest {

  /** Per-batch distribution summary, mirroring the reference's run report
    * (median/avg/peak rows-per-sec and write ms). avg/peak are exact
    * (streamed scalars); median comes from a bounded deterministic
    * reservoir of (rows, ms) batch observations.
    */
  final case class BatchDist(
      batches: Long,
      msAvg: Double, msMedian: Double, msPeak: Long,
      rpsAvg: Double, rpsMedian: Double, rpsPeak: Double)

  object BatchDist {
    val empty: BatchDist = BatchDist(0L, 0.0, 0.0, 0L, 0.0, 0.0, 0.0)
  }

  final case class Metrics(rows: Long, batches: Long, writeMs: Long,
      dist: BatchDist = BatchDist.empty) {
    def rowsPerSec: Double = if (writeMs == 0) 0.0 else rows * 1000.0 / writeMs
  }

  /** Accumulator over (rowsInBatch, writeMs) observations: exact
    * count/sum/max plus a fixed-capacity reservoir (Algorithm R with a
    * counter-hashed index instead of an RNG, so task retries that replay
    * the same observation sequence produce the same reservoir). Merge
    * allocates reservoir slots proportionally to each side's OBSERVED
    * batch count, so the sampled medians aren't biased toward small
    * partitions; avg/peak are exact scalars either way. Bounded memory:
    * a 100 TB ingest is millions of batches; this never holds more than
    * `capacity` of them.
    */
  final class BatchStatsAcc(capacity: Int = 2048)
      extends AccumulatorV2[(Long, Long), BatchDist] {
    private var count = 0L
    private var rowSum = 0L
    private var msSum = 0L
    private var msClampSum = 0L // Σ max(ms, 1): sub-ms batches count as 1 ms,
                                // the same clamp the per-batch rates use, so
                                // the time-weighted avg can't exceed the peak
    private var msMax = 0L
    private var rpsMax = 0.0
    private var sample = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    private def rps(v: (Long, Long)): Double = v._1 * 1000.0 / math.max(v._2, 1L)

    private def mix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    override def isZero: Boolean = count == 0
    override def reset(): Unit = {
      count = 0L; rowSum = 0L; msSum = 0L; msClampSum = 0L; msMax = 0L; rpsMax = 0.0
      sample = scala.collection.mutable.ArrayBuffer.empty
    }
    override def copy(): BatchStatsAcc = {
      val a = new BatchStatsAcc(capacity)
      a.count = count; a.rowSum = rowSum; a.msSum = msSum
      a.msClampSum = msClampSum
      a.msMax = msMax; a.rpsMax = rpsMax; a.sample = sample.clone()
      a
    }

    override def add(v: (Long, Long)): Unit = {
      count += 1; rowSum += v._1; msSum += v._2
      msClampSum += math.max(v._2, 1L)
      msMax = math.max(msMax, v._2); rpsMax = math.max(rpsMax, rps(v))
      if (sample.size < capacity) sample += v
      else {
        val j = math.floorMod(mix(count), count)
        if (j < capacity) sample(j.toInt) = v
      }
    }

    override def merge(other: AccumulatorV2[(Long, Long), BatchDist]): Unit =
      other match {
        case o: BatchStatsAcc =>
          val selfCount = count
          count += o.count; rowSum += o.rowSum; msSum += o.msSum
          msClampSum += o.msClampSum
          msMax = math.max(msMax, o.msMax); rpsMax = math.max(rpsMax, o.rpsMax)
          if (sample.size + o.sample.size <= capacity) sample ++= o.sample
          else {
            // Proportional thinning: each side's slots track its share of
            // OBSERVED batches, not its reservoir size — a saturated
            // 1M-batch reservoir must outweigh a 10-batch one, or medians
            // skew toward whichever partition happened to be small.
            // Selection within a side is by hashed rank (deterministic
            // given the same merge sequence; Spark's task-completion
            // order can still vary the final sample run to run — the
            // scalar fields, avg and peak, are exact regardless).
            val total = math.max(selfCount + o.count, 1L)
            val kSelfRaw = ((capacity.toLong * selfCount + total / 2) / total).toInt
            val kSelf = math.min(sample.size, math.max(kSelfRaw,
              capacity - o.sample.size)) // redistribute slots a side can't fill
            val kOther = capacity - kSelf
            def thin(buf: scala.collection.mutable.ArrayBuffer[(Long, Long)], k: Int) =
              if (buf.size <= k) buf
              else buf.zipWithIndex.sortBy { case (_, i) => mix(i.toLong) }
                .take(k).map(_._1)
            sample = thin(sample, kSelf) ++ thin(o.sample, kOther)
          }
        case _ => throw new UnsupportedOperationException("mismatched accumulator")
      }

    override def value: BatchDist = {
      if (count == 0) return BatchDist.empty
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.isEmpty) 0.0
        else if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
      BatchDist(
        batches = count,
        msAvg = msSum.toDouble / count,
        msMedian = median(sample.map(_._2.toDouble).toSeq),
        msPeak = msMax,
        rpsAvg = rowSum * 1000.0 / math.max(msClampSum, 1L),
        rpsMedian = median(sample.map(rps).toSeq),
        rpsPeak = rpsMax)
    }
  }

  /** S6: batched insert. `dryRun` mirrors the reference's preview mode
    * (prints ≤5 docs, no writes — ingest_parquet_to_mongo.py:83-89).
    */
  def ingest(df: DataFrame, sinkName: String, batchSize: Int = 1000,
      dryRun: Boolean = false): Metrics = {
    if (dryRun) {
      df.show(5, truncate = false)
      return Metrics(df.count(), 0, 0)
    }
    val sc = df.sparkSession.sparkContext
    val rowsAcc = sc.longAccumulator("ingest.rows")
    val batchAcc = sc.longAccumulator("ingest.batches")
    val msAcc = sc.longAccumulator("ingest.writeMs")
    val statsAcc = new BatchStatsAcc()
    sc.register(statsAcc, "ingest.batchStats")
    val names = df.schema.fieldNames
    df.foreachPartition { it: Iterator[Row] =>
      val sink = InMemorySink(sinkName)
      val fields = new Fields(names)
      it.grouped(batchSize).foreach { batch =>
        val t0 = System.nanoTime()
        val n = sink.insertMany(batch.map(RowDoc.fromRow(fields, _)))
        val ms = (System.nanoTime() - t0) / 1000000L
        msAcc.add(ms)
        rowsAcc.add(n.toLong)
        batchAcc.add(1L)
        statsAcc.add((n.toLong, ms))
      }
    }
    Metrics(rowsAcc.value, batchAcc.value, msAcc.value, statsAcc.value)
  }

  /** S7: idempotent keyed upsert — rerunning the same ingest leaves the
    * store unchanged, which is why the reference offers `--upsert` as its
    * retry-safety story (README.md:102).
    */
  def bulkUpsert(df: DataFrame, sinkName: String, pk: Seq[String],
      batchSize: Int = 10000): Metrics = {
    val sc = df.sparkSession.sparkContext
    val rowsAcc = sc.longAccumulator("upsert.rows")
    val batchAcc = sc.longAccumulator("upsert.batches")
    val msAcc = sc.longAccumulator("upsert.writeMs")
    val statsAcc = new BatchStatsAcc()
    sc.register(statsAcc, "upsert.batchStats")
    val names = df.schema.fieldNames
    df.foreachPartition { it: Iterator[Row] =>
      val sink = InMemorySink(sinkName)
      val fields = new Fields(names)
      it.grouped(batchSize).foreach { batch =>
        val t0 = System.nanoTime()
        val (ins, repl) = sink.bulkUpsert(pk, batch.map(RowDoc.fromRow(fields, _)))
        val ms = (System.nanoTime() - t0) / 1000000L
        msAcc.add(ms)
        rowsAcc.add((ins + repl).toLong)
        batchAcc.add(1L)
        statsAcc.add(((ins + repl).toLong, ms))
      }
    }
    Metrics(rowsAcc.value, batchAcc.value, msAcc.value, statsAcc.value)
  }

  /** Human-readable run summary in the reference's report shape
    * (ingest_parquet_to_mongo_bulk.py:230-240).
    */
  def summary(m: Metrics): String = {
    val d = m.dist
    f"rows=${m.rows} batches=${m.batches} writeMs=${m.writeMs} " +
      f"rows/sec(avg=${d.rpsAvg}%.0f median=${d.rpsMedian}%.0f peak=${d.rpsPeak}%.0f) " +
      f"batchMs(avg=${d.msAvg}%.1f median=${d.msMedian}%.1f peak=${d.msPeak})"
  }
}
