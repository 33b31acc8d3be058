package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST27: the streaming sign-LSH embedding-ANN dedup index must
  * reproduce its declared batch twin (`st_incremental_ann`,
  * DuckDB-oracled) bit-for-bit — in a single micro-batch, across a
  * multi-file ordered replay where earlier vectors live only in RocksDB
  * state, and across a checkpoint stop/restart (the DedupRecoverySpec
  * discipline for the embedding index).
  */
object StreamingAnnDedupSpec {
  val emitted = new ConcurrentLinkedQueue[(Long, Long, Double)]()
  val batches = new ConcurrentLinkedQueue[Long]()
}

class StreamingAnnDedupSpec extends SparkSpec {

  /** The sf0.01 embeddings fixture (same 500-row table shape as
    * sf0.001, different draws): the scaled-width config finds 7 τ-pairs
    * here — 4 of them crossing the 170-boundary the replay files split
    * on — where the sf0.001 draw has none, which would make every
    * convergence assertion vacuous.
    */
  private val fixture = sf("sf0.01")

  /** Per-vector verdict from per-bucket emissions: min(struct(dupOf,
    * cosine)) — dupOf is the semantic key; cosine is a function of the
    * pair, so the struct min is deterministic.
    */
  private def reduceVerdict(perBucket: DataFrame): DataFrame =
    perBucket.groupBy(col("vecId"))
      .agg(min(struct(col("dupOf"), col("cosine"))).as("m"))
      .select(col("vecId").as("vec_id"), col("m.dupOf").as("dup_of"),
        col("m.cosine").as("cosine"))

  private def batchDups(): DataFrame =
    graft.SparkEntry.queries("st_incremental_ann")(spark, fixture)
      .filter(col("status") === "dup")
      .select(col("vec_id"), col("dup_of"), col("cosine"))

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = b.columns.sorted.map(col)
    val as = a.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    val bs = b.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    assert(as.length == bs.length, s"row count ${as.length} != ${bs.length}")
    assert(as.sameElements(bs))
  }

  /** Write a vec_id range of the fixture as one parquet chunk with a
    * strictly increasing mtime, so FileStreamSource replays
    * oldest-first, one file per trigger.
    */
  private def stage(inDir: String, lo: Long, hi: Long, i: Int): Unit = {
    val tmp = tmpDir(s"ann-stage-$i")
    graft.Tables.load(spark, fixture, "embeddings")
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = Files.list(Paths.get(tmp))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val dst = Paths.get(inDir, f"chunk$i%02d.parquet")
    Files.move(src, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  test("ST27 single-batch replay converges to the batch twin") {
    withRocksDb {
      val d = tmpDir("ann-stream-one")
      graft.Tables.load(spark, fixture, "embeddings")
        .coalesce(1).write.mode("overwrite").parquet(d)
      val got = EventStreams.runToMemoryAvailableNow(
        AnnDedupStream.incrementalAnnDedup(
          AnnDedupStream.readEmbeddings(spark, d)).toDF(),
        "conv_anndedup_one", "append")
      val dups = batchDups()
      assert(dups.count() > 0, "fixture must contain ANN dups")
      assertSameRows(reduceVerdict(got), dups)
    }
  }

  test("ST27 multi-batch ordered replay converges (earlier vectors only in state)") {
    withRocksDb {
      val d = tmpDir("ann-stream-multi")
      val ranges = Seq((Long.MinValue, 170L), (170L, 340L), (340L, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) => stage(d, lo, hi, i) }
      val got = EventStreams.runToMemoryAvailableNow(
        AnnDedupStream.incrementalAnnDedup(
          AnnDedupStream.readEmbeddings(spark, d, maxFilesPerTrigger = 1)).toDF(),
        "conv_anndedup_multi", "append")
      assertSameRows(reduceVerdict(got), batchDups())
    }
  }

  test("ST27b auto-width multi-batch replay converges to st_incremental_ann_auto") {
    withRocksDb {
      // the batch twin's in-plan width rule, replayed at spec-setup
      // time: bits = clamp(bitlen(n−1), KnnAutoMinBits, AnnAutoMaxBits)
      // — the deployment analogue is a width refresh as the accepted
      // index grows (one re-index event, not a per-dataset retune)
      val n = graft.Tables.load(spark, fixture, "embeddings").count()
      val bits = math.max(graft.queries.Round16Queries.KnnAutoMinBits,
        math.min(graft.queries.Round16Queries.AnnAutoMaxBits,
          64 - java.lang.Long.numberOfLeadingZeros(n - 1)))
      val d = tmpDir("ann-stream-auto")
      val ranges = Seq((Long.MinValue, 170L), (170L, 340L), (340L, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) => stage(d, lo, hi, i) }
      val got = EventStreams.runToMemoryAvailableNow(
        AnnDedupStream.incrementalAnnDedup(
          AnnDedupStream.readEmbeddings(spark, d, maxFilesPerTrigger = 1),
          sigBits = graft.queries.Round16Queries.AnnAutoMaxBits,
          bits = bits).toDF(),
        "conv_anndedup_auto", "append")
      val dups = graft.SparkEntry.queries("st_incremental_ann_auto")(spark, fixture)
        .filter(col("status") === "dup")
        .select(col("vec_id"), col("dup_of"), col("cosine"))
      assert(dups.count() > 0, "fixture must contain auto-width ANN dups")
      assertSameRows(reduceVerdict(got), dups)
    }
  }

  test("ST27 ANN index survives restart: recovered state serves later arrivals") {
    withRocksDb {
      val inDir = tmpDir("ann-ckpt-in")
      val ckpt = tmpDir("ann-ckpt-state")
      StreamingAnnDedupSpec.emitted.clear()
      StreamingAnnDedupSpec.batches.clear()

      def runOnce(): Unit = {
        val q = AnnDedupStream.incrementalAnnDedup(
          AnnDedupStream.readEmbeddings(spark, inDir, maxFilesPerTrigger = 1))
          .toDF()
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            StreamingAnnDedupSpec.batches.add(id)
            batch.collect().foreach { r =>
              StreamingAnnDedupSpec.emitted.add(
                (r.getLong(0), r.getLong(1), r.getDouble(2)))
            }
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }

      // phase 1: first vec_id range only
      stage(inDir, Long.MinValue, 170L, 0)
      runOnce()
      val phase1Batches = StreamingAnnDedupSpec.batches.size()
      assert(phase1Batches == 1,
        s"expected 1 micro-batch in phase 1, got $phase1Batches")

      // phase 2: two more ranges, SAME checkpoint — the restart must
      // read only the new files; phase-1 vectors exist solely in
      // RocksDB state
      stage(inDir, 170L, 340L, 1)
      stage(inDir, 340L, Long.MaxValue, 2)
      runOnce()
      val phase2Batches = StreamingAnnDedupSpec.batches.size() - phase1Batches
      assert(phase2Batches == 2,
        s"restart must process exactly the 2 new files, got $phase2Batches")

      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val got = reduceVerdict(StreamingAnnDedupSpec.emitted.asScala.toSeq
        .toDF("vecId", "dupOf", "cosine"))
      assertSameRows(got, batchDups())
      // cross-phase evidence: some phase-2 vector must have matched a
      // phase-1 resident through recovered state alone
      assert(got.filter(col("vec_id") >= 170 && col("dup_of") < 170).count() > 0,
        "no phase-2 vector matched a phase-1 resident — state recovery untested")
    }
  }
}
