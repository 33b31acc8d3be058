package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST15 durability: the streaming dedup INDEX must survive a stop/restart
  * — the RocksDB MapState (bucket → resident signatures) is the corpus
  * index, and a production ingest pipeline restarts constantly. Phase 2
  * resumes from the checkpoint: docs accepted before the restart must be
  * visible to later arrivals ONLY via recovered state (their files are
  * not re-read), and the union of emissions across both runs must reduce
  * to exactly the batch twin's verdicts.
  */
object DedupRecoverySpec {
  val emitted = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  val batches = new ConcurrentLinkedQueue[Long]()
}

class DedupRecoverySpec extends SparkSpec {

  private def runOnce(inDir: String, ckpt: String): Unit = {
    val q = DocumentStreams.incrementalDedup(
      DocumentStreams.readDocuments(spark, inDir, maxFilesPerTrigger = 1))
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        DedupRecoverySpec.batches.add(id)
        batch.collect().foreach { r =>
          DedupRecoverySpec.emitted.add((r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  test("ST15 dedup index survives restart: recovered state serves later arrivals") {
    withRocksDb {
      val docs = graft.Tables.load(spark, sf(), "documents")
      val inDir = tmpDir("dedup-ckpt-in")
      val ckpt = tmpDir("dedup-ckpt-state")
      DedupRecoverySpec.emitted.clear()
      DedupRecoverySpec.batches.clear()

      def stage(lo: Long, hi: Long, i: Int): Unit = {
        val tmp = tmpDir(s"dedup-stage-$i")
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val src = Files.list(Paths.get(tmp))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dst = Paths.get(inDir, f"chunk$i%02d.parquet")
        Files.move(src, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
      }

      // phase 1: first doc_id range only
      stage(Long.MinValue, 170L, 0)
      runOnce(inDir, ckpt)
      val phase1Batches = DedupRecoverySpec.batches.size()
      assert(phase1Batches == 1, s"expected 1 micro-batch in phase 1, got $phase1Batches")

      // phase 2: two more ranges, SAME checkpoint — the restart must read
      // only the new files; phase-1 docs exist solely in RocksDB state
      stage(170L, 340L, 1)
      stage(340L, Long.MaxValue, 2)
      runOnce(inDir, ckpt)
      val phase2Batches = DedupRecoverySpec.batches.size() - phase1Batches
      assert(phase2Batches == 2,
        s"restart must process exactly the 2 new files, got $phase2Batches")

      // emissions across both runs reduce to the batch twin's verdicts
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val got = DedupRecoverySpec.emitted.asScala.toSeq
        .toDF("docId", "dupOf", "nMatch")
        .groupBy(col("docId"))
        .agg(min(struct(col("dupOf"), col("nMatch"))).as("m"))
        .select(col("docId").as("doc_id"), col("m.dupOf").as("dup_of"),
          col("m.nMatch").as("n_match"))
      val batch = graft.SparkEntry.queries("st_incremental_minhash")(spark, sf())
        .filter(col("status") === "dup")
        .select(col("doc_id"), col("dup_of"), col("n_match"))
      val cols = batch.columns.sorted.map(col)
      val a = got.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
      val b = batch.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
      assert(a.length == b.length, s"row count ${a.length} != ${b.length}")
      assert(a.sameElements(b))
      // cross-phase evidence: some phase-2 doc must have matched a
      // phase-1 doc (dup_of < 170 with doc_id >= 170) through state alone
      assert(got.filter(col("doc_id") >= 170 && col("dup_of") < 170).count() > 0,
        "no phase-2 doc matched a phase-1 resident — state recovery untested")
    }
  }
}
