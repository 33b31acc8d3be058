package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST15: the streaming incremental minhash dedup index must reproduce
  * its declared batch twin (`st_incremental_minhash`, DuckDB-oracled)
  * bit-for-bit — both in a single micro-batch and across a multi-file
  * ordered replay where earlier docs live only in RocksDB state.
  */
class StreamingDedupConvergenceSpec extends SparkSpec {

  /** Per-doc verdict from the stream's per-band emissions: min over
    * bands of (dupOf, nMatch) — the reduction a production pipeline runs
    * as a second (tiny) stateful stage.
    */
  private def reduceVerdict(perBand: DataFrame): DataFrame =
    perBand.groupBy(col("docId"))
      .agg(min(struct(col("dupOf"), col("nMatch"))).as("m"))
      .select(col("docId").as("doc_id"), col("m.dupOf").as("dup_of"),
        col("m.nMatch").as("n_match"))

  private def batchDups(): DataFrame =
    graft.SparkEntry.queries("st_incremental_minhash")(spark, sf())
      .filter(col("status") === "dup")
      .select(col("doc_id"), col("dup_of"), col("n_match"))

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = b.columns.sorted.map(col)
    val as = a.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    val bs = b.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    assert(as.length == bs.length, s"row count ${as.length} != ${bs.length}")
    assert(as.sameElements(bs))
  }

  test("ST15 single-batch replay converges to the batch twin") {
    withRocksDb {
      val d = tmpDir("docs-stream-one")
      graft.Tables.load(spark, sf(), "documents")
        .coalesce(1).write.mode("overwrite").parquet(d)
      val got = EventStreams.runToMemoryAvailableNow(
        DocumentStreams.incrementalDedup(
          DocumentStreams.readDocuments(spark, d)).toDF(),
        "conv_incdedup_one", "append")
      assertSameRows(reduceVerdict(got), batchDups())
    }
  }

  test("ST15 multi-batch ordered replay converges (earlier docs only in state)") {
    withRocksDb {
      val d = tmpDir("docs-stream-multi")
      val docs = graft.Tables.load(spark, sf(), "documents")
      // three doc_id ranges → three files with strictly increasing
      // mtimes: FileStreamSource takes them oldest-first, one per
      // trigger, so batch 2+ can only see batch 1's docs via MapState.
      val ranges = Seq((Long.MinValue, 170L), (170L, 340L), (340L, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
        val stage = tmpDir(s"docs-stage-$i")
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dst = java.nio.file.Paths.get(d, f"chunk$i%02d.parquet")
        java.nio.file.Files.move(src, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      val got = EventStreams.runToMemoryAvailableNow(
        DocumentStreams.incrementalDedup(
          DocumentStreams.readDocuments(spark, d, maxFilesPerTrigger = 1)).toDF(),
        "conv_incdedup_multi", "append")
      assertSameRows(reduceVerdict(got), batchDups())
    }
  }
}
