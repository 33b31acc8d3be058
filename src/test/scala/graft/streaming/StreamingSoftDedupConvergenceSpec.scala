package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{QueryDef, Round11eQueries}

/** Streaming SoftDeDup (VERDICT r11 item 7): the online 1/k running
  * weight must
  *  (1) assign every arriving doc the weight 1/(its doc_id-rank within
  *      its duplicate cluster) — the running form of the batch
  *      1/|cluster| — with the cluster rooted at the first-arrived
  *      member,
  *  (2) converge to batch `pipe_soft_dedup` at the end of the stream:
  *      the LAST arrival of every cluster carries exactly the batch
  *      weight, and stream roots equal the batch cluster_ids,
  *  (3) be a pure function of the doc set: a multi-file ordered replay
  *      (earlier docs visible only through RocksDB MapState) emits
  *      bit-identical verdicts to the single-batch run.
  */
class StreamingSoftDedupConvergenceSpec extends SparkSpec {

  /** Planted corpus: a 4-cluster, a 2-cluster (identical text within a
    * cluster ⇒ members co-reside in ALL 8 band buckets, so bucket-local
    * root resolution is exact), and 3 singletons.
    */
  private val clusterA = Seq(10L, 11L, 12L, 13L)
  private val clusterB = Seq(20L, 21L)
  private val singles = Seq(30L, 31L, 32L)

  private def docRows: Seq[(Long, String)] = {
    val tA = (0 until 12).map(i => s"alpha$i").mkString(" ")
    val tB = (0 until 12).map(i => s"beta$i").mkString(" ")
    clusterA.map(_ -> tA) ++ clusterB.map(_ -> tB) ++
      singles.map(id => id -> (0 until 12).map(j => s"solo${id}w$j").mkString(" "))
  }

  private lazy val batchDir: String = {
    val d = tmpDir("softdedup-batch")
    import spark.implicits._
    docRows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'xx' AS lang", "'gen' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Per-doc verdict from per-band emissions: the min-root band with
    * its max k — the downstream reduction a production pipeline runs as
    * a second tiny stateful stage.
    */
  private def reduceVerdict(perBand: DataFrame): Map[Long, (Long, Long, Double)] =
    perBand.groupBy(col("docId"))
      .agg(min(col("root")).as("root"), max(col("k")).as("k"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), 1.0 / r.getLong(2)))
      .toMap

  private def runStream(srcDir: String, name: String): Map[Long, (Long, Long, Double)] =
    reduceVerdict(EventStreams.runToMemoryAvailableNow(
      DocumentStreams.incrementalSoftDedup(
        DocumentStreams.readDocuments(spark, srcDir)).toDF(), name, "append"))

  private lazy val singleBatchVerdict: Map[Long, (Long, Long, Double)] = withRocksDb {
    val d = tmpDir("softdedup-stream-one")
    spark.read.parquet(s"$batchDir/documents.parquet")
      .coalesce(1).write.mode("overwrite").parquet(d)
    runStream(d, "conv_softdedup_one")
  }

  test("running weights are 1/rank-in-cluster rooted at the first arrival") {
    val v = singleBatchVerdict
    assert(v.keySet == (clusterA ++ clusterB ++ singles).toSet)
    clusterA.zipWithIndex.foreach { case (id, i) =>
      assert(v(id) == ((clusterA.head, i + 1L, 1.0 / (i + 1))),
        s"doc $id: ${v(id)}")
    }
    clusterB.zipWithIndex.foreach { case (id, i) =>
      assert(v(id) == ((clusterB.head, i + 1L, 1.0 / (i + 1))))
    }
    singles.foreach { id => assert(v(id) == ((id, 1L, 1.0))) }
  }

  test("end-of-stream weights converge to batch pipe_soft_dedup") {
    val batch = QueryDef.toQueriesMap(Round11eQueries.defs)("pipe_soft_dedup")(
        spark, batchDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val v = singleBatchVerdict
    // stream roots ≡ batch cluster ids, stream final k ≡ batch size
    Seq(clusterA, clusterB).foreach { cluster =>
      cluster.foreach { id =>
        assert(v(id)._1 == batch(id)._1, s"root mismatch for $id")
      }
      val last = cluster.last
      assert(v(last)._2 == batch(last)._2, s"final k != batch cluster_size")
      assert(math.abs(v(last)._3 - batch(last)._3) < 1e-6,
        s"final running weight ${v(last)._3} != batch weight ${batch(last)._3}")
    }
    singles.foreach { id => assert(batch(id) == ((id, 1L, 1.0)) && v(id)._3 == 1.0) }
  }

  test("multi-batch ordered replay converges (earlier docs only in state)") {
    withRocksDb {
      val d = tmpDir("softdedup-stream-multi")
      val docs = spark.read.parquet(s"$batchDir/documents.parquet")
      // three doc_id ranges → three files, oldest-first, one per trigger
      val ranges = Seq((Long.MinValue, 12L), (12L, 21L), (21L, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
        val stage = tmpDir(s"softdedup-stage-$i")
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(src,
          java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
        Thread.sleep(1100) // distinct mtime seconds → deterministic order
      }
      val multi = runStream(d, "conv_softdedup_multi")
      assert(multi == singleBatchVerdict,
        s"multi-batch $multi != single-batch $singleBatchVerdict")
    }
  }
}
