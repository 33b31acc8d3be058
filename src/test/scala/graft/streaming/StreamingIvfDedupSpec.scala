package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST28: the streaming trained-IVF embedding-ANN dedup index must
  * reproduce its declared batch twin (`st_incremental_ann_ivf`,
  * DuckDB-oracled) bit-for-bit — in a single micro-batch and across a
  * multi-file ordered RocksDB replay where earlier vectors live only in
  * state (the StreamingAnnDedupSpec discipline at the trained-quantizer
  * index). The quantizer is trained OFFLINE from the same corpus (the
  * production posture: static broadcast centroids, online assignment),
  * so stream ≡ twin is exact, not approximate.
  */
class StreamingIvfDedupSpec extends SparkSpec {

  /** sf0.01: the trained-cell rule finds 11 τ-dups here (sf0.001's
    * draw would make the convergence assertions vacuous).
    */
  private val fixture = sf("sf0.01")

  private def reduceVerdict(perBucket: DataFrame): DataFrame =
    perBucket.groupBy(col("vecId"))
      .agg(min(struct(col("dupOf"), col("cosine"))).as("m"))
      .select(col("vecId").as("vec_id"), col("m.dupOf").as("dup_of"),
        col("m.cosine").as("cosine"))

  private def batchDups(): DataFrame =
    graft.SparkEntry.queries("st_incremental_ann_ivf")(spark, fixture)
      .filter(col("status") === "dup")
      .select(col("vec_id"), col("dup_of"), col("cosine"))

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = b.columns.sorted.map(col)
    val as = a.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    val bs = b.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    assert(as.length == bs.length, s"row count ${as.length} != ${bs.length}")
    assert(as.sameElements(bs))
  }

  private def stage(inDir: String, lo: Long, hi: Long, i: Int): Unit = {
    val tmp = tmpDir(s"ivf-stage-$i")
    graft.Tables.load(spark, fixture, "embeddings")
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = Files.list(Paths.get(tmp))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val dst = Paths.get(inDir, f"chunk$i%02d.parquet")
    Files.move(src, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  test("ST28 single-batch replay converges to the batch twin") {
    withRocksDb {
      val ca = graft.queries.KnnGraphQueries.trainedCentArray(
        graft.queries.Corpus.nvecs(spark, fixture))
      val d = tmpDir("ivf-stream-one")
      graft.Tables.load(spark, fixture, "embeddings")
        .coalesce(1).write.mode("overwrite").parquet(d)
      val got = EventStreams.runToMemoryAvailableNow(
        IvfDedupStream.incrementalIvfDedup(
          AnnDedupStream.readEmbeddings(spark, d), ca).toDF(),
        "conv_ivfdedup_one", "append")
      val dups = batchDups()
      assert(dups.count() > 0, "fixture must contain trained-cell dups")
      assertSameRows(reduceVerdict(got), dups)
    }
  }

  test("ST28 multi-batch ordered replay converges (earlier vectors only in state)") {
    withRocksDb {
      val ca = graft.queries.KnnGraphQueries.trainedCentArray(
        graft.queries.Corpus.nvecs(spark, fixture))
      val d = tmpDir("ivf-stream-multi")
      val ranges = Seq((Long.MinValue, 170L), (170L, 340L), (340L, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) => stage(d, lo, hi, i) }
      val got = EventStreams.runToMemoryAvailableNow(
        IvfDedupStream.incrementalIvfDedup(
          AnnDedupStream.readEmbeddings(spark, d, maxFilesPerTrigger = 1),
          ca).toDF(),
        "conv_ivfdedup_multi", "append")
      // cross-batch state genuinely exercised: at least one dup pair
      // must straddle a file boundary (the twin's pairs are known)
      val straddling = batchDups()
        .filter(col("dup_of") < 340L && col("vec_id") >= 340L ||
          col("dup_of") < 170L && col("vec_id") >= 170L)
        .count()
      assert(straddling > 0, "replay split must cross at least one dup pair")
      assertSameRows(reduceVerdict(got), batchDups())
    }
  }

  test("ST28 re-index contract: quantizer refresh rebuilds from the accepted corpus") {
    // The declared state bound (round 20): state LIFETIME is one
    // quantizer generation — cell ids are positions in a specific
    // centroid array, so a refresh makes old state meaningless by
    // construction and the re-index event starts a FRESH query over
    // the re-ingested accepted corpus. Pinned here end-to-end:
    //  - generation A (quantizer trained on the accepted PREFIX only,
    //    streamed over the prefix) ≡ the prefix batch twin;
    //  - the refresh path (full retrain, fresh checkpoint, re-ingest)
    //    ≡ the DECLARED full-corpus batch twin — zero generation-A
    //    leakage, exact landing on the oracle-checked semantics.
    withRocksDb {
      import graft.queries.{Corpus, KnnGraphQueries, VectorOps}
      def vecsOf(df: DataFrame): DataFrame = df
        .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
      val allEmb = graft.Tables.load(spark, fixture, "embeddings")
      val prefixEmb = allEmb.filter(col("vec_id") < 340L)

      // generation A: prefix-trained quantizer, prefix stream
      val caA = KnnGraphQueries.trainedCentArray(vecsOf(prefixEmb))
      val dA = tmpDir("ivf-reindex-genA")
      prefixEmb.coalesce(1).write.mode("overwrite").parquet(dA)
      val gotA = EventStreams.runToMemoryAvailableNow(
        IvfDedupStream.incrementalIvfDedup(
          AnnDedupStream.readEmbeddings(spark, dA), caA).toDF(),
        "conv_ivfdedup_genA", "append")
      val (twinA, stagesA) =
        KnnGraphQueries.annIvfTrained(vecsOf(prefixEmb))
      val dupsA =
        try twinA.filter(col("status") === "dup")
          .select(col("vec_id"), col("dup_of"), col("cosine"))
          .localCheckpoint(true)
        finally stagesA.foreach(_.unpersist(false))
      assert(dupsA.count() > 0, "prefix must contain trained-cell dups")
      assertSameRows(reduceVerdict(gotA), dupsA)

      // the refresh is REAL: the retrained quantizer must re-assign at
      // least one prefix vector (otherwise the arm could pass with
      // identical generations and prove nothing)
      val caB = KnnGraphQueries.trainedCentArray(Corpus.nvecs(spark, fixture))
      graft.functions.GraftFunctions.register(spark)
      def homes(ca: DataFrame): DataFrame = vecsOf(prefixEmb)
        .crossJoin(broadcast(ca))
        .select(col("vec_id"), expr("pq_argmin_k(v, cents, 1)[0]").as("home"))
      val moved = homes(caA).withColumnRenamed("home", "home_a")
        .join(homes(caB), Seq("vec_id"))
        .filter(col("home_a") =!= col("home")).count()
      assert(moved > 0, "refresh must re-assign at least one vector")

      // generation B: full retrain + fresh checkpoint + re-ingest of
      // the accepted corpus — must land exactly on the DECLARED twin
      val dB = tmpDir("ivf-reindex-genB")
      allEmb.coalesce(1).write.mode("overwrite").parquet(dB)
      val gotB = EventStreams.runToMemoryAvailableNow(
        IvfDedupStream.incrementalIvfDedup(
          AnnDedupStream.readEmbeddings(spark, dB), caB).toDF(),
        "conv_ivfdedup_genB", "append")
      assertSameRows(reduceVerdict(gotB), batchDups())
    }
  }
}
