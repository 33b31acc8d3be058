package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.GraphQueries

/** ST21 — the streaming capped-set state must converge to the batch cap
  * rule: "last emission per supplier" reconstructs exactly the capped
  * bipartite graph of `graph_butterflies_capped` (per supplier the cap
  * smallest distinct customers — arrival-order independent by the
  * insert/evict-max rule), the C(w,2) rollup over the reconstruction
  * equals the declared row, and multi-batch RocksDB replay (capped sets
  * carried in state across batches, including evictions of customers
  * admitted in EARLIER batches) equals single-batch.
  */
class StreamingButterflySpec extends SparkSpec {

  /** The bipartite edge stream source: one row per (supplier, customer)
    * ORDER LINE (duplicates included deliberately — the stream must
    * dedup through its contains() check), seq = the batch twin's
    * deterministic row order.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("butterfly-edges")
    graft.Tables.load(spark, sf(), "lineitem")
      .join(graft.Tables.load(spark, sf(), "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("suppkey"), col("o_custkey").as("custkey"),
        (col("l_orderkey") * 16 + col("l_linenumber")).as("seq"))
      .orderBy(col("seq"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/edges.parquet")
    d
  }

  /** Ground truth per the batch cap rule: cap smallest distinct
    * customers per supplier.
    */
  private lazy val cappedTruth: Map[Long, Seq[Long]] =
    spark.read.parquet(s"$stagedDir/edges.parquet")
      .select(col("suppkey"), col("custkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted.take(GraphQueries.ButterflyCap))
      .toMap

  private def streamFinalSets(srcDir: String, name: String): Map[Long, Seq[Long]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      ButterflyStream.cappedSets(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir), GraphQueries.ButterflyCap).toDF(),
      name, "append")
    // last emission per supplier = the live capped set at the cut; the
    // memory sink preserves emission order, so "last" = max row index
    got.collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getSeq[Long](1), i) }
      .groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2.toSeq).toMap
  }

  private lazy val singleBatch: Map[Long, Seq[Long]] = withRocksDb {
    streamFinalSets(s"$stagedDir/edges.parquet", "conv_bfly_one")
  }

  test("last emission per supplier reconstructs the batch capped edge set") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == cappedTruth,
      s"diff: ${(singleBatch.toSet diff cappedTruth.toSet).take(2)} / ${
        (cappedTruth.toSet diff singleBatch.toSet).take(2)}")
    // the cap must actually bind somewhere, or this tests nothing
    assert(cappedTruth.values.exists(_.size == GraphQueries.ButterflyCap))
  }

  test("C(w,2) rollup over the reconstructed state equals graph_butterflies_capped") {
    val pairCnt = scala.collection.mutable.Map[(Long, Long), Long]()
    singleBatch.values.foreach { custs =>
      for (i <- custs.indices; j <- (i + 1) until custs.length)
        pairCnt((custs(i), custs(j))) =
          pairCnt.getOrElse((custs(i), custs(j)), 0L) + 1
    }
    val row = graft.SparkEntry.queries("graph_butterflies_capped")(spark, sf())
      .collect().head
    assert(row.getLong(0) == pairCnt.values.map(w => w * (w - 1) / 2).sum,
      "butterflies")
    assert(row.getLong(1) == pairCnt.values.sum, "wedges")
    assert(row.getLong(2) == pairCnt.size, "n_pairs")
    assert(row.getLong(3) == pairCnt.values.max, "max_shared")
  }

  test("multi-batch RocksDB replay equals single-batch (state carries evictions)") {
    withRocksDb {
      val d = tmpDir("butterfly-multi")
      val ev = spark.read.parquet(s"$stagedDir/edges.parquet")
      val cuts = ev.selectExpr(
          "percentile(seq, cast(1 as double)/3) AS c1",
          "percentile(seq, cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      // REVERSED custkey order across chunks is implicit in the key
      // space; the three seq-sliced chunks still force later batches to
      // evict customers admitted earlier (asserted below)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"bfly-stage-$i")
          ev.filter(col("seq") >= lo && col("seq") < hi)
            .orderBy(col("seq")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamFinalSets(d, "conv_bfly_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(2)}")
      // the replay must have exercised CROSS-BATCH eviction: some
      // supplier's first-chunk admissions cannot all survive the cut
      val firstChunk = ev.filter(col("seq") < c1)
        .select(col("suppkey"), col("custkey")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).toSeq.sorted.take(GraphQueries.ButterflyCap))
        .toMap
      assert(firstChunk.exists { case (sp, cs) =>
        cs.exists(c => !singleBatch(sp).contains(c))
      }, "no first-batch admission was ever evicted — weak replay fixture")
    }
  }
}
