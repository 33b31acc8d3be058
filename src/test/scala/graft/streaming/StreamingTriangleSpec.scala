package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.GraphQueries

/** ST26 — the streaming capped-adjacency state must converge to the
  * batch cap rule: "last emission per src" reconstructs exactly the
  * capped unipartite graph of `graph_triangles_capped` (per node the
  * cap smallest distinct id-oriented out-neighbors — arrival-order
  * independent by the insert/evict-max rule), the closed-wedge triangle
  * rollup over the reconstruction equals the declared row, and
  * multi-batch RocksDB replay (adjacency carried in state across
  * batches, including evictions of neighbors admitted in EARLIER
  * batches) equals single-batch.
  */
class StreamingTriangleSpec extends SparkSpec {

  /** The id-oriented part co-order edge stream: one row per in-order
    * part PAIR occurrence (duplicates across orders deliberate — the
    * stream must dedup through its contains() check), seq = the order
    * key, so the multi-batch split replays the corpus in order-arrival
    * chunks.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("triangle-edges")
    val sos = graft.Tables.load(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("sp"))
      .distinct()
    sos.as("x").join(sos.as("y"),
        col("x.ord") === col("y.ord") && col("x.sp") < col("y.sp"))
      .select(col("x.sp").as("src"), col("y.sp").as("dst"),
        col("x.ord").as("seq"))
      .orderBy(col("seq"), col("src"), col("dst"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/edges.parquet")
    d
  }

  /** Ground truth per the batch cap rule: cap smallest distinct
    * out-neighbors per node.
    */
  private lazy val cappedTruth: Map[Long, Seq[Long]] =
    spark.read.parquet(s"$stagedDir/edges.parquet")
      .select(col("src"), col("dst")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted.take(GraphQueries.TriCap))
      .toMap

  private def streamFinalAdj(srcDir: String, name: String): Map[Long, Seq[Long]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      TriangleStream.cappedAdjacency(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir), GraphQueries.TriCap).toDF(),
      name, "append")
    // last emission per src = the live capped set at the cut; the
    // memory sink preserves emission order, so "last" = max row index
    got.collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getSeq[Long](1), i) }
      .groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2.toSeq).toMap
  }

  private lazy val singleBatch: Map[Long, Seq[Long]] = withRocksDb {
    streamFinalAdj(s"$stagedDir/edges.parquet", "conv_tri_one")
  }

  test("last emission per src reconstructs the batch capped adjacency") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == cappedTruth,
      s"diff: ${(singleBatch.toSet diff cappedTruth.toSet).take(2)} / ${
        (cappedTruth.toSet diff singleBatch.toSet).take(2)}")
    // the cap must actually bind somewhere, or this tests nothing
    assert(cappedTruth.values.exists(_.size == GraphQueries.TriCap))
  }

  test("closed-wedge rollup over the reconstructed state equals graph_triangles_capped") {
    val adjSets = singleBatch.view.mapValues(_.toSet).toMap
    var tri = 0L
    var wedges = 0L
    singleBatch.foreach { case (_, dsts) =>
      wedges += dsts.length.toLong * (dsts.length - 1) / 2
      for (i <- dsts.indices; j <- (i + 1) until dsts.length)
        if (adjSets.getOrElse(dsts(i), Set.empty).contains(dsts(j))) tri += 1
    }
    val row = graft.SparkEntry.queries("graph_triangles_capped")(spark, sf())
      .collect().head
    assert(row.getLong(0) == tri, "triangles")
    assert(row.getLong(1) == wedges, "n_wedges")
    assert(row.getLong(2) == singleBatch.values.map(_.size.toLong).sum,
      "n_edges_kept")
    assert(tri > 0, "no triangles on the fixture — weak fixture")
  }

  test("multi-batch RocksDB replay equals single-batch (state carries evictions)") {
    withRocksDb {
      val d = tmpDir("triangle-multi")
      val ev = spark.read.parquet(s"$stagedDir/edges.parquet")
      val cuts = ev.selectExpr(
          "percentile(seq, cast(1 as double)/3) AS c1",
          "percentile(seq, cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"tri-stage-$i")
          ev.filter(col("seq") >= lo && col("seq") < hi)
            .orderBy(col("seq"), col("src"), col("dst")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamFinalAdj(d, "conv_tri_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(2)}")
      // the replay must have exercised CROSS-BATCH eviction: some
      // node's first-chunk admissions cannot all survive the cut
      val firstChunk = ev.filter(col("seq") < c1)
        .select(col("src"), col("dst")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).toSeq.sorted.take(GraphQueries.TriCap))
        .toMap
      assert(firstChunk.exists { case (n, ds) =>
        ds.exists(dd => !singleBatch(n).contains(dd))
      }, "no first-batch admission was ever evicted — weak replay fixture")
    }
  }
}
