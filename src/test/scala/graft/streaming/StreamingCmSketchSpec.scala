package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CmSketchAgg

/** ST24 — the streaming Count-Min state must converge to the batch
  * sketch: "last emission per group" reconstructs exactly the batch
  * d×w matrix of the full stream (cell addition is commutative and
  * associative — no insert/evict rule to argue), estimates off the
  * reconstruction equal `CmSketchAgg.estimate` and inherit its
  * est ≥ true guarantee, and multi-batch RocksDB replay (partial sums
  * carried in state across batches) equals single-batch.
  */
class StreamingCmSketchSpec extends SparkSpec {

  private val D = 4
  private val W = 32

  /** The packed stream source: one row per token OCCURRENCE over the
    * documents fixture, positions packed with the exact recipe the
    * batch `pipe_count_min` query uses in codegen'd built-ins.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("cm-rows")
    val pos = (0 until D).map { j =>
      s"(cast(conv(substring(md5(concat('cm:', tok)), ${1 + 8 * j}, 8)" +
        s", 16, 10) as bigint) % $W) * ${math.pow(W, j).toLong}L"
    }.mkString(" + ")
    graft.Tables.load(spark, sf(), "documents")
      .select(col("lang").as("group"), col("doc_id"),
        posexplode(split(lower(col("text")), " ")))
      .select(col("group"), col("col").as("tok"),
        (col("doc_id") * 10000 + col("pos")).as("seq"))
      .withColumn("packed", expr(pos))
      .select(col("group"), col("packed"), col("seq"))
      .orderBy(col("seq"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/rows.parquet")
    d
  }

  /** Ground truth: the batch Aggregator matrix per group. */
  private lazy val truth: Map[String, Seq[Long]] = {
    val agg = CmSketchAgg(D, W)
    spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("group"), col("packed"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).foldLeft(agg.zero)(agg.reduce).toSeq)
      .toMap
  }

  private def streamFinal(srcDir: String, name: String)
      : Map[String, Seq[Long]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      CmSketchStream.frequencySketch(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir), D, W).toDF(),
      name, "append")
    got.collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), r.getSeq[Long](1), i) }
      .groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2.toSeq).toMap
  }

  private lazy val singleBatch: Map[String, Seq[Long]] =
    withRocksDb { streamFinal(s"$stagedDir/rows.parquet", "conv_cm_one") }

  test("last emission per group reconstructs the batch Count-Min matrix") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == truth,
      s"diff groups: ${singleBatch.keySet diff truth.keySet} / ${
        truth.keySet diff singleBatch.keySet}")
    // mass check: every occurrence lands in exactly d cells
    val occ = spark.read.parquet(s"$stagedDir/rows.parquet")
      .groupBy(col("group")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    truth.foreach { case (g, cells) =>
      assert(cells.sum == occ(g) * D, s"$g cell mass")
    }
  }

  test("estimates off the reconstruction match the batch estimator and bound truth") {
    val rows = spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("group"), col("packed"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    exact.foreach { case ((g, packed), n) =>
      val est = CmSketchAgg.estimate(singleBatch(g).toArray, D, W, packed)
      assert(est >= n, s"$g under-estimate: $est < $n")
      assert(est == CmSketchAgg.estimate(truth(g).toArray, D, W, packed))
    }
  }

  test("multi-batch RocksDB replay equals single-batch (partial sums carried)") {
    withRocksDb {
      val d = tmpDir("cm-multi")
      val rows = spark.read.parquet(s"$stagedDir/rows.parquet")
      val cuts = rows.selectExpr(
          "percentile(seq, cast(1 as double)/3) AS c1",
          "percentile(seq, cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"cm-stage-$i")
          rows.filter(col("seq") >= lo && col("seq") < hi)
            .orderBy(col("seq")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamFinal(d, "conv_cm_multi")
      assert(multi == singleBatch,
        "multi-batch deviates from single-batch")
      // every chunk must be non-empty per group, or the carry is untested
      val perChunk = Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .map { case (lo, hi) =>
          rows.filter(col("seq") >= lo && col("seq") < hi).count() }
      assert(perChunk.forall(_ > 0), s"empty chunk: $perChunk")
    }
  }

  test("geometry must be sane") {
    intercept[IllegalArgumentException](new CmSketchStream.CmProcessor(0, 32))
    // 32^32 overflows the packed positions: the batch bound holds here too
    intercept[IllegalArgumentException](new CmSketchStream.CmProcessor(32, 32))
  }
}
