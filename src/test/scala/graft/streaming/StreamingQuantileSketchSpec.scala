package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QuantileSketchAgg

/** ST22 — the streaming bottom-k state must converge to the batch
  * sketch: "last emission per lang" reconstructs exactly the k smallest
  * (tag, value) pairs of the full stream (arrival-order independent by
  * the insert/replace-max rule — the Aggregator's merge law applied
  * online), the tercile cutoffs read off the reconstruction equal
  * `QuantileSketchAgg.quantile` on the batch sample, and multi-batch
  * RocksDB replay (samples carried in state across batches, including
  * evictions of entries admitted in EARLIER batches) equals
  * single-batch.
  */
class StreamingQuantileSketchSpec extends SparkSpec {

  /** Small k so evictions are plentiful on the sf0.001 fixture
    * (64–193 docs per language — every stratum oversubscribes 16). */
  private val K = 16

  /** The scored stream source: one row per document, value = n_chars,
    * tag = the same h60 recipe the batch sketch queries use.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("sketch-rows")
    graft.Tables.load(spark, sf(), "documents")
      .select(col("lang"),
        col("n_chars").cast("double").as("value"),
        expr("cast(conv(substring(md5(concat('stq:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)")
          .as("tag"),
        col("doc_id").as("seq"))
      .orderBy(col("seq"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/rows.parquet")
    d
  }

  /** Ground truth: the batch bottom-k per language — k smallest
    * (tag, value) pairs, the exact QuantileSketchAgg retained set.
    */
  private lazy val truth: Map[String, Seq[(Long, Double)]] =
    spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("lang"), col("tag"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq.sorted.take(K))
      .toMap

  private def streamFinal(srcDir: String, name: String)
      : Map[String, Seq[(Long, Double)]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      QuantileSketchStream.bottomK(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir), K).toDF(),
      name, "append")
    got.collect().zipWithIndex
      .map { case (r, i) =>
        (r.getString(0), r.getSeq[Long](1).zip(r.getSeq[Double](2)), i) }
      .groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2.toSeq).toMap
  }

  private lazy val singleBatch: Map[String, Seq[(Long, Double)]] =
    withRocksDb { streamFinal(s"$stagedDir/rows.parquet", "conv_qsk_one") }

  test("last emission per lang reconstructs the batch bottom-k sample") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == truth,
      s"diff: ${(singleBatch.toSet diff truth.toSet).take(2)} / ${
        (truth.toSet diff singleBatch.toSet).take(2)}")
    // every stratum must have evicted (oversubscribed k), or the
    // replace-max path is untested
    assert(truth.values.forall(_.size == K))
  }

  test("tercile cutoffs off the reconstruction equal the batch quantile rule") {
    singleBatch.foreach { case (lang, sample) =>
      val vs = sample.map(_._2).sorted
      val c1 = QuantileSketchAgg.quantile(vs, 1.0 / 3)
      val c2 = QuantileSketchAgg.quantile(vs, 2.0 / 3)
      assert(c1 <= c2, s"$lang cutoffs out of order")
      assert(vs.contains(c1) && vs.contains(c2),
        s"$lang cutoffs must be sample order statistics")
    }
  }

  test("multi-batch RocksDB replay equals single-batch (state carries evictions)") {
    withRocksDb {
      val d = tmpDir("sketch-multi")
      val rows = spark.read.parquet(s"$stagedDir/rows.parquet")
      val cuts = rows.selectExpr(
          "percentile(seq, cast(1 as double)/3) AS c1",
          "percentile(seq, cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"qsk-stage-$i")
          rows.filter(col("seq") >= lo && col("seq") < hi)
            .orderBy(col("seq")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamFinal(d, "conv_qsk_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(2)}")
      // the replay must have exercised CROSS-BATCH eviction: some
      // first-chunk admission cannot survive the final cut
      val firstChunk = rows.filter(col("seq") < c1)
        .select(col("lang"), col("tag"), col("value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).toSeq.sorted.take(K))
        .toMap
      assert(firstChunk.exists { case (lang, entries) =>
        entries.exists(e => !singleBatch(lang).contains(e))
      }, "no first-batch admission was ever evicted — weak replay fixture")
    }
  }
}
