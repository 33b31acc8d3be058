package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AmsSketchAgg

/** ST25 — the streaming AMS state must converge to the batch sketch:
  * "last emission per group" reconstructs exactly the batch signed
  * counters of the full stream (±1 additions are commutative and
  * associative), F₂ estimates off the reconstruction equal
  * `AmsSketchAgg.estimate` and stay inside the deterministic accuracy
  * band against the exact per-group self-join size, and multi-batch
  * RocksDB replay (partial counter sums carried across batches) equals
  * single-batch.
  */
class StreamingAmsSketchSpec extends SparkSpec {

  private val K = 60

  /** The tagged stream source: one row per token OCCURRENCE over the
    * documents fixture, tag = the batch `pipe_f2_ams` h60 recipe.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("ams-rows")
    graft.Tables.load(spark, sf(), "documents")
      .select(col("lang").as("group"), col("doc_id"),
        posexplode(split(lower(col("text")), " ")))
      .select(col("group"), col("col").as("tok"),
        (col("doc_id") * 10000 + col("pos")).as("seq"))
      .withColumn("tag",
        expr("cast(conv(substring(md5(concat('f2:', tok)), 1, 15), 16, 10) as bigint)"))
      .select(col("group"), col("tag"), col("seq"))
      .orderBy(col("seq"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/rows.parquet")
    d
  }

  /** Ground truth: the batch Aggregator counters per group. */
  private lazy val truth: Map[String, Seq[Long]] = {
    val agg = AmsSketchAgg(K)
    spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("group"), col("tag"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).foldLeft(agg.zero)(agg.reduce).toSeq)
      .toMap
  }

  private def streamFinal(srcDir: String, name: String)
      : Map[String, Seq[Long]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      AmsSketchStream.f2Sketch(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir), K).toDF(),
      name, "append")
    got.collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), r.getSeq[Long](1), i) }
      .groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2.toSeq).toMap
  }

  private lazy val singleBatch: Map[String, Seq[Long]] =
    withRocksDb { streamFinal(s"$stagedDir/rows.parquet", "conv_ams_one") }

  test("last emission per group reconstructs the batch AMS counters") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == truth)
    // parity mass check: every occurrence adds ±1 to every counter,
    // so c_j ≡ N (mod 2) for all j
    val occ = spark.read.parquet(s"$stagedDir/rows.parquet")
      .groupBy(col("group")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    truth.foreach { case (g, cs) =>
      cs.foreach(c => assert((((c - occ(g)) % 2) + 2) % 2 == 0, s"$g parity"))
    }
  }

  test("F2 estimates off the reconstruction match the batch estimator and band") {
    val exact = spark.read.parquet(s"$stagedDir/rows.parquet")
      .groupBy(col("group"), col("tag")).count()
      .groupBy(col("group"))
      .agg(sum(expr("count * count")).as("f2"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    singleBatch.foreach { case (g, cs) =>
      val est = AmsSketchAgg.estimate(cs.toArray, K)
      assert(est == AmsSketchAgg.estimate(truth(g).toArray, K))
      assert(math.abs(est - exact(g).toDouble) / exact(g).toDouble <=
        3.0 * math.sqrt(2.0 / K), s"$g est $est vs exact ${exact(g)}")
    }
  }

  test("multi-batch RocksDB replay equals single-batch (partial sums carried)") {
    withRocksDb {
      val d = tmpDir("ams-multi")
      val rows = spark.read.parquet(s"$stagedDir/rows.parquet")
      val cuts = rows.selectExpr(
          "percentile(seq, cast(1 as double)/3) AS c1",
          "percentile(seq, cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"ams-stage-$i")
          rows.filter(col("seq") >= lo && col("seq") < hi)
            .orderBy(col("seq")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamFinal(d, "conv_ams_multi")
      assert(multi == singleBatch)
      val perChunk = Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .map { case (lo, hi) =>
          rows.filter(col("seq") >= lo && col("seq") < hi).count() }
      assert(perChunk.forall(_ > 0), s"empty chunk: $perChunk")
    }
  }

  test("k bounds enforced") {
    intercept[IllegalArgumentException](new AmsSketchStream.AmsProcessor(61))
  }
}
