package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.KmvDistinctAgg

/** ST23 — the streaming KMV state must converge to the batch sketch:
  * "last emission per group" reconstructs exactly the k smallest
  * DISTINCT tags of the full stream (arrival-order independent by the
  * skip/insert/replace-max rule — the Aggregator's merge law applied
  * online), `KmvDistinctAgg.estimate` over the reconstruction equals
  * the batch estimate, and multi-batch RocksDB replay (sketches carried
  * in state across batches, including evictions of tags admitted in
  * EARLIER batches) equals single-batch. The events fixture REPEATS
  * users heavily (~40 events per user at sf0.001), so the distinct-skip
  * path — what separates this from ST22's multiset sketch — is
  * exercised on every batch.
  */
class StreamingKmvSpec extends SparkSpec {

  /** Small k so evictions are plentiful on the sf0.001 fixture
    * (15 distinct users per event type — every group oversubscribes 8). */
  private val K = 8

  /** The tagged stream source: one row per EVENT (so each user's tag
    * arrives many times — the distinct-skip fixture), tag = the same
    * h60 recipe the batch `pipe_distinct_kmv` query uses.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("kmv-rows")
    graft.Tables.load(spark, sf(), "events")
      .select(col("event_type").as("group"),
        expr("cast(conv(substring(md5(concat('kmv:', cast(user_id as string))), 1, 15), 16, 10) as bigint)")
          .as("tag"),
        col("event_id").as("seq"))
      .orderBy(col("seq"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/rows.parquet")
    d
  }

  /** Ground truth: the batch sketch per group — k smallest distinct
    * tags, the exact KmvDistinctAgg retained set.
    */
  private lazy val truth: Map[String, Seq[Long]] =
    spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("group"), col("tag"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(K).toSeq)
      .toMap

  private def streamFinal(srcDir: String, name: String)
      : Map[String, Seq[Long]] = {
    val got = EventStreams.runToMemoryAvailableNow(
      KmvStream.distinctSketch(
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
    withRocksDb { streamFinal(s"$stagedDir/rows.parquet", "conv_kmv_one") }

  test("last emission per group reconstructs the batch KMV sketch") {
    assert(singleBatch.nonEmpty)
    assert(singleBatch == truth,
      s"diff: ${(singleBatch.toSet diff truth.toSet).take(2)} / ${
        (truth.toSet diff singleBatch.toSet).take(2)}")
    // every group must have evicted (15 distinct > k=8), or the
    // replace-max path is untested; and the input must repeat tags, or
    // the distinct-skip path is untested
    assert(truth.values.forall(_.size == K))
    val rows = spark.read.parquet(s"$stagedDir/rows.parquet").count()
    val distinctRows = spark.read.parquet(s"$stagedDir/rows.parquet")
      .select("group", "tag").distinct().count()
    assert(rows > 2 * distinctRows,
      "fixture must repeat (group, tag) pairs to exercise distinct-skip")
  }

  test("estimates off the reconstruction equal the batch estimator") {
    val exact = spark.read.parquet(s"$stagedDir/rows.parquet")
      .select(col("group"), col("tag"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    singleBatch.foreach { case (g, tags) =>
      val est = KmvDistinctAgg.estimate(tags, K)
      val agg = KmvDistinctAgg(K)
      val batch = agg.finish(
        spark.read.parquet(s"$stagedDir/rows.parquet")
          .filter(col("group") === g).select("tag")
          .collect().map(_.getLong(0)).foldLeft(agg.zero)(agg.reduce))
      assert(tags == batch, s"$g stream sketch != batch Aggregator")
      assert(est == KmvDistinctAgg.estimate(batch, K), s"$g estimate")
      // k=8 is a coarse sketch; just pin the estimate is in the right
      // regime (deterministic given the hash, so a fixed bound is safe)
      assert(math.abs(est - exact(g)) / exact(g) < 1.5,
        s"$g est $est vs exact ${exact(g)}")
    }
  }

  test("multi-batch RocksDB replay equals single-batch (state carries evictions)") {
    withRocksDb {
      val d = tmpDir("kmv-multi")
      val rows = spark.read.parquet(s"$stagedDir/rows.parquet")
      // chunk by TAG residue, not by seq: every user appears in every
      // seq-third (users repeat ~40× in the events fixture), so a
      // seq-split's first chunk would already hold the global bottom-k
      // and nothing would ever cross-batch-evict. Splitting the USER
      // space instead guarantees chunk 0 admits tags the later chunks'
      // smaller tags must push out.
      Seq(0, 1, 2).foreach { i =>
        val stage = tmpDir(s"kmv-stage-$i")
        rows.filter(pmod(col("tag"), lit(3)) === i)
          .orderBy(col("seq")).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(src,
          java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
        Thread.sleep(1100)
      }
      val multi = streamFinal(d, "conv_kmv_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(2)}")
      // the replay must have exercised CROSS-BATCH eviction: some
      // first-chunk admission cannot survive the final cut
      val firstChunk = rows.filter(pmod(col("tag"), lit(3)) === 0)
        .select(col("group"), col("tag"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted.take(K).toSeq)
        .toMap
      assert(firstChunk.exists { case (g, tags) =>
        tags.exists(t => !singleBatch(g).contains(t))
      }, "no first-batch admission was ever evicted — weak replay fixture")
    }
  }

  test("capacity must be positive") {
    intercept[IllegalArgumentException](new KmvStream.KmvProcessor(0))
  }
}
