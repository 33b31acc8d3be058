package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST19 — the streaming transition emitter must converge to its batch
  * twin: aggregating the emitted (from, to) events reproduces every
  * `ev_transition_matrix` count exactly (the stream holds only each
  * user's last type, so unlike the windowed monitors there is NO
  * open-bucket remainder — every transition is emitted the moment its
  * second event arrives). Multi-batch ts-ordered replay (last types
  * carried in RocksDB state across batches) must match single-batch.
  */
class StreamingTransitionConvergenceSpec extends SparkSpec {

  private lazy val stagedDir: String = {
    val d = tmpDir("transitions")
    graft.Tables.load(spark, sf(), "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy(col("ts"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private def streamCounts(srcDir: String, name: String): Map[(String, String), Long] = {
    val got = EventStreams.runToMemoryAvailableNow(
      TransitionStream.transitions(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)).toDF(),
      name, "append")
    got.collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
  }

  private lazy val singleBatch: Map[(String, String), Long] = withRocksDb {
    streamCounts(s"$stagedDir/events.parquet", "conv_trans_one")
  }

  test("aggregated stream equals the batch transition counts exactly") {
    val batch = graft.SparkEntry.queries("ev_transition_matrix")(spark, stagedDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(singleBatch == batch,
      s"diffs: ${(singleBatch.toSet diff batch.toSet).take(3)} / ${
        (batch.toSet diff singleBatch.toSet).take(3)}")
    assert(singleBatch.nonEmpty)
  }

  test("multi-batch ts-ordered replay converges (last types only in state)") {
    withRocksDb {
      val d = tmpDir("transitions-multi")
      val ev = spark.read.parquet(s"$stagedDir/events.parquet")
      val cuts = ev.selectExpr(
          "percentile(unix_micros(ts), cast(1 as double)/3) AS c1",
          "percentile(unix_micros(ts), cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val stage = tmpDir(s"trans-stage-$i")
          ev.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
            .orderBy(col("ts")).coalesce(1)
            .write.mode("overwrite").parquet(stage)
          val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(src,
            java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
          Thread.sleep(1100)
        }
      val multi = streamCounts(d, "conv_trans_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(3)}")
    }
  }
}
