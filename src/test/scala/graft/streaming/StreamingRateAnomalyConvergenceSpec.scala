package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST17 — the streaming rate monitor must converge to its batch twin:
  * every CLOSED hour bucket's (n, trail_mu, z, is_anomaly) equals the
  * batch `ev_rate_anomaly` row, and the only rows the stream has not
  * emitted are each type's still-open LAST bucket (verdict-on-close
  * semantics). Multi-batch ts-ordered replay (earlier buckets only in
  * RocksDB state) must emit bit-identical verdicts to the single-batch
  * run.
  */
class StreamingRateAnomalyConvergenceSpec extends SparkSpec {

  /** Normalized events (one TimestampType ts) staged under
    * `<dir>/events.parquet` so the batch query and the stream read the
    * SAME bytes.
    */
  private lazy val stagedDir: String = {
    val d = tmpDir("rate-anomaly")
    graft.Tables.load(spark, sf(), "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy(col("ts"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private type Key = (String, Long)
  private type Verdict = (Long, Option[Double], Option[Double], Boolean)

  private def streamVerdicts(srcDir: String, name: String): Map[Key, Verdict] = {
    val got = EventStreams.runToMemoryAvailableNow(
      RateAnomalyStream.rateAnomaly(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)).toDF(),
      name, "append")
    got.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))
    }.toMap
  }

  private def batchVerdicts(): (Map[Key, Verdict], Map[String, Long]) = {
    val rows = graft.SparkEntry.queries("ev_rate_anomaly")(spark, stagedDir)
      .collect()
    val all = rows.map { r =>
      val wsMicros = r.getTimestamp(0).toInstant
        .toEpochMilli * 1000L +
        (r.getTimestamp(0).getNanos / 1000L) % 1000L
      (r.getString(1), wsMicros) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))
    }.toMap
    val lastWs = all.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    (all, lastWs)
  }

  private lazy val singleBatch: Map[Key, Verdict] = withRocksDb {
    streamVerdicts(s"$stagedDir/events.parquet", "conv_rate_one")
  }

  test("closed buckets equal the batch twin; only open last buckets differ") {
    val (batch, lastWs) = batchVerdicts()
    val expected = batch.filter { case ((t, ws), _) => ws != lastWs(t) }
    assert(singleBatch == expected,
      s"stream emitted ${singleBatch.size} verdicts, batch-minus-open has " +
        s"${expected.size}; first diffs: ${
          (singleBatch.toSet diff expected.toSet).take(3)} / ${
          (expected.toSet diff singleBatch.toSet).take(3)}")
    assert(singleBatch.nonEmpty)
    // the trailing math genuinely fires: some bucket carries a z score
    assert(singleBatch.values.exists(_._3.isDefined))
  }

  test("multi-batch ts-ordered replay converges (earlier buckets only in state)") {
    withRocksDb {
      val d = tmpDir("rate-anomaly-multi")
      val ev = spark.read.parquet(s"$stagedDir/events.parquet")
      val cuts = ev.selectExpr(
          "percentile(unix_micros(ts), cast(1 as double)/3) AS c1",
          "percentile(unix_micros(ts), cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      val ranges = Seq(
        (Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
        val stage = tmpDir(s"rate-stage-$i")
        ev.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
          .orderBy(col("ts")).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(src,
          java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
        Thread.sleep(1100)
      }
      val multi = streamVerdicts(d, "conv_rate_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(3)}")
    }
  }
}
