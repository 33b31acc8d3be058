package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST18 — the streaming CUSUM monitor must converge to its batch twin:
  * every CLOSED hour bucket's (n, cusum, is_alarm) equals the batch
  * `ev_cusum_trailing` row, and the only rows the stream has not
  * emitted are each type's still-open LAST bucket (verdict-on-close
  * semantics). Multi-batch ts-ordered replay (earlier buckets only in
  * RocksDB state) must emit bit-identical verdicts to the single-batch
  * run — the running S and the trailing ring survive checkpointing.
  */
class StreamingCusumConvergenceSpec extends SparkSpec {

  private lazy val stagedDir: String = {
    val d = tmpDir("cusum")
    graft.Tables.load(spark, sf(), "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy(col("ts"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private type Key = (String, Long)
  private type Verdict = (Long, Double, Boolean)

  private def streamVerdicts(srcDir: String, name: String): Map[Key, Verdict] = {
    val got = EventStreams.runToMemoryAvailableNow(
      CusumStream.cusum(
        spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)).toDF(),
      name, "append")
    got.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    }.toMap
  }

  private def batchVerdicts(): (Map[Key, Verdict], Map[String, Long]) = {
    val rows = graft.SparkEntry.queries("ev_cusum_trailing")(spark, stagedDir)
      .collect()
    val all = rows.map { r =>
      val wsMicros = r.getTimestamp(0).toInstant.toEpochMilli * 1000L +
        (r.getTimestamp(0).getNanos / 1000L) % 1000L
      (r.getString(1), wsMicros) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    }.toMap
    val lastWs = all.keys.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    (all, lastWs)
  }

  private lazy val singleBatch: Map[Key, Verdict] = withRocksDb {
    streamVerdicts(s"$stagedDir/events.parquet", "conv_cusum_one")
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
    // the statistic genuinely accumulates somewhere
    assert(singleBatch.values.exists(_._2 > 0.0))
  }

  test("Lindley recursion equals the reflection closed form on a planted drift") {
    // a series whose level shifts: the recursion (stream arithmetic)
    // and the closed form C - min(0, prefix-min C) (batch arithmetic)
    // must agree term by term in exact fixed-point
    val counts = Seq[Long](10, 11, 9, 10, 10, 11, 30, 32, 31, 33)
    var s = 0L
    var c = 0L
    var minC = 0L
    counts.zipWithIndex.foreach { case (n, i) =>
      val trail = counts.take(i).takeRight(CusumStream.TrailLen)
      val y = CusumStream.yUnscaled(n, trail)
      s = math.max(0L, s + y)
      c += y
      minC = math.min(minC, c)
      assert(s == c - math.min(minC, 0L),
        s"recursion/reflection diverge at step $i: $s vs ${c - math.min(minC, 0L)}")
    }
    assert(s > 4L * 1000000000L, "planted drift must push S past the alarm threshold")
  }

  test("multi-batch ts-ordered replay converges (earlier buckets only in state)") {
    withRocksDb {
      val d = tmpDir("cusum-multi")
      val ev = spark.read.parquet(s"$stagedDir/events.parquet")
      val cuts = ev.selectExpr(
          "percentile(unix_micros(ts), cast(1 as double)/3) AS c1",
          "percentile(unix_micros(ts), cast(2 as double)/3) AS c2")
        .collect().head
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      val ranges = Seq(
        (Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
      ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
        val stage = tmpDir(s"cusum-stage-$i")
        ev.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)
          .orderBy(col("ts")).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val src = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(src,
          java.nio.file.Paths.get(d, f"chunk$i%02d.parquet"))
        Thread.sleep(1100)
      }
      val multi = streamVerdicts(d, "conv_cusum_multi")
      assert(multi == singleBatch,
        s"multi-batch deviates: ${(multi.toSet diff singleBatch.toSet).take(3)}")
    }
  }
}
