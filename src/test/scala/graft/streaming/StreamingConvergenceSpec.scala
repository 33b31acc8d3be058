package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.queries.EventQueries

/** SURVEY §5.2.5: replay events.parquet as a file stream; the final
  * streaming state must equal the batch computation.
  */
class StreamingConvergenceSpec extends SparkSpec {

  private def batchQuery(name: String): DataFrame =
    EventQueries.defs.find(_.name == name).get.fn(spark, sf())

  private def assertSameRows(streamed: DataFrame, batch: DataFrame): Unit = {
    val cols = batch.columns.sorted.map(org.apache.spark.sql.functions.col)
    val s = streamed.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    val b = batch.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted
    assert(s.length == b.length, s"row count ${s.length} != ${b.length}")
    assert(s.sameElements(b))
  }

  // The streaming file source needs a DIRECTORY; stage the fixture file
  // into one (also how new files would arrive incrementally in prod).
  private lazy val eventsDir: String = {
    import java.nio.file.{Files, Paths}
    val d = tmpDir("events-stream")
    Files.copy(Paths.get(s"${sf()}/events.parquet"),
      Paths.get(d, "events.parquet"))
    d
  }

  private def streamEvents(): DataFrame =
    EventStreams.readEvents(spark, eventsDir)

  test("ST2 tumbling window converges to the batch answer") {
    val got = EventStreams.runToMemory(
      EventStreams.tumbling(streamEvents()), "conv_tumbling", "complete")
    assertSameRows(got, batchQuery("st_tumbling_window"))
  }

  test("ST2 sliding window converges to the batch answer") {
    val got = EventStreams.runToMemory(
      EventStreams.sliding(streamEvents()), "conv_sliding", "complete")
    assertSameRows(got, batchQuery("st_sliding_window"))
  }

  test("ST3 session window converges to the batch answer") {
    val got = EventStreams.runToMemory(
      EventStreams.sessions(streamEvents()), "conv_sessions", "complete")
    assertSameRows(got, batchQuery("st_session_window"))
  }

  test("ST5 streaming dedup keeps exactly one row per key") {
    val got = EventStreams.runToMemory(
      EventStreams.dedup(streamEvents()), "conv_dedup", "append")
    val batch = batchQuery("st_dedup_events")
    // dropDuplicatesWithinWatermark keeps the FIRST ARRIVED row per key —
    // on an unordered replay that's not necessarily the earliest-ts row,
    // so convergence here is on the key set, not row identity.
    assert(got.count() == batch.count())
    val gotKeys = got.select("user_id", "event_type").collect().map(_.toString).sorted
    val expKeys = batch.select("user_id", "event_type").collect().map(_.toString).sorted
    assert(gotKeys.sameElements(expKeys))
  }

  test("ST1/ST4 multi-file replay (several micro-batches) still converges") {
    // Split events into 4 files: maxFilesPerTrigger=1 forces 4 separate
    // micro-batches through the watermark/window state machinery —
    // the real incremental-arrival shape, not one catch-all batch.
    val d = tmpDir("events-multi")
    graft.Tables.load(spark, sf(), "events")
      .repartition(4).write.mode("overwrite").parquet(d)
    val streamed = spark.readStream
      .schema(graft.Tables.load(spark, sf(), "events").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d)
    val got = EventStreams.runToMemory(
      EventStreams.tumbling(streamed), "conv_multi_tumbling", "complete")
    assertSameRows(got, batchQuery("st_tumbling_window"))
  }

  test("mapGroupsWithState running per-user state converges to the batch answer") {
    // update-mode memory sink records one row per (key, trigger); the
    // FINAL state per key must equal the batch computation. Multi-file
    // replay forces several triggers so state genuinely accumulates.
    val d = tmpDir("events-state")
    graft.Tables.load(spark, sf(), "events")
      .repartition(4).write.mode("overwrite").parquet(d)
    val streamed = spark.readStream
      .schema(graft.Tables.load(spark, sf(), "events").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d)
    val updates = EventStreams.runToMemory(
      EventStreams.statefulUserAgg(streamed).toDF(), "conv_state", "update")
    // last update per user = final state (n_events strictly grows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("user_id"))
      .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
    val finalState = updates
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("rn") === 1)
      .drop("rn")
    val batch = EventStreams.batchUserAgg(
      graft.Tables.load(spark, sf(), "events"))
    assertSameRows(finalState, batch)
  }

  test("transformWithState (Spark 4 API, RocksDB store) converges to the batch answer") {
    withRocksDb {
      val d = tmpDir("events-tws")
      graft.Tables.load(spark, sf(), "events")
        .repartition(4).write.mode("overwrite").parquet(d)
      val streamed = spark.readStream
        .schema(graft.Tables.load(spark, sf(), "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
      val updates = EventStreams.runToMemory(
        EventStreams.statefulUserAggTws(streamed).toDF(), "conv_tws", "update")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(org.apache.spark.sql.functions.col("user_id"))
        .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
      val finalState = updates
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(org.apache.spark.sql.functions.col("rn") === 1)
        .drop("rn")
      assertSameRows(finalState,
        EventStreams.batchUserAgg(graft.Tables.load(spark, sf(), "events")))
    }
  }

  test("stream-stream interval join converges to the batch answer") {
    val got = EventStreams.runToMemory(
      EventStreams.intervalJoin(streamEvents()), "conv_ijoin", "append")
    val batch = graft.queries.AnalyticQueries.defs
      .find(_.name == "ev_interval_join").get.fn(spark, sf())
    assertSameRows(got, batch)
  }

  test("ST7 left-outer interval join: inner rows match batch exactly; " +
      "null-extended rows appear iff unmatched, modulo the watermark frontier") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.runToMemory(
      EventStreams.intervalJoinLeftOuter(streamEvents()), "conv_ojoin", "append")
    val batch = graft.queries.AnalyticQueries.defs
      .find(_.name == "ev_interval_join_outer").get.fn(spark, sf())
    // 1. matched (inner) rows are identical to the batch inner subset
    assertSameRows(got.filter(col("click_id").isNotNull),
      batch.filter(col("click_id").isNotNull))
    // 2. every streamed null-extended row is unmatched in batch too
    val streamedNull = got.filter(col("click_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    val batchNull = batch.filter(col("click_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(streamedNull.subsetOf(batchNull),
      s"spurious null-extended rows: ${streamedNull.diff(batchNull).take(5)}")
    // 3. unmatched purchases safely below the final watermark MUST have
    // been emitted (the engine only withholds rows it cannot yet prove
    // final — those within the watermark delay of end-of-stream).
    val ev = graft.Tables.load(spark, sf(), "events")
    val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0).getTime
    val safeCutoff = new java.sql.Timestamp(maxTs - 2L * 3600 * 1000)
    val mustEmit = batch.filter(col("click_id").isNull &&
      col("purchase_ts") < lit(safeCutoff))
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(mustEmit.subsetOf(streamedNull),
      s"withheld rows below the frontier: ${mustEmit.diff(streamedNull).take(5)}")
  }

  test("Trigger.AvailableNow processes the backlog, terminates, and matches batch") {
    val got = EventStreams.runToMemoryAvailableNow(
      EventStreams.tumbling(streamEvents()), "conv_availnow", "complete")
    assertSameRows(got, batchQuery("st_tumbling_window"))
  }

  test("transformWithState MapState: per-user per-type counts converge to batch") {
    import org.apache.spark.sql.functions._
    withRocksDb {
      val d = tmpDir("events-tws-map")
      graft.Tables.load(spark, sf(), "events")
        .repartition(4).write.mode("overwrite").parquet(d)
      val streamed = spark.readStream
        .schema(graft.Tables.load(spark, sf(), "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
      val updates = EventStreams.statefulTypeCountsTws(streamed).toDF()
      val got = EventStreams.runToMemory(updates, "conv_tws_map", "update")
      // update mode emits per-trigger snapshots; the final count per
      // (user, type) is the max across emissions
      val finalCounts = got.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"))
      val batch = graft.Tables.load(spark, sf(), "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
      assertSameRows(finalCounts, batch)
    }
  }

  test("stream-static join enriches every event with the broadcast dimension") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, sf(), "events")
    // static per-user dimension derived from the same fixture
    val dim = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        when(col("n") >= 10, "heavy").otherwise("light").as("user_tier"))
    val got = EventStreams.runToMemory(
      EventStreams.streamStaticJoin(streamEvents(), dim), "conv_ssjoin", "append")
    val batch = ev.join(dim, Seq("user_id"), "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"), col("user_tier"))
    assertSameRows(got, batch)
  }

  test("ST14 chained stateful ops (dedup → windowed agg) converge to batch " +
      "despite duplicate arrivals") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, sf(), "events")
    val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
    // three arrivals, strictly ordered by mtime so maxFilesPerTrigger=1
    // replays them as three micro-batches:
    //   1. the full event stream;
    //   2. an exact REPLAY of the last hour (at-least-once delivery —
    //      the idempotency dedup must drop every row);
    //   3. a far-future sentinel that advances the watermark past every
    //      real window so append mode flushes them.
    val d = tmpDir("events-chained")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = tmpDir(s"stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(d, s"$name.parquet")
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    val base = System.currentTimeMillis()
    val dupWindow = new java.sql.Timestamp(maxTs.getTime - 3600 * 1000L)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)
    import spark.implicits._
    val sentinel = Seq((-1L, sentinelTs, 0L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    stage(ev, "a_full", base - 20000)
    stage(ev.filter(col("ts") >= lit(dupWindow)), "b_replay", base - 10000)
    stage(sentinel, "c_sentinel", base)
    val streamed = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d)
    val got = EventStreams.runToMemory(
      EventStreams.dedupThenTumbling(streamed), "conv_chained", "append")
      .filter(col("event_type") =!= "flush")
    assertSameRows(got, batchQuery("st_tumbling_window"))
  }

  test("ST1 readEvents on an empty monitored directory falls back to the legacy schema") {
    // a file stream's normal initial state: nothing to probe yet — the
    // eager schema probe must not throw, and the stream must run (to
    // zero rows) with the normalized TimestampType ts (ADVICE r10)
    val d = tmpDir("events-empty")
    val df = EventStreams.readEvents(spark, d)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val got = EventStreams.runToMemory(
      EventStreams.tumbling(df), "conv_empty_dir", "append")
    assert(got.count() == 0)
  }

  test("ST6 foreachBatch upsert sink lands exactly the deduped key count") {
    graft.sources.InMemorySink.clear("t_stream_sink")
    EventStreams.runToSink(
      streamEvents().select("user_id", "event_type", "event_id", "ts"),
      "t_stream_sink", pk = Seq("user_id", "event_type"),
      checkpointDir = tmpDir("ckpt"))
    val expected = batchQuery("st_dedup_events").count()
    assert(graft.sources.InMemorySink("t_stream_sink").count() == expected)
  }
}
