package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Structured Streaming forms of the event operators (SURVEY §2.4).
  *
  * The reference's streaming pipeline is a pull-based micro-batch loop
  * (`iter_batches` — examples/ingest_parquet_to_mongo_stream.py:139);
  * here that's `readStream` over a parquet directory with
  * `maxFilesPerTrigger` as backpressure (≙ the reference's bounded
  * queue, ingest_parquet_to_mongo_bulk.py:145).
  *
  * Each transform below is the SAME expression tree as the batch form in
  * `graft.queries.EventQueries` — the convergence spec replays
  * events.parquet through these and asserts equality with the batch
  * answers (SURVEY §5.2.5).
  */
object EventStreams {

  /** events schema with `ts` as the given physical type (streams can't
    * infer; the fixture has shipped ts as both raw INT64 nanos and
    * TIMESTAMP(MICROS) NTZ — see Tables.loadEvents).
    */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** ST1: micro-batch file stream over a directory of events parquet.
    *
    * The file stream needs its schema up front, and the fixture's `ts`
    * annotation has varied across driver editions — probe `ts` at
    * stream-build time from one file's footer on the driver
    * (`Tables.footerSchema`: metadata only, no job), then apply the
    * same ns→µs / NTZ→UTC normalization as the batch loader so every
    * downstream transform sees one TimestampType regardless of
    * edition. An EMPTY monitored directory (a file stream's normal
    * initial state) has nothing to probe — fall back to the legacy
    * INT64-nanos schema, the one edition that predates the probe.
    * Single-edition-per-directory is assumed: the probe reads one
    * file's footer and its schema is applied to every file.
    */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      try Tables.footerSchema(spark, dir)("ts").dataType
      catch {
        // 'Unable to infer schema' / missing path: no files yet
        case _: org.apache.spark.sql.AnalysisException => LongType
      }
    val raw = spark.readStream
      .schema(eventsSchema(tsType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
    val ts = tsType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case _ => col("ts")
    }
    raw.withColumn("ts", ts)
  }

  /** ST2 + ST4: watermarked tumbling window aggregation. */
  def tumbling(events: DataFrame, width: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** ST2 sliding variant. */
  def sliding(events: DataFrame, width: String = "30 minutes",
      slide: String = "10 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))

  /** ST3: session window per user. */
  def sessions(events: DataFrame, gap: String = "4 hours",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))

  /** ST5: stateful streaming dedup within the watermark. */
  def dedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))

  /** ST14: CHAINED stateful operators in ONE streaming query (a Spark 4
    * multi-stateful pipeline): idempotency-key dedup
    * (`dropDuplicatesWithinWatermark` on event_id — the exactly-once
    * guard every at-least-once source needs) feeding a watermarked
    * tumbling aggregation. Dedup state and window state live in the same
    * query; append mode is required, so windows emit only once the
    * watermark passes their end — the convergence spec pushes a sentinel
    * event to flush them.
    */
  def dedupThenTumbling(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** ST6: run any of the above to a named in-memory sink and wait for all
    * available input — the synchronous smoke path for local validation.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }

  /** Like [[runToMemory]] but with `Trigger.AvailableNow`: process every
    * file already present (respecting `maxFilesPerTrigger` rate limits
    * per micro-batch) and then STOP — the batch-like run mode a
    * scheduled backfill job uses, with the same checkpoint/state
    * semantics as a continuous run.
    */
  def runToMemoryAvailableNow(df: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // AvailableNow terminates on its own
    df.sparkSession.table(name)
  }

  /** ST6 with side effects: foreachBatch into a DocumentSink, the
    * streaming analogue of the reference's `as_completed` writer loop
    * (examples/ingest_parquet_to_mongo_stream.py:163-181). Checkpointing
    * + idempotent upsert replace the reference's manual retry advice
    * (README.md:104-109).
    */
  def runToSink(events: DataFrame, sinkName: String, pk: Seq[String],
      checkpointDir: String): Unit = {
    val q = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Ingest.bulkUpsert(batch, sinkName, pk)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Stream-stream interval join: purchases matched to clicks by the same
    * user within the preceding `window`. Both sides carry watermarks and
    * the join condition bounds click_ts on both ends, so the engine can
    * evict state — the scalable shape for streaming attribution. Same
    * expression tree as the `ev_interval_join` batch query (the
    * convergence oracle).
    */
  def intervalJoin(events: DataFrame, window: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    p.join(c,
        col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") > col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Left-outer stream-stream interval join: like [[intervalJoin]] but
    * unattributed purchases are kept (null click columns). The engine can
    * only emit a null-extended row once the watermark proves no matching
    * click can still arrive, so rows near end-of-stream are withheld —
    * the convergence spec accounts for that frontier.
    */
  def intervalJoinLeftOuter(events: DataFrame, window: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    p.join(c,
        col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") > col("purchase_ts") - expr(s"INTERVAL $window"),
        "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Stream-static join: enrich the event stream with a STATIC per-user
    * dimension (computed once, broadcast into every micro-batch). No
    * watermark or state needed — the static side is immutable for the
    * query's lifetime, which is exactly the contract of a dimension
    * snapshot at 100 TB (rebuild the snapshot → restart the query).
    */
  def streamStaticJoin(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("user_tier"))

  /** Batch replay of the same event data, for convergence checks. */
  def batchEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  // ── custom state: mapGroupsWithState ───────────────────────────────

  /** Running per-user state maintained by the engine's own logic rather
    * than a built-in aggregate — the `mapGroupsWithState` surface for
    * state machines the declarative API can't express. Sums are kept as
    * scaled-long cents so incremental (per-trigger) accumulation is
    * bit-identical to the batch answer regardless of arrival order.
    */
  final case class UserState(n: Long, sumCents: Long, maxTsMicros: Long)
  final case class UserAgg(user_id: Long, n_events: Long, sum_value: Double,
      last_ts: java.sql.Timestamp)

  def statefulUserAgg(events: DataFrame): Dataset[UserAgg] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout

    events
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserAgg](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          rows.foreach { case (_, v, tsUs) =>
            s = UserState(
              s.n + 1,
              s.sumCents + math.round(v * 100.0),
              math.max(s.maxTsMicros, tsUs))
          }
          state.update(s)
          UserAgg(uid, s.n, s.sumCents / 100.0, microsToTs(s.maxTsMicros))
      }
  }

  // ── custom state, Spark 4 API: transformWithState ──────────────────

  /** Same per-user state machine as [[statefulUserAgg]], on the Spark 4
    * `transformWithState` arbitrary-state API (typed `ValueState` handle,
    * RocksDB-backed store). Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` on the query; identical cents
    * arithmetic keeps it bit-convergent with the batch oracle.
    */
  class UserAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double, Long), UserAgg] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var state: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("agg",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double, Long)],
        timerValues: TimerValues): Iterator[UserAgg] = {
      var s = if (state.exists()) state.get() else UserState(0L, 0L, Long.MinValue)
      rows.foreach { case (_, v, tsUs) =>
        s = UserState(s.n + 1, s.sumCents + math.round(v * 100.0),
          math.max(s.maxTsMicros, tsUs))
      }
      state.update(s)
      Iterator.single(UserAgg(key, s.n, s.sumCents / 100.0, microsToTs(s.maxTsMicros)))
    }
  }

  def statefulUserAggTws(events: DataFrame): Dataset[UserAgg] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserAggProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MapState variant of the Spark-4 arbitrary-state API: per-user map
    * event_type → count, updated incrementally per micro-batch. The map
    * lives in the state store (RocksDB in tests), entries are updated
    * point-wise — the shape for high-cardinality per-key sub-state where
    * a whole-value rewrite (ValueState) would churn the store.
    */
  class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.Set[String]()
      rows.foreach { case (_, tpe) =>
        val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
        counts.updateValue(tpe, cur + 1L)
        touched += tpe
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t))).toSeq.iterator
    }
  }

  def statefulTypeCountsTws(events: DataFrame): Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Epoch micros → Timestamp preserving microsecond precision. */
  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Batch form of the same state machine (identical cents arithmetic),
    * the convergence oracle for `statefulUserAgg`.
    */
  def batchUserAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100.0).cast("long")) / 100.0).as("sum_value"),
        max(col("ts")).as("last_ts"))
}
