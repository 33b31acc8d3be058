package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Throughput + state-plateau soak for the ST14 chained pipeline
  * (dedupWithinWatermark → tumbling agg) at 10× the correctness
  * fixture's event volume (VERDICT r7 item 6).
  *
  * The convergence/boundedness specs prove the pipeline is CORRECT and
  * that state is horizon-bounded; this one measures what a capacity plan
  * needs: rows/sec through the chained stateful operators and the state
  * store's plateau (rows + bytes) per trigger, from the engine's own
  * StreamingQueryProgress. 10% of each replica's rows are injected twice
  * so the dedup stage does real work instead of passing everything
  * through.
  *
  * Defaults: sf0.01 events (10k rows) × 10 replicas = ~110k events
  * (incl. duplicates) in 16 chronological micro-batches. Env overrides
  * for the BASELINE.md soak at bigger volume:
  *   SPARK_GRAFT_SOAK_SRC  — source SF dir (default /root/testdata/sf0.01)
  *   SPARK_GRAFT_SOAK_MULT — replica count (default 10)
  */
class StreamingSoakSpec extends SparkSpec {

  test("ST14 soak at 10x volume: throughput recorded, state plateaus") {
    val src = sys.env.getOrElse("SPARK_GRAFT_SOAK_SRC", sf("sf0.01"))
    val mult = sys.env.getOrElse("SPARK_GRAFT_SOAK_MULT", "10").toInt
    val chunks = 16

    val ev = graft.Tables.load(spark, src, "events")
    // replica i shifts event_id/user_id into a disjoint key space; event
    // TIME is unchanged, so volume grows 10× while the watermark horizon
    // (what bounds state) stays fixed — exactly the load shape a busier
    // production topic has. 10% duplicate injection per replica gives the
    // dedup stage real evictions to do.
    val scaled = (0 until mult).map { i =>
      val r = ev.select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      r.unionByName(r.filter(pmod(col("event_id"), lit(10)) === 0))
    }.reduce(_.unionByName(_))

    val total = scaled.count()
    val uniques = scaled.select("event_id").distinct().count()
    assert(total > uniques, "duplicate injection must produce real dups")

    // chronological chunk files with increasing mtimes (same replay
    // harness as StateBoundednessSpec): maxFilesPerTrigger=1 turns the
    // corpus into ordered micro-batches and advances the watermark
    val d = tmpDir("events-soak")
    val base = System.currentTimeMillis()
    val ranked = scaled.withColumn(
      "chunk", ntile(chunks).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    (1 to chunks).foreach { i =>
      val tmp = tmpDir(s"stage-soak-$i")
      ranked.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(d, f"chunk$i%02d.parquet")
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base - (chunks - i) * 10000L))
    }

    val streamed = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d)
    // The soak runs TWICE: once on the default (HDFS-backed, in-heap)
    // state store — the throughput configuration every other streaming
    // spec uses — and once on RocksDB with changelog checkpointing, the
    // provider a production deployment runs (bounded executor heap,
    // state on local disk) and the source of the per-store metrics
    // recorded below. Confs are captured at query start, so scoping them
    // around each start() is enough; both are restored after.
    def runSoak(rocksdb: Boolean, qname: String) = {
      val stateConf =
        if (!rocksdb) Nil
        else Seq(rocksDbState,
          // full per-commit snapshots dominate small triggers; changelog
          // checkpointing is the production commit path (write the delta,
          // snapshot in the background)
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      withConf(stateConf: _*) {
        val t0 = System.nanoTime()
        val q = EventStreams.dedupThenTumbling(streamed)
          .writeStream.format("memory").queryName(qname)
          .outputMode("append").start()
        q.processAllAvailable()
        val w = (System.nanoTime() - t0) / 1e9
        val p = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        q.stop()
        (w, p)
      }
    }
    val (wallSec, progresses) = runSoak(rocksdb = false, "soak_chained")
    val (wallRocks, progRocks) = runSoak(rocksdb = true, "soak_chained_rocks")

    // every input row went through the chained operators, on both stores
    val processed = progresses.map(_.numInputRows).sum
    assert(processed == total, s"processed $processed of $total rows")
    assert(progRocks.map(_.numInputRows).sum == total,
      "rocksdb run did not process every row")

    // ── throughput (the capacity number) ─────────────────────────────
    val busySec = progresses.map(_.batchDuration).sum / 1000.0
    val rps = processed / busySec
    info(f"soak: $processed rows in $busySec%.1f s busy ($wallSec%.1f s wall) " +
      f"across ${progresses.size} triggers = $rps%.0f rows/sec through dedup→window")
    val busyRocks = progRocks.map(_.batchDuration).sum / 1000.0
    info(f"soak[rocksdb]: $busyRocks%.1f s busy ($wallRocks%.1f s wall) = " +
      f"${processed / busyRocks}%.0f rows/sec — per-trigger commit cost " +
      "dominates at this micro-batch size; amortizes at production batches")

    // ── per-trigger latency percentiles (the SLA numbers) ────────────
    // batchDuration is end-to-end per trigger; addBatch isolates the
    // execution phase (the part that scales with operator cost, vs the
    // fixed offset-log/planning overhead around it).
    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))
    val trigMs = progresses.map(_.batchDuration)
    val addBatchMs = progresses.flatMap(pr =>
      Option(pr.durationMs.get("addBatch")).map(_.toLong))
    info(f"soak: trigger latency p50=${pct(trigMs, 0.5)} ms " +
      f"p95=${pct(trigMs, 0.95)} ms max=${trigMs.max} ms; " +
      f"addBatch p50=${pct(addBatchMs, 0.5)} ms p95=${pct(addBatchMs, 0.95)} ms")
    assert(trigMs.forall(_ > 0) && pct(trigMs, 0.95) >= pct(trigMs, 0.5))
    val rockMs = progRocks.map(_.batchDuration)
    info(f"soak[rocksdb]: trigger latency p50=${pct(rockMs, 0.5)} ms " +
      f"p95=${pct(rockMs, 0.95)} ms max=${rockMs.max} ms")

    // ── state plateau (rows + bytes, per operator) ───────────────────
    val stateful = progresses.filter(_.stateOperators.nonEmpty)
    val byOp = stateful.flatMap(_.stateOperators).groupBy(_.operatorName)
    assert(byOp.size >= 2, s"expected chained dedup+agg state ops, got ${byOp.keySet}")
    byOp.foreach { case (op, metrics) =>
      val rows = metrics.map(_.numRowsTotal)
      val peak = rows.max
      val peakMb = metrics.map(_.memoryUsedBytes).max / 1048576.0
      val removed = metrics.map(_.numRowsRemoved).sum
      info(f"soak: $op peak state = $peak rows / $peakMb%.1f MiB, evicted $removed rows")
      assert(removed > 0, s"$op never evicted state rows")
      // plateau: the horizon (2h watermark), not the history, bounds
      // live state — the tail of the run must not out-grow the body
      assert(peak < total / 5,
        s"$op peak state $peak grows with input ($total rows) — not bounded")
      val tail = rows.drop(rows.size * 3 / 4)
      val body = rows.take(rows.size * 3 / 4)
      assert(tail.max <= math.max(body.max * 3 / 2, 100),
        s"$op state still climbing at end of soak: body peak ${body.max}, " +
          s"tail peak ${tail.max}")
    }

    // ── RocksDB store metrics (proof the production provider ran, and
    // the numbers a capacity plan reads: pinned-block memory, SST size,
    // commit latency) ────────────────────────────────────────────────
    import scala.jdk.CollectionConverters._
    val custom = progRocks.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.asScala)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.longValue()).max }
    val rocks = custom.filter(_._1.startsWith("rocksdb"))
    assert(rocks.nonEmpty,
      s"no rocksdb* custom metrics — provider override didn't take: ${custom.keySet}")
    Seq("rocksdbTotalMemoryUsage", "rocksdbSstFileSize", "rocksdbCommitTotalLatency")
      .foreach(k => rocks.get(k).foreach(v => info(s"soak[rocksdb]: $k max = $v")))
  }
}
