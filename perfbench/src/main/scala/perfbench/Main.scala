package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.sources.{DocumentSource, DocumentSourceRegistry, Generators, Ingest, InMemorySink, TableIO}
import graft.streaming.EventStreams

/** Benchmark runner. Runs one workload in one JVM as a closed loop with
  * one client, and writes raw measurements as JSON for `run.py`, which
  * turns them into metrics and checks results against expected.json.
  *
  *   perfbench.Main run --workload W --data DIR --work DIR --out FILE
  *                      --seed N --seconds S --trace 0|1
  *   perfbench.Main reference --data DIR --out DIR
  *
  * `reference` runs every query of the olap workload once and writes
  * each result as parquet plus its digest, for the one-time DuckDB
  * cross-check in oracle.py.
  */
object Main {

  /** The odd-numbered TPC-H queries: aggregation (1), 3- to 6-way joins
    * (3, 5, 7, 9), a 0-row result (11), an outer join (13), a view with
    * max (15), a correlated subquery (17), disjunctive predicates (19)
    * and exists/not exists (21). All 22 do not fit the run-time budget.
    */
  val olapQueries: Seq[String] = (1 to 21 by 2).map(i => f"q_tpch$i%02d")
  val fixtures: Map[String, Seq[String]] = Map(
    "olap_tpch" -> Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem"),
    "etl_roundtrip" -> Seq.empty)

  /** Setups per run; `run.py` reports the median. */
  val setups = 3
  /** Rows of the ETL table, in the measured passes and the warm-up pass. */
  val etlRows = 25000L
  final case class Conf(flags: Map[String, String]) {
    def apply(k: String): String = flags.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
  }

  /** One measured operation: a query, or one stage of the ETL pass.
    * `note` names the path a stage took (the export's fetch rung).
    */
  final case class Op(name: String, seconds: Double, ok: Boolean,
      error: String = null, rows: Long = -1L, digest: String = null,
      layers: Map[String, Double] = Map.empty, note: String = null)

  /** The benchmark's session, with graft.Bench's settings. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val entryMs = System.currentTimeMillis()
    require(argv.nonEmpty && argv.length % 2 == 1, "usage: perfbench.Main MODE --key value ...")
    val conf = Conf(argv.tail.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --flag, got $k"); k.drop(2) -> v
    }.toMap)
    argv.head match {
      case "run" => new Runner(conf, entryMs).run()
      case "reference" => reference(conf)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def reference(conf: Conf): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors)
    val out = conf("out")
    val oracle = olapQueries.map(n => n -> SparkEntry.oracleSql.getOrElse(n,
      throw new IllegalStateException(s"$n has no oracle SQL"))).toMap
    val entries = olapQueries.map { name =>
      val df = SparkEntry.queries(name)(spark, conf("data"))
      val rows = df.collect()
      val schema = df.schema
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      spark.catalog.clearCache()
      System.err.println(s"[reference] $name ${rows.length} rows")
      name -> Map("rows" -> rows.length.toLong, "digest" -> Digest.rows(schema, rows))
    }
    // tools/check.py reads the oracle SQL beside the results
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(oracle))
    Files.writeString(Paths.get(s"$out/reference.json"), Json.render(entries.toMap))
    spark.stop()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Parquet part files and their total bytes under `dir`. */
  private def parquetFiles(dir: String): (Int, Long) = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }

  final class Runner(conf: Conf, entryMs: Long) {
    private val workload = conf("workload")
    require(fixtures.contains(workload), s"unknown workload $workload")
    private val data = conf("data")
    private val work = conf("work")
    private val seed = conf("seed").toLong
    private val seconds = conf("seconds").toDouble
    private val traced = conf("trace") == "1"
    private val cores = Runtime.getRuntime.availableProcessors
    private val origin = System.nanoTime()
    private val spans = new Spans(s"$workload-$seed", origin)
    private var spark: SparkSession = _
    private var sched: SchedulerCounter = _
    private var stream: StreamCounter = _
    // per pass: a trace run measures untraced, traced, untraced, so the
    // tracing overhead can be read against passes on both sides of it
    private var tracing = false

    private def now(): Double = (System.nanoTime() - origin) / 1e9

    private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    // time spent on result checks and heap samples, kept out of wall_s
    private var untimedNs = 0L
    private def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }

    // live heap at each measured pass's high-water point: heap in use
    // after a full GC, taken once per pass where the pass holds the most
    // (the end of the query pass; the ETL pass with the store full and
    // the export still referenced). Unlike the old-generation peak, it
    // does not depend on when young collections promoted garbage. Blocks
    // in Spark's storage memory (broadcast pieces that the context
    // cleaner frees asynchronously) are left out, so the sample does not
    // depend on how far that cleaner has got.
    private var liveHeap = -1L
    private var sampling = false
    private def sampleHeap(): Unit = if (sampling) untimed {
      // a task thread can keep state of the last task it ran (a join's hash
      // relation and its memory pages) until it runs another; many tiny
      // tasks replace that state on every thread, so the sample does not
      // depend on which query ran last
      spark.sparkContext.parallelize(1 to 16 * cores, 16 * cores).foreach(_ => ())
      // the status store must have applied every event first
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      // the least of three samples: objects the first collection finds
      // dead are released by Spark's context cleaner on its own thread
      val live = (1 to 3).map { _ =>
        System.gc()
        val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val stored = spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        used - stored
      }.min
      liveHeap = live
    }

    /** Fresh session plus a row count of every fixture the workload uses. */
    private def setUp(): Double = {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores)
      if (traced) {
        sched = new SchedulerCounter
        spark.sparkContext.addSparkListener(sched)
        stream = new StreamCounter
        spark.streams.addListener(stream)
      }
      fixtures(workload).foreach(t => Tables.load(spark, data, t).count())
      (System.nanoTime() - t0) / 1e9
    }

    private def counts(): Counts = if (tracing) sched.snapshot(spark) else Counts()

    /** Runs `body` inside a span; returns its result and seconds. */
    private def timed[T](span: String, parent: Int)(body: => T): (T, Double) = {
      val i = spans.open(span, parent)
      val t0 = System.nanoTime()
      try {
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally spans.close(i)
    }

    private def message(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

    // ---- query workloads -------------------------------------------------

    private def query(name: String, parent: Int): Op = {
      val fn = SparkEntry.queries(name)
      val top = spans.open(name, parent)
      try {
        val c0 = counts()
        val t0 = System.nanoTime()
        val (df, buildS) = timed(s"$name/build", top)(fn(spark, data))
        val c1 = counts()
        val (_, planS) = timed(s"$name/plan", top)(df.queryExecution.executedPlan)
        val (rows, actionS) = timed(s"$name/action", top)(df.collect())
        val total = if (tracing) buildS + planS + actionS
          else (System.nanoTime() - t0) / 1e9
        spans.close(top)
        val layers = if (!tracing) Map.empty[String, Double] else {
          val c2 = counts()
          val (exchanges, broadcasts) = PlanShape.of(df)
          val b = c1 - c0
          execLayers(c2 - c1, actionS) ++ Map(
            "queries.build_s" -> buildS, "queries.build_jobs" -> b.jobs.toDouble,
            "queries.build_tasks" -> b.tasks.toDouble,
            "queries.build_task_s" -> b.taskMs / 1e3,
            "catalyst.plan_s" -> planS, "catalyst.exchanges" -> exchanges.toDouble,
            "catalyst.broadcasts" -> broadcasts.toDouble,
            "exec.result_rows" -> rows.length.toDouble,
            "queries.empty_results" -> (if (rows.isEmpty) 1.0 else 0.0))
        }
        Op(name, total, ok = true, rows = rows.length.toLong,
          digest = untimed(Digest.rows(df.schema, rows)), layers = layers)
      } catch {
        case e: Exception =>
          spans.close(top)
          Op(name, -1, ok = false, error = message(e))
      } finally untimed(spark.catalog.clearCache())
    }

    private def execLayers(c: Counts, wallS: Double): Map[String, Double] = Map(
      "exec.action_s" -> wallS, "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble, "exec.tasks" -> c.tasks.toDouble,
      "exec.task_s" -> c.taskMs / 1e3, "exec.cpu_s" -> c.cpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1e3, "exec.deser_s" -> c.deserMs / 1e3,
      "exec.shuffle_write_mb" -> c.shuffleWriteB / 1e6,
      "exec.shuffle_read_mb" -> c.shuffleReadB / 1e6,
      "exec.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "exec.input_mb" -> c.inputB / 1e6, "exec.spill_mb" -> c.spillB / 1e6)

    /** Direct `Tables.load` calls for the workload's fixtures (traced). */
    private def tableLoads(parent: Int): Map[String, Double] = {
      val c0 = counts()
      val (_, s) = timed("tables.load", parent) {
        fixtures(workload).foreach(t => Tables.load(spark, data, t))
      }
      Map("tables.load_s" -> s, "tables.load_jobs" -> (counts() - c0).jobs.toDouble)
    }

    private def queryPass(p: Int, top: Int): (Seq[Op], Map[String, Double]) = {
      val order = new Random(seed * 1000003L + p).shuffle(olapQueries)
      // untimed: the pass wall of a traced pass then differs from an
      // untraced one only by the cost of tracing
      val loads = if (tracing) untimed(tableLoads(top)) else Map.empty[String, Double]
      val ops = order.map(query(_, top))
      sampleHeap()
      (ops, loads)
    }

    // ---- etl_roundtrip ---------------------------------------------------

    private def etlPass(p: Int, top: Int): Seq[Op] = {
      val dir = Paths.get(work, s"etl-$p")
      deleteTree(dir)
      val gen = s"$dir/generated.parquet"
      val exported = s"$dir/exported.parquet"
      val sink = s"perfbench-$p"
      val ops = Seq.newBuilder[Op]
      // a failed stage fails the rest of the pass: later stages need its output
      var failed: String = null

      def stage(name: String, note: => String = null)(body: => Map[String, Double]): Unit =
        if (failed != null) ops += Op(name, -1, ok = false, error = s"skipped: $failed")
        else try {
          val c0 = counts()
          val (layers, s) = timed(name, top)(body)
          val extra = if (!tracing) Map.empty[String, Double]
            else execLayers(counts() - c0, s) ++ layers
          ops += Op(name, s, ok = true, layers = extra, note = note)
        } catch { case e: Exception =>
          failed = s"$name: ${message(e)}"
          ops += Op(name, -1, ok = false, error = message(e))
        }

      def check(cond: Boolean, what: => String): Unit =
        if (!cond) throw new IllegalStateException(what)

      var expected: (Long, String) = null
      stage("generate_write") {
        TableIO.write(Generators.big50(spark, etlRows, seed), gen, maxRecordsPerFile = 10000L)
        val (files, bytes) = parquetFiles(gen)
        Map("sources.files_written" -> files.toDouble,
          "sources.stored_bytes_per_row" -> bytes.toDouble / etlRows)
      }
      stage("read") {
        expected = Digest.table(TableIO.read(spark, gen))
        check(expected._1 == etlRows, s"read ${expected._1} rows, wrote $etlRows")
        Map.empty
      }
      stage("upsert") {
        val m = Ingest.bulkUpsert(TableIO.read(spark, gen), sink, Seq("i_0"))
        val stored = InMemorySink(sink).count()
        check(m.rows == etlRows && stored == etlRows,
          s"upsert wrote ${m.rows} rows, store holds $stored, expected $etlRows")
        Map("ingest.batches" -> m.batches.toDouble,
          "ingest.batch_p50_ms" -> m.dist.msMedian,
          "ingest.batch_peak_ms" -> m.dist.msPeak.toDouble,
          "ingest.sink_busy_s" -> m.writeMs / 1e3)
      }
      stage("stream_upsert") {
        val schema = TableIO.read(spark, gen).schema
        val events = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(gen)
        EventStreams.runToSink(events, sink, Seq("i_0"), s"$dir/checkpoint")
        val stored = InMemorySink(sink).count()
        check(stored == etlRows, s"replace pass changed the store count to $stored")
        if (!tracing) Map.empty else {
          PerfbenchBridge.drainListenerBus(spark.sparkContext)
          val b = stream.take()
          val in = b.map(_._2).sum
          check(in == etlRows, s"stream read $in rows, expected $etlRows")
          val ms = b.map(_._1.toDouble).sorted
          Map("streaming.batches" -> b.size.toDouble,
            "streaming.batch_p50_s" -> (if (ms.isEmpty) 0.0 else ms(ms.size / 2) / 1e3),
            "streaming.batch_max_s" -> ms.lastOption.getOrElse(0.0) / 1e3)
        }
      }
      var fetched: DocumentSource.Fetched = null
      stage("export_fetch", fetched.path) {
        fetched = DocumentSource.toDFResilient(spark, DocumentSource.inMemory(sink))
        Map.empty
      }
      stage("export_write") {
        TableIO.write(fetched.df, exported)
        Map.empty
      }
      untimed {
        // correctness of the whole round trip
        if (failed == null) {
          val back = Digest.table(TableIO.read(spark, exported))
          if (back != expected)
            failed = s"exported digest $back differs from generated $expected"
        }
        sampleHeap()
        if (fetched != null) fetched.registryName.foreach(DocumentSourceRegistry.remove)
        InMemorySink.clear(sink)
        deleteTree(dir)
      }
      val out = ops.result()
      if (failed == null) out
      else out.map(o => if (o.name == "export_write" && o.ok)
        o.copy(ok = false, error = failed) else o)
    }

    // ---- the run ---------------------------------------------------------

    /** One pass: its operations, pass-level layer metrics, wall and GC time. */
    private def pass(p: Int): (Seq[Op], Map[String, Double], Double, Double) = {
      val top = spans.open(s"pass-$p")
      if (traced) { PerfbenchBridge.drainListenerBus(spark.sparkContext); stream.take() }
      val g0 = gcMs()
      val u0 = untimedNs
      val t0 = System.nanoTime()
      val (ops, layers) = workload match {
        case "olap_tpch" => queryPass(p, top)
        case "etl_roundtrip" => (etlPass(p, top), Map.empty[String, Double])
      }
      val wall = (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9
      spans.close(top)
      (ops, layers, wall, (gcMs() - g0) / 1e3)
    }

    def run(): Unit = {
      val sessionS = (1 to setups).map(_ => setUp())
      // warm-up: one whole untimed pass, so each query's first code
      // generation and most JIT compilation stay out of the measured
      // passes; a first measured olap pass still runs 10-25% slower than
      // the second, but a second warm-up pass costs ~10 s of every run
      val t0 = System.nanoTime()
      val warmOps = workload match {
        case "olap_tpch" => queryPass(-1, -1)._1
        case "etl_roundtrip" => etlPass(-1, -1)
      }
      val warmupS = (System.nanoTime() - t0) / 1e9
      val warmFailures = warmOps.filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
      sampling = true
      val start = now()
      // closed loop: passes start until the time is up; a started pass
      // always completes
      val passes = List.newBuilder[Map[String, Any]]
      var p = 0
      while (if (traced) p < 3 else p == 0 || now() - start < seconds) {
        tracing = traced && p == 1
        val (ops, layers, wall, gc) = pass(p)
        passes += Map("pass" -> p, "traced" -> tracing, "wall_s" -> wall, "gc_s" -> gc,
          "live_heap_mb" -> liveHeap / 1e6, "layers" -> layers,
          "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
            "ok" -> o.ok, "error" -> o.error, "rows" -> o.rows, "digest" -> o.digest,
            "layers" -> o.layers, "note" -> o.note)))
        p += 1
      }
      val rt = ManagementFactory.getRuntimeMXBean
      val volatileKeys = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
        "spark.driver.host", "spark.driver.port", "spark.executor.id",
        "spark.sql.warehouse.dir", "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions")
      val result = Map(
        "main_entry_epoch_ms" -> entryMs,
        "session_s" -> sessionS, "warmup_s" -> warmupS,
        "warmup_failures" -> warmFailures, "passes" -> passes.result(),
        "provenance" -> Map(
          "cores" -> cores,
          "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
          "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")),
          "java_version" -> System.getProperty("java.version"),
          "spark_version" -> spark.version,
          "data_dir" -> data, "seed" -> seed,
          "etl_rows" -> (if (workload == "etl_roundtrip") etlRows else 0L),
          "spark_conf" -> spark.conf.getAll.filterNot(kv => volatileKeys(kv._1))),
        "spans" -> (if (traced) spans.json else Nil))
      Files.writeString(Paths.get(conf("out")), Json.render(result))
      spark.stop()
    }
  }
}
