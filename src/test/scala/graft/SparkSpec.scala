package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (guide: one per suite, lazy),
  * from the session profile every runtime main uses: the specs check
  * the plans Bench times, on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SessionProfile.session(cores = 4,
    conf = Map("spark.app.name" -> getClass.getSimpleName))

  /** `body`'s result with each `key -> value` set on the session conf;
    * every key gets its previous value back after, or is unset if it
    * had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The RocksDB state store: bounded heap, state on local disk, and
    * the store whose state survives a checkpoint restart. */
  val rocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def withRocksDb[T](body: => T): T = withConf(rocksDbState)(body)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result with the jobs and the tasks it started, counted by
    * a listener on a drained bus.
    */
  def jobsAndTasks[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    GraftColumnBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftColumnBridge.drainListenerBus(sc)
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Plan text restricted to the OUTER query: drops the pre-AQE
    * "Initial Plan" echo and every InMemoryRelation's embedded
    * cached-plan text (which prints deeper-indented than the relation
    * node) — substring pins like "no BroadcastHashJoin" must not trip
    * on operators INSIDE a cached build. */
  def outerPlan(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    def indent(l: String): Int =
      l.takeWhile(c => c == ' ' || c == ':' || c == '|' || c == '+' ||
        c == '-' || c == '=').length
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var skipDeeper = -1
    p.linesIterator.foreach { l =>
      val ind = indent(l)
      if (skipDeeper < 0 || ind <= skipDeeper) {
        skipDeeper = if (l.contains("InMemoryRelation")) ind else -1
        out += l
      }
    }
    out.mkString("\n")
  }
}
