package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative scheduler counts and task-metric sums since the listener
  * was registered. Subtracting two snapshots gives a span's share.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, deserMs: Long = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, fetchWaitMs: Long = 0,
    inputB: Long = 0, spillB: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs, deserMs - o.deserMs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    fetchWaitMs - o.fetchWaitMs, inputB - o.inputB, spillB - o.spillB)
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, cpuNs + o.cpuNs, gcMs + o.gcMs, deserMs + o.deserMs,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    fetchWaitMs + o.fetchWaitMs, inputB + o.inputB, spillB + o.spillB)
}

/** Scheduler listener the benchmark registers on its own session. All
  * callbacks run on the listener-bus thread; readers drain the bus first
  * (`snapshot`), so the counts they see are complete.
  */
final class SchedulerCounter extends SparkListener {
  private var c = Counts()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c + Counts(
        tasks = 1, taskMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime, deserMs = m.executorDeserializeTime,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        inputB = m.inputMetrics.bytesRead,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled)
    } else synchronized { c = c.copy(tasks = c.tasks + 1) }
  }

  def snapshot(spark: SparkSession): Counts = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized(c)
  }
}

/** Micro-batch durations and input rows from `StreamingQueryProgress`. */
final class StreamCounter extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)] // (ms, rows)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      batches += ((Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.numInputRows))
    }
  }

  /** Batches recorded since the last call; the caller drains the bus. */
  def take(): Seq[(Long, Long)] = synchronized {
    val out = batches.toList
    batches.clear()
    out
  }
}

/** Exchange and broadcast counts of a final (post-AQE) physical plan. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    (collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size)
  }
}

/** One timed layer call. `parent` is the index of the enclosing span in
  * the same run, or -1.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, run: String)

/** In-memory span recorder; spans are written out once, at the end. */
final class Spans(run: String, origin: Long) {
  val all = mutable.ArrayBuffer.empty[Span]
  def open(name: String, parent: Int = -1): Int = {
    all += Span(name, System.nanoTime(), -1L, parent, run)
    all.size - 1
  }
  def close(i: Int): Unit = all(i) = all(i).copy(end = System.nanoTime())
  def json: Seq[Map[String, Any]] = all.toSeq.map { s =>
    Map("name" -> s.name, "start_s" -> (s.start - origin) / 1e9,
      "end_s" -> (s.end - origin) / 1e9, "parent" -> s.parent, "run" -> s.run)
  }
}

/** JSON rendering of the result files, with Spark's own Jackson. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
}
