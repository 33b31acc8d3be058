package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftColumnBridge

/** Round-21 optimization probe: per-query JOB/STAGE/TASK accounting.
  *
  * The round-20 bench shows the kNN-graph/NND family costing 4-9 s per
  * row on a 2,000-vector corpus at local[32] — and SLOWER at 32 cores
  * than 8 (PERF_r20 scaling 0.55-0.8). That signature is scheduling /
  * materialization overhead, not compute. This probe attributes it:
  * for each named query it reports wall seconds, job count, stage
  * count, task count, and the sum of task run time — the gap between
  * wall and task-time/cores is driver-side dispatch and barrier cost
  * (guide §1: measure first; §7.3: when nothing is running, the driver
  * is doing something).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe21 q1 q2 ..."
  * (no args = the round-21 target list). Prints one JSON line per
  * query; a query that throws prints `{"failed":"<name>"}` instead,
  * with no timing.
  */
object Probe21 {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE is ON by default, as in Bench. SPARK_GRAFT_PROBE_AQE=false
    // is the opt-in attribution mode: AQE off gives classic multi-stage
    // jobs whose stages carry the real submitting callsite — per-operator
    // attribution the AQE stage-materialization jobs hide (diagnostic only)
    val spark = SessionProfile.session(conf = Map("spark.sql.adaptive.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_PROBE_AQE", "true")))

    // the listener (bus thread) and the per-query reset (this thread)
    // guard the counters with this one lock
    val lock = new Object
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    // per-stage task-time rollup keyed by the stage's callsite line —
    // names the operator that owns the cost, not just the total
    @volatile var runMs = 0L
    @volatile var deserMs = 0L
    @volatile var gcMs = 0L
    @volatile var resSerMs = 0L
    @volatile var swMs = 0L
    @volatile var fetchMs = 0L
    val byStage = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val stageTime = scala.collection.mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lock.synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          // label by the first graft frame in the callsite stack — the
          // stage NAME of AQE shuffle jobs is an opaque thread-pool
          // frame, useless for attribution
          val key = s.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("Probe21"))
            .map(_.trim.replaceFirst("^at ", ""))
            .getOrElse(s.stageInfo.name)
          val ms = stageTime.getOrElse(s.stageInfo.stageId, 0L)
          val (pm, pc) = byStage.getOrElse(key, (0L, 0))
          byStage(key) = (pm + ms, pc + 1)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        lock.synchronized {
          if (t.taskInfo != null && t.taskInfo.finished) {
            taskMs += t.taskInfo.duration
            stageTime(t.stageId) =
              stageTime.getOrElse(t.stageId, 0L) + t.taskInfo.duration
            if (t.taskMetrics != null) {
              runMs += t.taskMetrics.executorRunTime
              deserMs += t.taskMetrics.executorDeserializeTime
              gcMs += t.taskMetrics.jvmGCTime
              resSerMs += t.taskMetrics.resultSerializationTime
              swMs += t.taskMetrics.shuffleWriteMetrics.writeTime / 1000000L
              fetchMs += t.taskMetrics.shuffleReadMetrics.fetchWaitTime
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val targets =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "sim_knn_graph_recall", "sim_index_recall",
        "sim_semantic_clusters_ivf", "sim_knn_graph_nnd_hier",
        "sim_semantic_edges_ivf", "sim_knn_graph_nnd",
        "sim_semantic_clusters_auto", "sim_knn_graph_ivf_hier",
        "sim_knn_graph_ivf_scaled", "sim_knn_graph_ivf_kmeans",
        "st_incremental_ann_ivf", "sim_semantic_clusters_scaled",
        "sim_semantic_clusters", "graph_triangles")

    // warm scan/codegen paths once (the Bench discipline)
    try SparkEntry.queries("q10_agg_basic")(spark, dir).count()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()

    targets.foreach { name =>
      lock.synchronized {
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        runMs = 0L; deserMs = 0L; gcMs = 0L; resSerMs = 0L
        swMs = 0L; fetchMs = 0L
        byStage.clear(); stageTime.clear()
      }
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, dir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[probe21] $name failed: $e")
          false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async: deliver every event before reading (and,
      // after a failure, before the next query resets the counters)
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      // a query that throws is FAILED, not fast: named, never timed
      if (!ok) println(s"""{"failed":"$name"}""")
      else {
        val top = lock.synchronized(byStage.toSeq).sortBy { case (_, (ms, _)) => -ms }.take(8)
          .map { case (k, (ms, c)) =>
            f""""${k.replace('"', ' ').take(90)}":[${ms / 1e3}%.2f,$c]""" }
          .mkString("{", ",", "}")
        println(f"""{"query":"$name","wall":$wall%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_sec":${taskMs / 1e3}%.3f,"run_sec":${runMs / 1e3}%.3f,"deser_sec":${deserMs / 1e3}%.3f,"gc_sec":${gcMs / 1e3}%.3f,"res_ser_sec":${resSerMs / 1e3}%.3f,"shuf_write_sec":${swMs / 1e3}%.3f,"fetch_wait_sec":${fetchMs / 1e3}%.3f,"top_stages":$top}""")
      }
    }
    spark.stop()
  }
}
