package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge

/** Before/after evidence for a refactor that must keep every plan:
  * builds each declared row on 4 cores and writes, under `outDir`,
  *
  *  - `plans.txt`: each row's optimized logical plan with ExprIds,
  *    `plan_id`s, RDD ids and lambda-variable counters stripped, one
  *    `===== name =====` section per row in name order;
  *  - `jobs.tsv`: name, Spark jobs started by building and collecting
  *    the row, and the `ReusedExchange`s in its executed plan;
  *  - with `-rows`, `rows/<name>.txt`: the collected rows, one per line.
  *
  * Usage: `sbt Test/compile`, then run `graft.PlanDump <sfDir> <outDir>
  * [-rows] [name ...]` with `java` as `tools/run_main.sh` does, with
  * `target/scala-2.13/test-classes` added to its classpath.
  * Run it on the parent commit and on the change, then `diff -r` the
  * two output directories.
  */
object PlanDump {
  def strip(plan: String): String =
    plan.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]").replaceAll("\\[\\d+\\] at ", "[] at ")
      .replaceAll("(lambda [A-Za-z]+)_\\d+", "$1")

  def main(args: Array[String]): Unit = {
    val sfDir +: outDir +: rest0 = args.toSeq
    val rows = rest0.contains("-rows")
    val rest = rest0.filterNot(_ == "-rows")
    val spark = SessionProfile.session(cores = 4, logLevel = "ERROR")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir, "rows"))
    val plans = new StringBuilder
    val tsv = new StringBuilder("name\tjobs\treused_exchanges\n")
    names.foreach { name =>
      spark.catalog.clearCache()
      GraftColumnBridge.drainListenerBus(sc)
      jobs.set(0)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = strip(df.queryExecution.optimizedPlan.toString)
        val out = df.collect()
        GraftColumnBridge.drainListenerBus(sc)
        val reused = "ReusedExchange".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
        plans ++= s"===== $name =====\n$plan\n"
        tsv ++= s"$name\t${jobs.get}\t$reused\n"
        if (rows) Files.writeString(Paths.get(outDir, "rows", s"$name.txt"),
          out.map(_.mkString("\t")).mkString("", "\n", "\n"))
      } catch { case e: Throwable =>
        plans ++= s"===== $name =====\nFAILED: ${e.getMessage}\n"
        tsv ++= s"$name\tFAILED\t\n"
      }
    }
    Files.writeString(Paths.get(outDir, "plans.txt"), plans.toString)
    Files.writeString(Paths.get(outDir, "jobs.tsv"), tsv.toString)
    spark.stop()
  }
}
