package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftColumnBridge

/** Runtime-metrics assertions for the TPC-H macro queries (round-6
  * advice item 4): PlanSpec pins plan *shape*; this spec pins what the
  * executed job actually DID — how many shuffle exchanges the final AQE
  * plan kept, and how much data crossed them relative to what the scans
  * produced. A plan regression (lost pushdown, lost partial agg, a join
  * flipping to nested-loop) now fails a test instead of waiting for a
  * benchmark eyeball.
  *
  * The shuffle-reduction ratio is the 100 TB signal: these queries scan
  * fact tables but must shuffle only the post-filter / post-partial-agg
  * survivors. Expected shapes are documented in PLANS.md.
  */
class TpchMetricsSpec extends SparkSpec {

  /** Run `name` to completion and return (records read by scans, records
    * written to shuffles, final physical plan string).
    */
  private def runMeasured(name: String): (Long, Long, String) = {
    val read = new AtomicLong
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        read.addAndGet(m.inputMetrics.recordsRead)
        shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sf("sf0.01"))
      df.collect()
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      (read.get, shuffled.get, df.queryExecution.executedPlan.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (max hash-partition exchanges in the final plan, max shuffled/read
    * ratio). Exchange bounds are the measured shape +0 slack — one extra
    * shuffle is exactly the regression this spec exists to catch. Ratios
    * are measured-value × ~2 headroom: they fail on losing map-side
    * partial aggregation or a filter, not on fixture drift.
    */
  private val expected = Map(
    "q_tpch03" -> (2, 0.035), // measured: 2 exchanges, ratio 0.016
    "q_tpch05" -> (2, 0.005), // measured: 2 exchanges, ratio 0.0001
    "q_tpch10" -> (2, 0.012), // measured: 2 exchanges, ratio 0.005
    "q_tpch18" -> (2, 0.400), // measured: 2 exchanges, ratio 0.193
    // q_tpch02's decorrelated plan legitimately carries more exchanges
    // than the flat macros: the min-aggregate + join-back adds a
    // partkey-keyed shuffle pair on top of the outer join tree
    "q_tpch02" -> (6, 0.080), // measured: 6 exchanges, ratio 0.038
    "q_tpch21" -> (2, 0.005), // measured: 2 exchanges, ratio 0.001
    // q_tpch01's shuffle carries 12 records for a 60k-row scan — the
    // partial-aggregation shape in its purest form
    "q_tpch01" -> (2, 0.001), // measured: 2 exchanges, ratio 0.0002
    "q_tpch22" -> (5, 0.005), // measured: 5 exchanges, ratio 0.001
    // q_tpch04's left-semi join dedups before the count: the shuffle
    // carries priority-group partials only
    "q_tpch04" -> (2, 0.001), // measured: 2 exchanges, ratio 0.0001
    // q_tpch17's decorrelated avg keeps 2 exchanges because AQE
    // broadcasts the per-part threshold aggregate back onto the facts
    "q_tpch17" -> (2, 0.035), // measured: 2 exchanges, ratio 0.016
    // q_tpch19's pushed CNF residuals shrink both scan outputs so far
    // that the single exchange carries one partial-sum record
    "q_tpch19" -> (1, 0.001), // measured: 1 exchange, ratio 0.00002
    // q_tpch07/08: the nation-pair disjunction / CASE-ratio evaluate
    // post-join but the shuffles carry only group partials
    "q_tpch07" -> (2, 0.001), // measured: 2 exchanges, ratio 0.0004
    "q_tpch08" -> (2, 0.001), // measured: 2 exchanges, ratio 0.0002
    // q_tpch14's month window is pushed to the scan; like q19 the one
    // exchange carries a single partial-sum record
    "q_tpch14" -> (1, 0.001), // measured: 1 exchange, ratio 0.00002
    // q_tpch20's rollup shuffles the name-pruned (supp,part) partials —
    // the largest legitimate ratio of the family after q18
    "q_tpch20" -> (2, 0.250), // measured: 2 exchanges, ratio 0.111
    // q_tpch13 pre-aggregates orders below the outer join: the custkey
    // shuffle carries distinct-custkey partials, AQE broadcasts the
    // aggregated side, and customer never shuffles at all (4 counts the
    // AQE ShuffleQueryStages incl. the final range sort)
    "q_tpch13" -> (4, 0.200), // measured: 4 stages, ratio 0.093
    // q_tpch09's three dims broadcast; the 2 exchanges are the
    // lineitem⋈orders orderkey shuffle pair — group partials only
    "q_tpch09" -> (2, 0.012), // measured: 2 exchanges, ratio 0.005
    // q_tpch06: three pushed predicates, one scalar partial per
    // partition — the purest pushdown shape alongside q19/q14
    "q_tpch06" -> (1, 0.001), // measured: 1 exchange, ratio 0.00002
    // q_tpch12: date window pushed, lateness post-join, the 2 exchanges
    // carry 6 CASE partials
    "q_tpch12" -> (2, 0.001), // measured: 2 exchanges, ratio 0.00008
    // q_tpch15: rollup reused by join + scalar max adds an exchange
    // pair like q22's scalar stage
    "q_tpch15" -> (6, 0.005), // measured: 6 exchanges, ratio 0.002
    // q_tpch11: two fact passes (outer rollup + broadcast scalar total)
    "q_tpch11" -> (4, 0.009), // measured: 4 exchanges, ratio 0.004
    // q_tpch16: distinct (group, supp) shuffle + null-aware anti join
    "q_tpch16" -> (4, 0.200)) // measured: 4 exchanges, ratio 0.092

  expected.foreach { case (name, (maxExchanges, maxShuffleRatio)) =>
    test(s"$name: bounded shuffle count and shuffle/scan volume ratio") {
      val (read, shuffled, plan) = runMeasured(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must keep equi-joins:\n" + plan.take(3000))
      // In a finalized AQE plan, materialized shuffles render as
      // ShuffleQueryStage (the Exchange is inside the stage); count both
      // so the bound holds with and without AQE re-planning.
      val exchangeLines = plan.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") || l.contains("ShuffleQueryStage")).toSeq
      val exchanges = exchangeLines.count(_.contains("ShuffleQueryStage")).max(
        exchangeLines.count(_.contains("Exchange hashpartitioning")))
      val ratio = shuffled.toDouble / read.max(1L)
      info(f"$name: read=$read shuffled=$shuffled " +
        f"ratio=$ratio%.3f exchanges=$exchanges")
      assert(exchanges <= maxExchanges,
        s"$name grew a shuffle: $exchanges > $maxExchanges:\n" + plan.take(3000))
      assert(ratio <= maxShuffleRatio,
        f"$name shuffles $ratio%.3f of scanned records " +
          f"(cap $maxShuffleRatio) — lost pushdown or partial aggregation?")
    }
  }

  test("q_tpch10 keeps the nation dim broadcast") {
    val (_, _, plan) = runMeasured("q_tpch10")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }
}
