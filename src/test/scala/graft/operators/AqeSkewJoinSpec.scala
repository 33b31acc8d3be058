package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AQE's automatic skew-join splitting — the runtime counterpart to the
  * explicit `Salting` mitigation. One hot key concentrates ~50× the
  * median partition volume; with the skew thresholds scaled to the test
  * data, AQE must re-plan the sort-merge join with the hot partition
  * split (`skew=true` in the final plan) instead of pinning one task.
  */
class AqeSkewJoinSpec extends SparkSpec {

  test("AQE splits the hot partition of a skewed sort-merge join") {
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ

      // hot key 0 carries 200k rows; 2k other keys carry one row each
      val big = spark.range(0, 202000)
        .select(when(col("id") < 200000, 0L).otherwise(col("id") - 198000).as("k"),
          col("id").as("v"))
      val small = spark.range(0, 4000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(small, "k")
      // collect() (not count()) so THIS plan instance is the one AQE
      // finalizes — count() builds a separate plan with an agg on top.
      assert(joined.collect().length == 202000)

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not mark the skewed join:\n" + plan.take(3000))
    }
  }
}
