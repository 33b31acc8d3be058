package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every runtime main and the test trait build
  * their SparkSession here, so the plans Verify and the specs check are
  * the plans Bench times. A caller states only how it differs.
  *
  *  - `local[cores]` with `cores` shuffle partitions: the shuffle width
  *    tracks the master's parallelism.
  *  - UTC session time zone: timestamp parsing, truncation and
  *    formatting do not depend on the host.
  *  - 4 MB `maxPartitionBytes`: the fixtures are single 1–40 MB parquet
  *    files, which at the default 128 MB split arrive as ONE partition
  *    and serialize the scan; the same knob sizes `Layouts.spread`.
  *  - UI off, log level WARN unless stated.
  *  - `Locale.ROOT`: the f-interpolators format via the JVM default
  *    locale, and a comma-decimal one ("1,2345") breaks every JSON line
  *    the mains print.
  */
object SessionProfile {
  /** The profile's session on `cores` cores (default: `SPARK_GRAFT_CPUS`,
    * else 32); `conf` entries are applied after, and win over, the
    * profile's own settings. */
  def session(cores: Int = Env.intVar("SPARK_GRAFT_CPUS", 32),
      logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
