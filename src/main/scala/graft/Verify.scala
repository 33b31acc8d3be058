package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (dev loop)
    val spark = SessionProfile.session()
    new java.io.File(outDir).mkdirs()
    // Crashed queries must be LOUD: a silent drop shrinks the correctness
    // set and masks regressions (this is how a broken q67 went unnoticed
    // in round 5). Collect failures and emit them both to a sidecar file
    // and as a nonzero summary line.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val written = scala.collection.mutable.LinkedHashSet[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        written += name
      }
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Write a sentinel result so the driver's compare emits a RED row
        // (schema/hash mismatch) for this query instead of silently
        // dropping it from the correctness set — the sidecar alone is
        // log-only signal; this makes the failure machine-checked.
        try {
          import spark.implicits._
          Seq(failures(name)).toDF("graft_query_failed")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // Queries persist() narrow intermediates internally (minhash stages,
      // shingle tables, CC adjacency); drop them after each query
      // materializes so the full sweep doesn't accumulate cached blocks
      // across 140+ queries in one JVM (same discipline as Bench).
      spark.catalog.clearCache()
    }
    // Fixture τ-graph cluster profile (round-18 verdict ask): the
    // round-16 gate death and the round-17 drift hunt were BOTH caused
    // by a clumpier driver embeddings redraw (a 205-vector giant
    // cluster) that took a round to attribute. One log line per
    // cluster row makes the next redraw attributable in minutes:
    // giant-cluster size, Σsize² (the all-pairs mass the cluster
    // stage must carry), cluster count, singleton count — read back
    // from the parquet this run just wrote, so the profile is exactly
    // the declared output's.
    // gated on `written` (not mere parquet existence): a filtered dev run
    // would otherwise profile a STALE parquet left by a previous sweep
    // and label it as this run's output (round-19 advice)
    Seq("sim_semantic_clusters", "sim_semantic_clusters_scaled",
        "sim_semantic_clusters_auto", "sim_semantic_clusters_ivf")
      .foreach { name =>
      if (written(name) && Files.exists(Paths.get(s"$outDir/$name")))
        try {
          import org.apache.spark.sql.functions._
          val sizes = spark.read.parquet(s"$outDir/$name")
            .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          val p = sizes.agg(
            count(lit(1)).as("n_clusters"),
            max(col("sz")).as("giant"),
            sum(col("sz") * col("sz")).as("sum_sz2"),
            sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singletons"))
            .head
          println(s"""[verify] {"metric":"cluster_profile","query":"$name",""" +
            s""""n_clusters":${p.getLong(0)},"giant":${p.getLong(1)},""" +
            s""""sum_sz2":${p.getLong(2)},"singletons":${p.getLong(3)}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] cluster profile for $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    // Deliberately exit 0 even with failures: the driver must still
    // DuckDB-compare the queries that DID produce output. Failed queries
    // are machine-visible regardless — their sentinel parquet forces a
    // red compare row — with the sidecar + stderr as human context.
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} QUERIES FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
