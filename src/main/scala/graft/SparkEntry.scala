package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory (SURVEY §2): one
  * entry per operator, each taking (spark, sfDir) and returning a
  * DataFrame whose column names match the paired `oracleSql` entry.
  */
object SparkEntry {

  /** All declared capability groups, in SURVEY §2 order. */
  def allDefs: Seq[QueryDef] =
    RelationalQueries.defs ++ AnalyticQueries.defs ++ ExtendedQueries.defs ++
      EventQueries.defs ++ TextQueries.defs ++ DedupQueries.defs ++
      SimilarityQueries.defs ++ MultimodalQueries.defs ++ CurationQueries.defs ++
      Round4Queries.defs ++ Round6Queries.defs ++ Round10Queries.defs ++
      RetrievalQueries.defs ++ Round11Queries.defs ++ Round11bQueries.defs ++
      Round11cQueries.defs ++ Round11dQueries.defs ++ Round11eQueries.defs ++
      Round12Queries.defs ++ Round12bQueries.defs ++ Round13Queries.defs ++
      Round13bQueries.defs ++ Round13cQueries.defs ++ Round15Queries.defs ++
      SketchQueries.defs ++ Round16Queries.defs ++ Round17Queries.defs ++
      Round17bQueries.defs ++ Round18Queries.defs ++ KnnGraphQueries.defs ++
      GraphQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → filter → project → hash agg → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_agg_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.toQueriesMap(allDefs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryDef.toOracleMap(allDefs)
}
