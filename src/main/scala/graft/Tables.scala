package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.sources.TableIO

/** Loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table under `\$dir/<name>.parquet`. Each load
  * is a `TableIO.read`: it reads the table's schema from one Parquet
  * footer on the driver (`footerSchema`) and hands it to
  * `spark.read.schema(..).parquet`, so no load starts a job. Nothing is
  * cached: every load reads its footer again. Catalyst still gets
  * scan-level filter pushdown and column pruning for free (SURVEY §4.2).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else TableIO.read(spark, s"$dir/$name.parquet")

  /** The data schema `spark.read.parquet(path)` would infer, without
    * the inference job. It reads the same one footer: a summary file if
    * the path has one, else its first data file by path name, as
    * Spark's non-merging inference picks. Spark's own converter turns it
    * into a schema under the session's SQL conf (`inferTimestampNTZ`,
    * `nanosAsLong`, the schema Spark writes into its footers), made
    * nullable as `DataSource` stores an inferred schema. Partition
    * columns, if the path has any, are still added by the reader from
    * the directory names. A missing path or one with no file raises the
    * same `AnalysisException` as `spark.read.parquet`.
    */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = GraftColumnBridge.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
    if (!fs.exists(qualified)) throw GraftColumnBridge.pathNotFound(qualified.toString)
    // listed as Spark lists it: a file root lists as that one file
    val files = new InMemoryFileIndex(spark, Seq(qualified), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw GraftColumnBridge.noParquetSchema())
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    GraftColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(GraftColumnBridge.sqlConf(spark))))
  }

  /** events.ts normalization to a microsecond TimestampType column, keyed
    * on the fixture's ACTUAL parquet annotation (the driver has shipped
    * two editions):
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright —
    *    read raw nanos (legacy long mode) and floor-divide to µs, the same
    *    truncation every Spark pipeline applies to ns data (SURVEY §7.3;
    *    fixture ns residue is 0 so no information is lost);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *    cast to TimestampType — value-preserving under the engine-wide UTC
    *    session timezone (Session.scala) and matches what DuckDB's naive
    *    read sees, so downstream window/watermark code sees ONE type.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = TableIO.read(spark, s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      // integer division — `/` on Column is double division, which loses
      // precision on epoch-nanos (≈1.7e18 > 2^53) and rounds instead of
      // flooring like DuckDB's read does.
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case _ => col("ts")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register fixture tables as temp views so `spark.sql` queries
    * (subqueries, EXISTS, grouping sets) can reference them by name —
    * the same names the DuckDB oracle uses. Queries that know their
    * table set should pass it: registering only what a query touches
    * keeps it runnable on partial corpora (the TPC-H scale probes ship
    * only the seven relational tables).
    */
  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names)
}
