package graft.sources

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types._

import graft.Tables

/** Row-iterable ⇄ Parquet I/O, mirroring the reference's capability
  * envelope (SURVEY §2.1 S1–S5):
  *
  *  - S1 `read`: whole-file Parquet scan (reference: read_table,
  *    src/parquet_demo/io.py:78-80). Like the reference, it takes the
  *    schema from the file's footer, read on the driver
  *    (`Tables.footerSchema`), so a read starts no job.
  *  - S3/S4 `write`: Parquet write with row-group-ish control — Spark
  *    writes one file per partition, so chunked writing is partitioning
  *    (reference: pq.write_table io.py:75; ParquetWriter loop
  *    examples/generate_parquet_from_ddl.py:111-205).
  *  - S5 `writeRows`: Iterable[Map] + explicit schema → table; missing
  *    keys become null (reference: row.get(field.name),
  *    src/parquet_demo/io.py:19) and values are coerced per §1.4.
  *
  * Rows held on the driver become a DataFrame only through `fromRows`:
  * it keeps them as compact `UnsafeRow`s in a local relation, which a
  * write splits over every core.
  */
object TableIO {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Tables.footerSchema(spark, path)).parquet(path)

  def write(df: DataFrame, path: String, maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode("overwrite")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w)
      .parquet(path)
  }

  /** Hive-style partitioned layout: one directory per distinct value of
    * `partitionCols`. At 100 TB this is what makes date/tenant-scoped
    * queries read 1/1000th of the data — the scan planner prunes whole
    * directories (`PartitionFilters` in the plan) before reading a byte.
    * Pruning is asserted by `PartitionedWriteSpec`.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Small-file compaction: rewrite a directory of many small parquet
    * files into ~`targetFileBytes`-sized ones. The 100 TB operational
    * companion to streaming ingest — micro-batch sinks produce one file
    * per partition per trigger, and scan/driver overhead at read time is
    * per-FILE, so periodic compaction is what keeps a long-lived table
    * scannable. File count is estimated from the on-disk footprint (not
    * a count() pass); the rewrite goes to a NEW path — atomically swap
    * directories (or use a table format's transactional rewrite) in
    * production.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    // Resolve the filesystem FROM the path (not the default FS): with an
    // s3a:// input and an HDFS default filesystem, FileSystem.get(conf)
    // would consult the wrong store.
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    read(spark, inPath)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  // ── other columnar/row formats (engine-completeness surface) ───────
  // The reference is parquet-only; a drop-in engine also has to move the
  // same tables through the interchange formats Spark supports natively.
  // All readers take an EXPLICIT schema (inference is a scan of its own
  // at 100 TB, and CSV/JSON inference is lossy for timestamps/decimals).

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      // default JSON timestamp pattern drops sub-millisecond precision
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-driven write of row maps. Coercion rules mirror
    * src/parquet_demo/io.py:21-66: timestamps accept datetime-likes or
    * already-integer epoch micros; dates accept date-likes or
    * already-integer epoch days; missing keys → null; everything else
    * passes through to `fromRows`' converters.
    */
  def writeRows(
      spark: SparkSession,
      path: String,
      schema: StructType,
      rows: Iterable[Map[String, Any]]): Unit =
    fromRows(spark, rows.iterator.map(toRow(schema, _)), schema)
      .write.mode("overwrite").parquet(path)

  /** Driver-held rows → DataFrame. Each row is converted once, here, with
    * the converters `createDataFrame(java.util.List[Row], schema)` uses,
    * so a value that does not fit the schema raises now, not in a later
    * job. The rows are kept as `UnsafeRow`s (one byte array each, not a
    * boxed object per field) in a local relation; executing it splits
    * them over `defaultParallelism` tasks, which receive the rows' bytes.
    */
  def fromRows(spark: SparkSession, rows: IterableOnce[Row],
      schema: StructType): DataFrame = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    val data = rows.iterator
      .map(r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy(): InternalRow)
      .toVector
    GraftColumnBridge.localRelation(spark, schema, data)
  }

  /** One row map → Row in schema order; absent keys null (io.py:19). */
  def toRow(schema: StructType, m: Map[String, Any]): Row =
    Row.fromSeq(schema.fields.toSeq.map(f => coerce(m.getOrElse(f.name, null), f.dataType)))

  /** §1.4 value coercion. Naive datetimes are treated as UTC — the
    * reference converts tz-aware datetimes to UTC then drops the tz
    * (io.py:37-42); with the session pinned to UTC, java.time types map
    * 1:1.
    */
  private[graft] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x: java.time.Instant, _: TimestampType) => x
    case (x: java.sql.Timestamp, _: TimestampType) => x.toInstant
    case (x: java.time.LocalDateTime, _: TimestampType) =>
      x.toInstant(java.time.ZoneOffset.UTC)
    case (x: Long, _: TimestampType) => // already epoch micros (io.py:49-50)
      java.time.Instant.ofEpochSecond(x / 1000000L, (x % 1000000L) * 1000L)
    // NTZ: naive timestamps are UTC by convention (io.py:37-39)
    case (x: java.time.LocalDateTime, _: TimestampNTZType) => x
    case (x: java.time.Instant, _: TimestampNTZType) =>
      java.time.LocalDateTime.ofInstant(x, java.time.ZoneOffset.UTC)
    case (x: Long, _: TimestampNTZType) =>
      java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(x / 1000000L, (x % 1000000L) * 1000L),
        java.time.ZoneOffset.UTC)
    case (x: java.time.LocalDate, _: DateType) => x
    case (x: java.sql.Date, _: DateType) => x.toLocalDate
    case (x: Int, _: DateType) => // already epoch days (io.py:54-63)
      java.time.LocalDate.ofEpochDay(x.toLong)
    case (x: Int, _: LongType) => x.toLong
    // bool-is-int (run_example.py:93): schema inference types booleans as
    // int64, so the value side must follow Python's int(True) == 1
    case (x: Boolean, _: LongType) => if (x) 1L else 0L
    case (x: Float, _: DoubleType) => x.toDouble
    // inference's "anything else → string" needs the value stringified too
    case (x, _: StringType) if !x.isInstanceOf[String] => String.valueOf(x)
    case (x: java.math.BigDecimal, d: DecimalType) =>
      x.setScale(d.scale, java.math.RoundingMode.HALF_UP)
    case (x: BigDecimal, d: DecimalType) =>
      x.setScale(d.scale, BigDecimal.RoundingMode.HALF_UP).bigDecimal
    case (x, _) => x
  }
}
