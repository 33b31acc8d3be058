package graft.sources

import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Driver-held rows become a DataFrame only through `TableIO.fromRows`,
  * and `TableIO.read` takes its schema from the Parquet footer.
  *
  * The reference for `fromRows` is the path it replaced:
  * `createDataFrame(sc.parallelize(rows), schema)` over the same coerced
  * rows, rebuilt here.
  */
class TableIOSpec extends SparkSpec {

  private val ts = Instant.parse("2023-01-02T03:04:05.123456Z")
  private val naive = LocalDateTime.of(2023, 1, 2, 3, 4, 5, 123456000)
  private val day = LocalDate.of(2023, 1, 2)

  /** Documents covering nulls (missing keys from the second document
    * on), instants and epoch micros, naive datetimes, dates and epoch
    * days, decimals and bools-as-int64. The first is complete, because
    * the row rungs infer the schema from it.
    */
  private val docs: Seq[Map[String, Any]] = (1 to 40).map { i =>
    val all = Map[String, Any](
      "_id" -> i.toLong,
      "flag" -> (i % 2 == 0),
      "ts" -> (if (i % 3 == 1) ts.plusSeconds(i.toLong)
        else 1672628645123456L + i),
      "ntz" -> naive.plusMinutes(i.toLong),
      "d" -> (if (i % 3 == 2) 19359 + i else day.plusDays(i.toLong)),
      "amount" -> (BigDecimal("12345.6789") * i),
      "name" -> s"n$i")
    if (i == 1) all else all -- Seq("flag", "ts", "ntz", "d", "amount", "name")
      .filter(k => (i + k.length) % 5 == 0)
  }

  /** The store's own schema on the columnar rung: the types first-doc
    * inference cannot produce (decimal, timestamp_ntz) come from here.
    */
  private val columnarSchema = StructType(Seq(
    StructField("_id", LongType), StructField("flag", LongType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("d", DateType), StructField("amount", DecimalType(38, 10)),
    StructField("name", StringType)))

  private class Store(docs: Seq[Map[String, Any]], failColumnar: Boolean = false,
      failCursor: Boolean = false, columnar: Option[Seq[Map[String, Any]]] = None)
      extends DocumentSource with ColumnarFetch with BatchedFetch {
    def fetch(): Seq[Map[String, Any]] = docs
    def fetchBatches(batchSize: Int): Iterator[Seq[Map[String, Any]]] = {
      if (failCursor) throw new RuntimeException("cursor timed out")
      docs.grouped(batchSize)
    }
    def fetchColumnar(): (StructType, Map[String, Seq[Any]]) = {
      if (failColumnar) throw new RuntimeException("arrow conversion unsupported")
      val from = columnar.getOrElse(docs)
      (columnarSchema,
        columnarSchema.fieldNames.map(n => n -> from.map(_.getOrElse(n, null))).toMap)
    }
  }

  /** What the replaced path built from the same documents. */
  private def parentPath(schema: StructType, docs: Seq[Map[String, Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => TableIO.toRow(schema, DocumentSource.renameId(d)))),
      schema)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => r.getString(r.fieldIndex("id")).toInt)

  /** Same rows as the parent path, from a local relation, and a write
    * of them runs one task per core.
    */
  private def assertLocalRows(df: DataFrame, docs: Seq[Map[String, Any]]): Unit = {
    assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
      df.queryExecution.analyzed.treeString)
    assert(sortedRows(df) == sortedRows(parentPath(df.schema, docs)))
    val cores = spark.sparkContext.defaultParallelism
    assert(docs.size >= cores)
    val (_, jobs, tasks) = jobsAndTasks(TableIO.write(df, tmpDir("fromrows-write") + "/t"))
    assert(jobs == 1 && tasks == cores, s"$jobs jobs, $tasks tasks; expected 1 and $cores")
  }

  test("columnar rung: parent-path rows from a local relation, written on every core") {
    val got = DocumentSource.toDFResilient(spark, new Store(docs))
    assert(got.path == "columnar" && got.degraded.isEmpty)
    assert(got.df.schema.map(_.dataType) ==
      Seq(StringType, LongType, TimestampType, TimestampNTZType, DateType,
        DecimalType(38, 10), StringType))
    assertLocalRows(got.df, docs)
  }

  test("cursor rung: parent-path rows from a local relation, written on every core") {
    val got = DocumentSource.toDFResilient(spark, new Store(docs, failColumnar = true),
      batchSize = 7)
    assert(got.path == "cursor")
    // first-document inference: bool → int64, naive datetime → timestamp
    assert(got.df.schema("flag").dataType == LongType)
    assert(got.df.schema("ntz").dataType == TimestampType)
    assertLocalRows(got.df, docs)
  }

  test("plain rung: parent-path rows from a local relation, written on every core") {
    val got = DocumentSource.toDFResilient(spark,
      new Store(docs, failColumnar = true, failCursor = true))
    assert(got.path == "plain" && got.degraded.size == 2)
    assertLocalRows(got.df, docs)
  }

  test("writeRows: parent-path rows, written on every core") {
    val schema = StructType(columnarSchema.fields.map {
      case StructField("_id", _, n, m) => StructField("id", StringType, n, m)
      case f => f
    })
    val rows = docs.map(DocumentSource.renameId)
    assert(TableIO.fromRows(spark, rows.map(TableIO.toRow(schema, _)), schema)
      .queryExecution.analyzed.isInstanceOf[LocalRelation])
    val path = tmpDir("writerows") + "/t.parquet"
    val (_, jobs, tasks) = jobsAndTasks(TableIO.writeRows(spark, path, schema, rows))
    val cores = spark.sparkContext.defaultParallelism
    assert(jobs == 1 && tasks == cores, s"$jobs jobs, $tasks tasks; expected 1 and $cores")
    assert(sortedRows(TableIO.read(spark, path)) == sortedRows(parentPath(schema, docs)))
  }

  test("empty input gives an empty local relation") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val df = TableIO.fromRows(spark, Iterator.empty, schema)
    assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(df.schema == schema && df.collect().isEmpty)
  }

  // ── a value that does not fit the schema fails where rows are built ──

  test("writeRows raises on an unconvertible value before any job or file") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("n", LongType)))
    // a Short is not coerced to int64, and Spark's converter rejects it
    val rows = Seq(Map[String, Any]("id" -> 1L, "n" -> 2L),
      Map[String, Any]("id" -> 2L, "n" -> 3.toShort))
    val path = tmpDir("writerows-bad") + "/t.parquet"
    val (err, jobs, _) = jobsAndTasks(
      intercept[ClassCastException](TableIO.writeRows(spark, path, schema, rows)))
    assert(err.getMessage.contains("java.lang.Short"), err.getMessage)
    assert(jobs == 0, s"$jobs jobs started before the failure")
    assert(!new java.io.File(path).exists())
  }

  test("an unconvertible columnar value degrades that rung at fetch time") {
    // the store's columns carry a string where its schema says int64
    val bad = docs.map(d => if (d("_id") == 3L) d + ("flag" -> "yes") else d)
    val (got, jobs, _) = jobsAndTasks(
      DocumentSource.toDFResilient(spark, new Store(docs, columnar = Some(bad))))
    assert(got.path == "cursor")
    assert(got.degraded.size == 1 && got.degraded.head.startsWith("columnar: ") &&
      got.degraded.head.contains("java.lang.String"), got.degraded)
    assert(jobs == 0)
    assertLocalRows(got.df, docs)
  }

  test("an unconvertible document fails toDFResilient after every rung degrades") {
    // first-document inference types n as int64; a later document's
    // string cannot be converted on either row rung
    val bad = Seq(Map[String, Any]("_id" -> 1L, "n" -> 1L),
      Map[String, Any]("_id" -> 2L, "n" -> "two"))
    val store = new DocumentSource with BatchedFetch {
      def fetch(): Seq[Map[String, Any]] = bad
      def fetchBatches(batchSize: Int): Iterator[Seq[Map[String, Any]]] =
        bad.grouped(batchSize)
    }
    val (err, jobs, _) = jobsAndTasks(
      intercept[ClassCastException](DocumentSource.toDFResilient(spark, store)))
    assert(err.getMessage.contains("java.lang.String"), err.getMessage)
    assert(jobs == 0)
  }

  // ── S1 read: footer schema, no job ──

  /** `TableIO.read(path)`'s schema equals `spark.read.parquet`'s, and
    * building the read starts no job.
    */
  private def assertFooterRead(path: String): DataFrame = {
    val (df, jobs, _) = jobsAndTasks {
      val df = TableIO.read(spark, path)
      df.schema
      df
    }
    assert(jobs == 0, s"$jobs jobs started by TableIO.read($path)")
    assert(df.schema == spark.read.parquet(path).schema, path)
    df
  }

  test("read: a Spark-written multi-file directory, with no job") {
    val path = tmpDir("read-multi") + "/t.parquet"
    spark.range(1000).select(col("id"), (col("id") * 0.5).as("x"),
        concat(lit("s"), col("id").cast(StringType)).as("s"))
      .repartition(4).write.parquet(path)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(assertFooterRead(path).count() == 1000)
  }

  test("read: a partitionBy directory keeps its partition column, with no job") {
    val path = tmpDir("read-partitioned") + "/t.parquet"
    TableIO.writePartitioned(
      spark.range(100).select(col("id"), (col("id") % 3).as("p")), path, Seq("p"))
    val df = assertFooterRead(path)
    assert(df.schema.fieldNames.toSeq == Seq("id", "p"))
    val pruned = df.filter(col("p") === 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
    assert(pruned.count() == 33)
  }

  test("read: big50 and ddl53 output, with no job") {
    val dir = tmpDir("read-generated")
    TableIO.write(Generators.big50(spark, 2000, seed = 3), s"$dir/big50", 500L)
    TableIO.write(Generators.ddl53(spark, 2000, seed = 3), s"$dir/ddl53", 500L)
    assert(assertFooterRead(s"$dir/big50").count() == 2000)
    assert(assertFooterRead(s"$dir/ddl53").count() == 2000)
  }
}
