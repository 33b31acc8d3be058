package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.streaming.EventStreams

/** `Tables.load` reads each schema from one footer on the driver: the
  * schema must equal what `spark.read.parquet` infers, and no load may
  * start a job.
  */
class TablesSchemaSpec extends SparkSpec {

  /** The inferring loader `Tables.load` replaced: `spark.read.parquet`
    * plus the events `ts` normalization.
    */
  private def inferred(dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw else {
      val ts = raw.schema("ts").dataType match {
        case LongType => timestamp_micros(expr("ts div 1000"))
        case TimestampNTZType => col("ts").cast(TimestampType)
        case _ => col("ts")
      }
      raw.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }
  }

  private def assertSameSchemas(dir: String, names: Seq[String]): Unit = {
    // events' footer dispatch reads ts under the legacy nanos mode
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      val path = s"$dir/$n.parquet"
      assert(Tables.footerSchema(spark, path) == spark.read.parquet(path).schema,
        s"$path: footer schema != inferred schema")
      assert(Tables.load(spark, dir, n).schema == inferred(dir, n).schema,
        s"$path: loaded schema != inferred loader's schema")
    }
  }

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { s =>
    test(s"every $s fixture loads with the schema spark.read.parquet infers") {
      assertSameSchemas(sf(s), Tables.names)
    }
  }

  test("a Spark-written multi-part directory loads with the inferred schema") {
    val d = tmpDir("tables-multipart")
    Seq("orders", "customer").foreach { n =>
      Tables.load(spark, sf(), n).repartition(4)
        .write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    assert(new java.io.File(s"$d/orders.parquet/_SUCCESS").exists())
    assertSameSchemas(d, Seq("orders", "customer"))
    assert(Tables.load(spark, d, "orders").count() ==
      Tables.load(spark, sf(), "orders").count())
  }

  test("a table written from non-nullable columns loads all-nullable, as inferred") {
    val d = tmpDir("tables-nonnull")
    import spark.implicits._
    val docs = Seq((1L, "a b", "en", "web", 3L), (2L, "c d", "de", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(!docs.schema("doc_id").nullable)
    docs.repartition(2).write.mode("overwrite").parquet(s"$d/documents.parquet")
    assertSameSchemas(d, Seq("documents"))
    assert(Tables.load(spark, d, "documents").schema.forall(_.nullable))
  }

  test("a partitioned directory loads with the inferred data and partition columns") {
    val d = tmpDir("tables-partitioned")
    Tables.load(spark, sf(), "documents")
      .write.partitionBy("lang").mode("overwrite").parquet(s"$d/documents.parquet")
    // the footer holds the data columns; the reader appends `lang` from
    // the directory names, with or without a given schema
    assert(Tables.footerSchema(spark, s"$d/documents.parquet").fieldNames.toSeq ==
      Seq("doc_id", "text", "source", "n_chars"))
    assert(Tables.load(spark, d, "documents").schema == inferred(d, "documents").schema)
  }

  test("loading all ten fixtures starts no Spark job") {
    val (_, jobs, _) = jobsAndTasks(Tables.names.foreach(n => Tables.load(spark, sf(), n)))
    assert(jobs == 0, s"$jobs jobs started by ${Tables.names.size} loads")
  }

  test("readEvents probes ts from the footer without a job") {
    import java.nio.file.{Files, Paths}
    val d = tmpDir("tables-events-stream")
    Files.copy(Paths.get(s"${sf()}/events.parquet"), Paths.get(d, "events.parquet"))
    val (df, jobs, _) = jobsAndTasks(EventStreams.readEvents(spark, d))
    assert(jobs == 0, s"$jobs jobs started by readEvents")
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == TimestampType)
  }

  test("a missing table or a directory with no parquet file still fails analysis") {
    val d = tmpDir("tables-missing")
    intercept[AnalysisException](Tables.load(spark, d, "region"))
    intercept[AnalysisException](Tables.load(spark, d, "events"))
    new java.io.File(s"$d/nation.parquet").mkdirs()
    new java.io.File(s"$d/nation.parquet/_SUCCESS").createNewFile()
    intercept[AnalysisException](Tables.load(spark, d, "nation"))
    intercept[AnalysisException](spark.read.parquet(s"$d/nation.parquet"))
  }

  test("readEvents on an empty directory falls back to the int64-nanos ts") {
    val df = EventStreams.readEvents(spark, tmpDir("tables-events-empty"))
    val source = df.queryExecution.logical.collectLeaves().head
    assert(source.schema("ts").dataType == LongType)
    assert(df.schema("ts").dataType == TimestampType)
  }
}
