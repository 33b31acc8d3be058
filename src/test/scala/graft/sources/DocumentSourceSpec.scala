package graft.sources

import org.apache.spark.sql.types.{LongType, StringType}

import graft.SparkSpec

/** S9: document source → DataFrame with the reference's `_id`→`id`
  * string rename and first-doc schema inference (run_example.py:43-75).
  */
class DocumentSourceSpec extends SparkSpec {

  test("S9 fetches documents, renames _id to string id, infers schema") {
    InMemorySink.clear("t_source")
    val sink = InMemorySink("t_source")
    sink.insertMany(Seq(
      Map("_id" -> 7L, "name" -> "alice", "score" -> 9.5),
      Map("_id" -> 8L, "name" -> "bob", "score" -> 7.25),
      Map("_id" -> 9L, "name" -> "carol"))) // missing score ⇒ null

    val df = DocumentSource.toDF(spark, DocumentSource.inMemory("t_source"))
    assert(df.schema("id").dataType == StringType)
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.count() == 3)
    val byId = df.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("7").getAs[String]("name") == "alice")
    assert(byId("9").isNullAt(byId("9").fieldIndex("score")))
  }

  // ── fallback chain: columnar → cursor → plain (run_example.py:43-75) ──

  /** Store supporting all three rungs, with switches that make the upper
    * rungs throw mid-fetch — the pymongoarrow-missing / arrow-conversion-
    * failure scenarios the reference degrades through.
    */
  private class FakeStore(failColumnar: Boolean, failCursor: Boolean)
      extends DocumentSource with ColumnarFetch with BatchedFetch {
    import org.apache.spark.sql.types._
    private val docs = (1 to 40).map(i =>
      Map[String, Any]("_id" -> i.toLong, "name" -> s"d$i", "score" -> i * 0.5))
    def fetch(): Seq[Map[String, Any]] = docs
    def fetchBatches(batchSize: Int): Iterator[Seq[Map[String, Any]]] = {
      if (failCursor) throw new RuntimeException("cursor timed out")
      docs.grouped(batchSize)
    }
    def fetchColumnar(): (StructType, Map[String, Seq[Any]]) = {
      if (failColumnar) throw new RuntimeException("arrow conversion unsupported")
      (StructType(Seq(
        StructField("_id", LongType), StructField("name", StringType),
        StructField("score", DoubleType))),
        Map("_id" -> docs.map(_("_id")), "name" -> docs.map(_("name")),
          "score" -> docs.map(_("score"))))
    }
  }

  private def canonical(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Double)] =
    df.select("id", "name", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("resilient fetch picks the columnar fast path when the store supports it") {
    val got = DocumentSource.toDFResilient(spark, new FakeStore(false, false))
    assert(got.path == "columnar")
    assert(got.degraded.isEmpty)
    assert(got.df.schema("id").dataType == StringType)
    assert(got.df.count() == 40)
  }

  test("columnar failure degrades to the batched cursor, then to plain find") {
    val viaCursor = DocumentSource.toDFResilient(spark,
      new FakeStore(failColumnar = true, failCursor = false), batchSize = 7)
    assert(viaCursor.path == "cursor")
    assert(viaCursor.degraded.exists(_.startsWith("columnar:")))

    val viaPlain = DocumentSource.toDFResilient(spark,
      new FakeStore(failColumnar = true, failCursor = true))
    assert(viaPlain.path == "plain")
    assert(viaPlain.degraded.size == 2)

    // every rung must produce the SAME DataFrame — callers can't tell
    val fast = DocumentSource.toDFResilient(spark, new FakeStore(false, false))
    assert(canonical(fast.df) == canonical(viaCursor.df))
    assert(canonical(fast.df) == canonical(viaPlain.df))
  }

  test("columnar rung applies §1.4 coercion (Int where the schema says int64)") {
    import org.apache.spark.sql.types._
    val store = new DocumentSource with ColumnarFetch {
      def fetch(): Seq[Map[String, Any]] = Seq.empty
      def fetchColumnar(): (StructType, Map[String, Seq[Any]]) =
        (StructType(Seq(StructField("_id", LongType), StructField("n", LongType))),
          // store hands back boxed Ints for an int64 column — must coerce,
          // not blow up at action time
          Map("_id" -> Seq(1, 2, 3), "n" -> Seq(10, 20, 30)))
    }
    val got = DocumentSource.toDFResilient(spark, store)
    assert(got.path == "columnar")
    assert(got.df.collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 20L, 30L))
  }

  /** A fetch-only view of sink `name`: a store with none of the upper
    * rungs' capabilities.
    */
  private def fetchOnly(name: String): DocumentSource = new DocumentSource {
    def fetch(): Seq[Map[String, Any]] = InMemorySink(name).drain()
  }

  test("plain-only store takes the plain path with no degradation noise") {
    InMemorySink.clear("t_plain_only")
    InMemorySink("t_plain_only").insertMany(Seq(Map("_id" -> 1L, "v" -> 2L)))
    val got = DocumentSource.toDFResilient(spark, fetchOnly("t_plain_only"))
    assert(got.path == "plain" && got.degraded.isEmpty)
    assert(got.df.count() == 1)
  }

  // ── the in-memory sink on the ranged rung ──

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  /** The in-memory view of `name` takes the ranged rung, matches the
    * plain rung over the same store row for row and column for column,
    * and leaves the registry as it found it once released.
    */
  private def assertRangedMatchesPlain(name: String, batchSize: Int): Unit = {
    val before = DocumentSourceRegistry.names
    val ranged = DocumentSource.toDFResilient(spark, DocumentSource.inMemory(name),
      batchSize = batchSize)
    try {
      assert(ranged.path == "ranged-local" && ranged.degraded.isEmpty)
      val plain = DocumentSource.toDFResilient(spark, fetchOnly(name))
      assert(plain.path == "plain")
      assert(ranged.df.columns.toSeq == plain.df.columns.toSeq)
      assert(ranged.df.schema == plain.df.schema)
      assert(rows(ranged.df) == rows(plain.df))
    } finally ranged.registryName.foreach(DocumentSourceRegistry.remove)
    assert(DocumentSourceRegistry.names == before)
  }

  test("in-memory store of plain maps with _id: ranged rung, same rows as plain") {
    InMemorySink.clear("t_ranged_maps")
    InMemorySink("t_ranged_maps").insertMany((1 to 45).map(i => Map[String, Any](
      "_id" -> i.toLong, "name" -> s"d$i", "score" -> i * 0.5)))
    assertRangedMatchesPlain("t_ranged_maps", batchSize = 10)
    InMemorySink.clear("t_ranged_maps")
  }

  test("in-memory store of RowDocs: ranged rung, same rows and column order as plain") {
    InMemorySink.clear("t_ranged_rowdocs")
    val df = Generators.big50(spark, 300, numPartitions = 3)
    Ingest.bulkUpsert(df, "t_ranged_rowdocs", pk = Seq("i_0"), batchSize = 70)
    assert(InMemorySink("t_ranged_rowdocs").drain().forall(_.isInstanceOf[RowDoc]))
    assertRangedMatchesPlain("t_ranged_rowdocs", batchSize = 64)
    InMemorySink.clear("t_ranged_rowdocs")
  }

  test("in-memory export plans a DSv2 scan over a snapshot, with no LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    InMemorySink.clear("t_ranged_snap")
    val sink = InMemorySink("t_ranged_snap")
    sink.insertMany((1 to 30).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i.toLong)))
    val before = DocumentSourceRegistry.names
    val got = DocumentSource.toDFResilient(spark, DocumentSource.inMemory("t_ranged_snap"),
      batchSize = 8)
    try {
      val plan = got.df.queryExecution.optimizedPlan
      assert(plan.collect { case s: DataSourceV2ScanRelation => s }.size == 1, plan)
      assert(plan.collect { case l: LocalRelation => l }.isEmpty, plan)
      // the snapshot is taken at load(): growing or clearing
      // the store before the action changes neither count nor values
      sink.insertMany((31 to 50).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i.toLong)))
      assert(got.df.count() == 30)
      assert(got.df.rdd.getNumPartitions == 4) // 8+8+8+6
      InMemorySink.clear("t_ranged_snap")
      assert(got.df.selectExpr("sum(v)").head().getLong(0) == (1 to 30).sum.toLong)
    } finally got.registryName.foreach(DocumentSourceRegistry.remove)
    assert(DocumentSourceRegistry.names == before)
  }

  test("fetch limit caps every rung at the same row count (run_example.py:152)") {
    val columnar = DocumentSource.toDFResilient(spark,
      new FakeStore(false, false), limit = 12)
    assert(columnar.path == "columnar" && columnar.df.count() == 12)
    val cursor = DocumentSource.toDFResilient(spark,
      new FakeStore(failColumnar = true, failCursor = false),
      batchSize = 7, limit = 12)
    assert(cursor.path == "cursor" && cursor.df.count() == 12)
    val plain = DocumentSource.toDFResilient(spark,
      new FakeStore(failColumnar = true, failCursor = true), limit = 12)
    assert(plain.path == "plain" && plain.df.count() == 12)
    // the capped prefix is identical across rungs too
    assert(canonical(columnar.df) == canonical(cursor.df))
    assert(canonical(columnar.df) == canonical(plain.df))
  }

  test("cursor rung stops pulling batches once the limit is reached") {
    var pulled = 0
    val store = new DocumentSource with BatchedFetch {
      private val docs = (1 to 100).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i.toLong))
      def fetch(): Seq[Map[String, Any]] = docs
      def fetchBatches(batchSize: Int): Iterator[Seq[Map[String, Any]]] =
        docs.grouped(batchSize).map { b => pulled += 1; b }
    }
    val got = DocumentSource.toDFResilient(spark, store, batchSize = 10, limit = 25)
    assert(got.df.count() == 25)
    // 25 rows at batch 10 ⇒ 3 batches pulled, not all 10 — the cap must
    // short-circuit the cursor, not truncate after a full drain
    assert(pulled == 3, s"pulled $pulled batches for a 25-row limit")
  }

  test("columnar rung with both _id and a literal id keeps _id (renameId semantics)") {
    import org.apache.spark.sql.types._
    val store = new DocumentSource with ColumnarFetch {
      def fetch(): Seq[Map[String, Any]] = Seq.empty
      def fetchColumnar(): (StructType, Map[String, Seq[Any]]) =
        (StructType(Seq(
          StructField("_id", LongType), StructField("id", StringType),
          StructField("v", LongType))),
          Map("_id" -> Seq(1L, 2L), "id" -> Seq("legacy_a", "legacy_b"),
            "v" -> Seq(10L, 20L)))
    }
    val got = DocumentSource.toDFResilient(spark, store)
    assert(got.path == "columnar")
    // exactly ONE id column survives (no duplicate-named schema), and it
    // carries the store's _id values — matching the row rungs, where
    // renameId overwrites any literal id with _id
    assert(got.df.schema.fields.count(_.name == "id") == 1)
    assert(got.df.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("1", "2"))
  }

  test("S9 round-trip: sink → source → DataFrame → parquet → read") {
    InMemorySink.clear("t_source_rt")
    InMemorySink("t_source_rt").insertMany(
      (1 to 50).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i * 2L)))
    val df = DocumentSource.toDF(spark, DocumentSource.inMemory("t_source_rt"))
    val path = tmpDir("s9") + "/docs.parquet"
    TableIO.write(df, path)
    val back = TableIO.read(spark, path)
    assert(back.count() == 50)
    assert(back.schema("v").dataType == LongType)
  }
}
