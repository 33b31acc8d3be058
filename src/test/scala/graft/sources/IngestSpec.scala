package graft.sources

import graft.SparkSpec

class IngestSpec extends SparkSpec {

  test("S6 batched insert lands every row and counts batches") {
    InMemorySink.clear("t_insert")
    val df = Generators.big50(spark, 2500, numPartitions = 4)
      .select("i_0", "s_0", "f_0")
    val m = Ingest.ingest(df, "t_insert", batchSize = 100)
    assert(m.rows == 2500)
    assert(m.batches >= 25) // ≥ rows/batchSize, split across partitions
    assert(InMemorySink("t_insert").count() == 2500)
  }

  test("S7 keyed upsert is idempotent — the retry-safety contract (README.md:102)") {
    InMemorySink.clear("t_upsert")
    val df = Generators.ddl53(spark, 1000, numPartitions = 2)
      .select("int_0", "str_0", "dec_0")
    val m1 = Ingest.bulkUpsert(df, "t_upsert", pk = Seq("int_0"))
    assert(m1.rows == 1000)
    assert(InMemorySink("t_upsert").count() == 1000)
    // second run replaces, never duplicates
    Ingest.bulkUpsert(df, "t_upsert", pk = Seq("int_0"))
    assert(InMemorySink("t_upsert").count() == 1000)
  }

  test("per-batch distribution summary matches the reference's report shape") {
    // ingest_parquet_to_mongo_bulk.py:197-209 reports median/avg/peak
    // rows-per-sec and write ms per batch; Metrics.dist carries the same
    // summary from a bounded reservoir accumulator.
    InMemorySink.clear("t_dist")
    val df = Generators.big50(spark, 2000, numPartitions = 4).select("i_0", "s_0")
    val m = Ingest.ingest(df, "t_dist", batchSize = 100)
    val d = m.dist
    assert(d.batches == m.batches)
    assert(d.msPeak >= 0 && d.msAvg >= 0.0)
    // medians come from the reservoir: must sit inside the observed range
    assert(d.msMedian <= d.msPeak.toDouble)
    assert(d.msAvg <= d.msPeak.toDouble)
    assert(d.rpsMedian <= d.rpsPeak && d.rpsAvg <= d.rpsPeak)
    assert(d.rpsPeak > 0.0, "peak rows/sec must be observed")
    assert(Ingest.summary(m).contains("rows/sec"))
  }

  test("distribution accumulator: exact scalars, bounded reservoir, deterministic merge") {
    val a = new Ingest.BatchStatsAcc(capacity = 8)
    (1L to 100L).foreach(i => a.add((i * 10, i)))
    val b = new Ingest.BatchStatsAcc(capacity = 8)
    (101L to 200L).foreach(i => b.add((i * 10, i)))
    a.merge(b)
    val d = a.value
    assert(d.batches == 200)
    assert(d.msPeak == 200)
    assert(math.abs(d.msAvg - 100.5) < 1e-9) // exact despite sampling
    assert(d.msMedian >= 1.0 && d.msMedian <= 200.0)
    // determinism: same inputs → same summary (replay-safe under retries)
    val a2 = new Ingest.BatchStatsAcc(capacity = 8)
    (1L to 100L).foreach(i => a2.add((i * 10, i)))
    val b2 = new Ingest.BatchStatsAcc(capacity = 8)
    (101L to 200L).foreach(i => b2.add((i * 10, i)))
    a2.merge(b2)
    assert(a2.value == d)
  }

  test("reservoir merge weights sides by observed batches, not reservoir size") {
    // saturated 10k-batch side (ms ~ 100) vs a 4-batch outlier side
    // (ms = 9000): the merged median must stay with the bulk, not the
    // outliers — proportional allocation gives the small side ~0 slots
    val big = new Ingest.BatchStatsAcc(capacity = 64)
    (1L to 10000L).foreach(i => big.add((100, 100 + (i % 7))))
    val small = new Ingest.BatchStatsAcc(capacity = 64)
    (1L to 4L).foreach(_ => small.add((100, 9000)))
    big.merge(small)
    val d = big.value
    assert(d.batches == 10004)
    assert(d.msMedian < 1000.0,
      f"median ${d.msMedian}%.0f dragged toward the 4-batch outlier side")
    assert(d.msPeak == 9000) // peak is exact regardless of sampling
  }

  test("S10 dry run writes nothing") {
    InMemorySink.clear("t_dry")
    val df = Generators.big50(spark, 50).select("i_0")
    val m = Ingest.ingest(df, "t_dry", dryRun = true)
    assert(m.rows == 50)
    assert(InMemorySink("t_dry").count() == 0)
  }

  test("bulk upsert stores each row as one RowDoc over its partition's shared Fields") {
    InMemorySink.clear("t_rowdoc")
    val df = Generators.big50(spark, 2000, numPartitions = 4)
    Ingest.bulkUpsert(df, "t_rowdoc", pk = Seq("i_0"), batchSize = 300)
    val docs = InMemorySink("t_rowdoc").drain()
    // the same entries a per-row map of (name -> value) would hold
    val names = df.schema.fieldNames
    val expected = df.collect().map(r => names.indices.map(i => names(i) -> r.get(i)).toMap)
    def byKey(ds: Seq[Map[String, Any]]) = ds.sortBy(_("i_0").asInstanceOf[Long])
    assert(docs.size == expected.length)
    assert(byKey(docs) == byKey(expected.toSeq))
    // one Fields instance per partition, never one per row
    val shared = docs.map(_.asInstanceOf[RowDoc].fields)
      .foldLeft(List.empty[Fields])((seen, f) => if (seen.exists(_ eq f)) seen else f :: seen)
    assert(shared.size == df.rdd.getNumPartitions, s"${shared.size} Fields for ${docs.size} docs")
    // the export's columns follow the documents' field order
    val back = DocumentSource.toDFResilient(spark, DocumentSource.inMemory("t_rowdoc"))
    assert(back.df.columns.toSeq == names.toSeq)
    back.registryName.foreach(DocumentSourceRegistry.remove)
    InMemorySink.clear("t_rowdoc")
  }
}
