package graft

import graft.sources.{DocumentSourceRegistry, InMemorySink}

/** End-to-end CLI modes (reference: examples/run_example.py:146-199 and
  * the ingest CLIs' flag surface). Each mode runs hermetically through
  * Demo.run with the suite session.
  */
class DemoSpec extends SparkSpec {

  private def run(argv: String*): Map[String, String] =
    Demo.run(spark, Demo.parse(argv.toSeq))

  test("generate mode writes the requested rows and reports the path") {
    val dir = tmpDir("demo-gen")
    val r = run("generate", "--rows", "500", "--out", dir)
    assert(r("rows") == "500")
    assert(r("cols") == "50")
    assert(r.contains("elapsed_sec"))
  }

  test("generate --ddl switches to the 53-col DDL workload shape") {
    val dir = tmpDir("demo-gen-ddl")
    val r = run("generate", "--rows", "200", "--ddl", "--out", dir)
    assert(r("rows") == "200")
    assert(r("cols") == "53")
  }

  test("ingest mode honors --batch-size, --dry-run and --upsert") {
    val dir = tmpDir("demo-ing")
    val gen = run("generate", "--rows", "300", "--out", dir)

    InMemorySink.clear("demo_dry")
    val dry = run("ingest", "--in", gen("path"), "--sink", "demo_dry", "--dry-run")
    assert(dry("rows") == "300" && dry("stored") == "0")

    InMemorySink.clear("demo_up")
    val up1 = run("ingest", "--in", gen("path"), "--sink", "demo_up",
      "--upsert", "i_0", "--batch-size", "50")
    assert(up1("stored") == "300")
    assert(up1("summary").contains("rows/sec"))
    // idempotent rerun — the reference's --upsert retry-safety story
    val up2 = run("ingest", "--in", gen("path"), "--sink", "demo_up", "--upsert", "i_0")
    assert(up2("stored") == "300")
    InMemorySink.clear("demo_up")
  }

  test("export mode composes store → DataFrame → parquet → read-back") {
    InMemorySink.clear("demo_exp")
    InMemorySink("demo_exp").insertMany(
      (1 to 25).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i * 3L)))
    val dir = tmpDir("demo-exp")
    val before = DocumentSourceRegistry.names
    val r = run("export", "--sink", "demo_exp", "--out", dir)
    assert(r("rows") == "25")
    assert(r("schema").contains("id:string")) // _id→string id rename held
    assert(r("fetch_path") == "ranged-local") // in-memory store: ranged rung
    assert(r("partitions") == "1")            // 25 docs in one 10 000-doc range
    // the export releases the registration that pins the store's snapshot
    assert(DocumentSourceRegistry.names == before)
    InMemorySink.clear("demo_exp")
  }

  test("export-jsonl mode runs the cluster-real descriptor path end to end") {
    val store = tmpDir("demo-jsonl-store")
    graft.sources.JsonlStore.write(store,
      (1 to 120).map(i => Map[String, Any](
        "_id" -> i.toLong, "name" -> s"d$i", "score" -> i * 0.5)),
      maxPerFile = 50)
    val dir = tmpDir("demo-jsonl-out")
    val r = run("export-jsonl", "--store", store, "--out", dir,
      "--batch-size", "32")
    assert(r("rows") == "120")
    assert(r("fetch_path") == "ranged", s"expected the descriptor rung: $r")
    assert(r("partitions") == "4") // ceil(120/32) planned ranges
    assert(r("schema").contains("id:string"))
    // --limit caps at partition-planning time here too
    val capped = run("export-jsonl", "--store", store, "--out", dir,
      "--batch-size", "32", "--limit", "40")
    assert(capped("rows") == "40" && capped("partitions") == "2")
  }

  test("roundtrip mode: generate → ingest → export agree on row count") {
    val dir = tmpDir("demo-rt")
    val r = run("roundtrip", "--rows", "400", "--out", dir)
    assert(r("ok") == "true", s"roundtrip mismatch: $r")
    assert(r("rows") == "400" && r("exported") == "400")
  }

  test("generate --row-batch-size bounds rows per output file") {
    val dir = tmpDir("demo-rbs")
    val r = run("generate", "--rows", "500", "--row-batch-size", "100", "--out", dir)
    assert(r("rows") == "500")
    // 500 rows at <=100/file ⇒ at least 5 part files (exactly 5 when the
    // generator's partitioning aligns; more if a partition boundary splits)
    assert(r("files").toInt >= 5, s"expected >=5 files, got ${r("files")}")
    // default (100k/file) keeps the same row count in fewer files
    val dflt = run("generate", "--rows", "500", "--out", tmpDir("demo-rbs-d"))
    assert(dflt("files").toInt < r("files").toInt)
  }

  test("ingest --partitions sets the sink-writer concurrency (≙ --max-workers)") {
    val dir = tmpDir("demo-part")
    val gen = run("generate", "--rows", "300", "--out", dir)
    InMemorySink.clear("demo_part")
    val r = run("ingest", "--in", gen("path"), "--sink", "demo_part",
      "--partitions", "3", "--batch-size", "50")
    assert(r("partitions") == "3", s"partition knob not observed: $r")
    assert(r("stored") == "300")
    // 300 rows / 3 partitions / batch 50 ⇒ 2 batches per writer
    assert(r("batches") == "6", s"expected 6 batches, got ${r("batches")}")
    InMemorySink.clear("demo_part")
    intercept[IllegalArgumentException](
      run("ingest", "--in", gen("path"), "--sink", "demo_part", "--partitions", "0"))
  }

  test("export --limit caps the fetched documents (run_example.py:152)") {
    InMemorySink.clear("demo_lim")
    InMemorySink("demo_lim").insertMany(
      (1 to 40).map(i => Map[String, Any]("_id" -> i.toLong, "v" -> i * 2L)))
    val r = run("export", "--sink", "demo_lim", "--out", tmpDir("demo-lim"), "--limit", "15")
    assert(r("rows") == "15", s"limit not applied: $r")
    InMemorySink.clear("demo_lim")
  }

  test("bad input fails with usage, not a stack of nulls") {
    intercept[IllegalArgumentException](run("frobnicate"))
    intercept[IllegalArgumentException](run("export", "--out", "/tmp/x")) // missing --sink
  }

  test("bare --upsert is rejected instead of collapsing every row onto a null key") {
    val dir = tmpDir("demo-bare-upsert")
    val gen = run("generate", "--rows", "50", "--out", dir)
    InMemorySink.clear("demo_bare")
    // valueless --upsert would make every row's PK "null" -> 1 stored doc
    intercept[IllegalArgumentException](
      run("ingest", "--in", gen("path"), "--sink", "demo_bare", "--upsert"))
    // unknown PK column is caught up front too
    intercept[IllegalArgumentException](
      run("ingest", "--in", gen("path"), "--sink", "demo_bare", "--upsert", "nope"))
    assert(InMemorySink("demo_bare").count() == 0)
  }
}
