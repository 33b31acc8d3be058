package graft.sources

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Document-store source (SURVEY §2.1 S9) — the Mongo→Parquet direction.
  *
  * The reference fetches documents, renames the store's `_id` to a
  * string `id` column, infers a schema from the first document, and
  * writes parquet (examples/run_example.py:43-75, 168-199). Here the
  * store is behind a trait (no Mongo in this environment); the Spark
  * side — schema inference, row coercion, DataFrame construction — is
  * the real path a connector would feed.
  *
  * Documents written by `Ingest` are [[RowDoc]]s: the export looks up
  * each field with one index probe, and the inferred columns follow the
  * first document's field order, as the reference's dict order does.
  */
trait DocumentSource extends Serializable {
  def fetch(): Seq[Map[String, Any]]
}

/** Optional fast-path capability: the store hands back typed columns
  * directly (the pymongoarrow `find_arrow_all` analogue —
  * run_example.py:43-55). Schema comes from the store, not first-doc
  * inference, and no per-document map is materialized.
  */
trait ColumnarFetch { self: DocumentSource =>
  /** (schema, column-name → column values); all columns equal length. */
  def fetchColumnar(): (StructType, Map[String, Seq[Any]])
}

/** Optional mid-path capability: batched cursor iteration (the pandas
  * `DataFrame(list(cursor))`-in-chunks analogue — run_example.py:57-66).
  * Bounds the RAW-document working set (one batch live at a time) when
  * the store is large but not columnar-capable; the converted rows still
  * accumulate driver-side — see the cursor rung's note in
  * [[DocumentSource.toDFResilient]].
  */
trait BatchedFetch { self: DocumentSource =>
  def fetchBatches(batchSize: Int): Iterator[Seq[Map[String, Any]]]
}

object DocumentSource {

  /** A source view over a named in-memory sink store (tests + demos).
    * Every read goes to one snapshot of the store, taken at the first
    * read: an array of references to the stored documents in insertion
    * order, so a DataFrame loaded from the view keeps its rows however
    * the store changes later. The view is range-addressable, so
    * [[toDFResilient]] serves it from the `ranged-local` rung: each task
    * converts its own range, and no row copy stays on the driver. The
    * registration that rung returns pins the snapshot until the caller
    * removes it.
    */
  def inMemory(name: String): DocumentSource with RangedFetch =
    new DocumentSource with RangedFetch {
      private lazy val docs = ArraySeq.unsafeWrapArray(InMemorySink.snapshot(name))
      def fetch(): Seq[Map[String, Any]] = docs
      def total(): Int = docs.length
      def fetchRange(start: Int, count: Int): Seq[Map[String, Any]] =
        docs.slice(start, start + count)
    }

  /** Fetch → rename `_id`→`id` (string) → infer schema from the FIRST
    * document (run_example.py:78-106 semantics) → DataFrame.
    */
  def toDF(spark: SparkSession, source: DocumentSource): DataFrame =
    fromDocs(spark, source.fetch())

  /** No-limit sentinel: fetch everything (the default). */
  val NoLimit: Int = Int.MaxValue

  /** Documents per cursor batch or per ranged input partition when the
    * caller names no size.
    */
  val DefaultBatchSize: Int = 10000

  /** Which fetch path `toDFResilient` ended up on, for the caller's run
    * report (the reference logs its chosen path the same way).
    *
    * @param registryName set only on the `ranged-local` path: the
    *        counter-minted [[DocumentSourceRegistry]] name holding a
    *        strong reference to the store. Callers should
    *        `DocumentSourceRegistry.remove(name)` once the DataFrame is
    *        materialized (or no longer needed) to release it; the
    *        descriptor-backed `ranged` path registers nothing.
    */
  final case class Fetched(df: DataFrame, path: String, degraded: Seq[String],
      registryName: Option[String] = None)

  /** Capability-probing fetch with graceful degradation: [EXT] ranged
    * (DSv2 connector, executor-side range fetch — [[RangedFetch]];
    * cluster-real via a serializable [[RangedDescriptor]] when the
    * store provides one, else the JVM-local registry fallback labeled
    * `ranged-local`) → then the reference's own chain: pymongoarrow
    * `find_arrow_all` → pandas-over-cursor → plain `find`
    * (run_example.py:43-75). The
    * fastest supported path is tried first; a path that throws is
    * recorded and the next one runs. Every path converges on the same
    * (`_id`→string `id`, §1.4-coerced) DataFrame, so callers never see
    * which rung served them.
    *
    * @param limit cap on fetched documents (run_example.py:152's `--limit`
    *              semantics). Applied as each rung materializes rows — the
    *              cursor rung stops pulling batches once the cap is hit —
    *              though with these in-process stores the fetch itself has
    *              already run; a wire connector would push the cap into
    *              the store query server-side.
    */
  def toDFResilient(spark: SparkSession, source: DocumentSource,
      batchSize: Int = DefaultBatchSize, limit: Int = NoLimit): Fetched = {
    require(limit >= 0, s"limit $limit must be >= 0")
    val degraded = scala.collection.mutable.ArrayBuffer.empty[String]

    source match {
      // Top rung [EXT]: range-addressable stores go through the DSv2
      // connector — each Spark partition fetches its own range on an
      // executor, so driver memory is O(1) in the dataset (the rung the
      // cursor path's note points to). Stores that provide a
      // RangedDescriptor take the cluster-real path: the descriptor
      // rides in the scan options and each task re-opens the store from
      // it, no driver-JVM state anywhere ("ranged"). Descriptor-less
      // stores fall back to the per-JVM registry, which only resolves
      // when driver and executors share a process — hence the honest
      // "ranged-local" label and the returned registryName for cleanup.
      // load() is schema-inference eager (first batch), so a store that
      // lies about the capability still degrades here rather than
      // failing the caller's first action.
      case r: RangedFetch =>
        var registered: Option[String] = None
        try {
          val reader0 = spark.read.format("graft.sources.DocumentSourceV2")
            .option("batch-size", batchSize)
          val (reader, label) = r.descriptor match {
            case Some(d) =>
              (reader0.option("descriptor", DocumentSourceV2.encodeDescriptor(d)),
                "ranged")
            case None =>
              registered = Some(DocumentSourceRegistry.registerAnonymous(
                source.asInstanceOf[DocumentSource with RangedFetch]))
              (reader0.option("source", registered.get), "ranged-local")
          }
          val df = (if (limit == NoLimit) reader
            else reader.option("limit", limit)).load()
          return Fetched(df, label, degraded.toSeq, registered)
        } catch { case e: Exception =>
          // a failed load() must not leak the anonymous registration
          registered.foreach(DocumentSourceRegistry.remove)
          degraded += s"ranged: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
        }
      case _ => ()
    }

    source match {
      case c: ColumnarFetch =>
        try {
          val (schema0, cols0) = c.fetchColumnar()
          // A store exposing BOTH `_id` and a literal `id` column would
          // collapse the two onto one map key below (one column's data
          // silently lost) while the schema kept two `id` fields. Match
          // the row rungs' renameId semantics — `_id` wins, the literal
          // `id` is dropped — BEFORE the rename, on schema and columns.
          val (schemaIn, colsIn) =
            if (cols0.contains("_id") && cols0.contains("id"))
              (StructType(schema0.fields.filterNot(_.name == "id")), cols0 - "id")
            else (schema0, cols0)
          // _id→id rename on schema AND columns; id forced to string
          val renamed = schemaIn.fields.map {
            case StructField("_id", _, n, m) => StructField("id", StringType, n, m)
            case f => f
          }
          val schema = normalizeIdField(StructType(renamed))
          val cols = colsIn.map {
            case ("_id", vs) => "id" -> vs.map(String.valueOf(_: Any))
            case ("id", vs) => "id" -> vs.map(String.valueOf(_: Any))
            case kv => kv
          }
          val nAll = cols.headOption.map(_._2.size).getOrElse(0)
          require(cols.values.forall(_.size == nAll), "ragged columnar batch")
          val n = math.min(nAll, limit)
          // §1.4 coercion applies on this rung too — every rung must
          // converge on the same DataFrame, so a store handing back Int
          // where the schema says int64 (or datetimes for timestamp
          // fields) is normalized here, not rejected at action time.
          // Columns are resolved to IndexedSeq ONCE: positional access on
          // a linear Seq (a store returning Lists) would make the row
          // loop O(n²) per column, and the per-row Map lookups go too.
          val fields = schema.fields.toSeq
          val colArrs = fields.map(f => cols(f.name).toIndexedSeq)
          val rows = Iterator.range(0, n).map { i =>
            org.apache.spark.sql.Row.fromSeq(
              fields.zip(colArrs).map { case (f, c) => TableIO.coerce(c(i), f.dataType) })
          }
          return Fetched(TableIO.fromRows(spark, rows, schema), "columnar", degraded.toSeq)
        } catch { case e: Exception =>
          degraded += s"columnar: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
        }
      case _ => ()
    }

    source match {
      case b: BatchedFetch =>
        try {
          // First batch drives schema inference (first-document semantics,
          // run_example.py:78-106); every document is converted to a
          // coerced row as it streams past, so only one batch of RAW
          // documents is live at a time. The converted rows still
          // accumulate on the driver — O(dataset), now as compact
          // UnsafeRows, as the reference appends pandas chunks — so this
          // rung bounds the raw-document working set, NOT total driver
          // memory; stores that can range-address (RangedFetch) take the
          // DSv2 rung above instead, which lands each range on an
          // executor. A value that does not fit the schema raises while
          // the rows are built, so it degrades this rung here rather
          // than failing the caller's write. The fetch limit
          // short-circuits the cursor: batches past the cap are never
          // pulled.
          val it = b.fetchBatches(batchSize)
          if (!it.hasNext || limit == 0)
            return Fetched(fromDocs(spark, Seq.empty), "cursor", degraded.toSeq)
          val first = it.next().take(limit).map(renameId)
          val schema = normalizeIdField(SchemaInfer.inferSchema(first))
          val docs = (first.iterator ++ it.flatMap(_.iterator.map(renameId))).take(limit)
          return Fetched(TableIO.fromRows(spark, docs.map(TableIO.toRow(schema, _)), schema),
            "cursor", degraded.toSeq)
        } catch { case e: Exception =>
          degraded += s"cursor: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
        }
      case _ => ()
    }

    Fetched(fromDocs(spark, source.fetch().take(limit)), "plain", degraded.toSeq)
  }

  private[sources] def renameId(d: Map[String, Any]): Map[String, Any] =
    d.get("_id") match {
      case Some(v) => d - "_id" + ("id" -> String.valueOf(v))
      case None => d
    }

  /** Shared with the DSv2 ranged path: `id` is always a string after the
    * `_id` rename, whatever the store's id type.
    */
  private[sources] def normalizeIdSchema(schema: StructType): StructType =
    normalizeIdField(schema)

  private def fromDocs(spark: SparkSession, raw: Seq[Map[String, Any]]): DataFrame = {
    val docs = raw.map(renameId)
    val schema = normalizeIdField(SchemaInfer.inferSchema(docs))
    TableIO.fromRows(spark, docs.iterator.map(TableIO.toRow(schema, _)), schema)
  }

  /** `id` is always a string after the `_id` rename (run_example.py:72-75),
    * even when the store's ids are numeric.
    */
  private def normalizeIdField(schema: StructType): StructType =
    StructType(schema.fields.map {
      case StructField("id", _, n, m) => StructField("id", StringType, n, m)
      case f => f
    })
}
