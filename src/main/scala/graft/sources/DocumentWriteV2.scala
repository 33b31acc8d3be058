package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** DataSource V2 batch WRITE into a [[StagedDocumentWrite]] document
  * store — the write half of the `graft-docs` connector, completing the
  * reference's parquet→store direction (ingest_parquet_to_mongo_bulk.py's
  * keyed bulk upsert) in cluster-real form:
  *
  *  - each EXECUTOR task opens the store from the serializable
  *    [[RangedDescriptor]] carried by the write (zero driver-JVM state,
  *    same contract as the read path) and STREAMS its partition into a
  *    staged batch — the connector analogue of buffered bulk writes;
  *    nothing partition-sized accumulates in memory;
  *  - the DRIVER's `commit` applies exactly the staged batches named by
  *    committed task messages as one keyed upsert (last writer wins in
  *    partition order; new keys append, matched keys replace in place) —
  *    the transaction finalize. Failed/speculative attempts stage under
  *    their own task tokens and are discarded wholesale.
  *
  * Idempotency is the upsert's: re-running the same write against the
  * store converges to the same contents, exactly like the reference's
  * upsert-by-PK re-ingest (bulk.py:108-113).
  *
  * Write options (via `df.write.format("graft-docs")`):
  *  - `descriptor` (required): base64 [[RangedDescriptor]] whose store
  *    implements [[StagedDocumentWrite]]
  *  - `key` (default `id`): upsert key field; must be non-null in every
  *    written and existing document
  *  - mode `append` = keyed upsert; mode `overwrite` = truncate + write
  *    (via [[org.apache.spark.sql.connector.write.SupportsTruncate]])
  *  - a FRESH (empty) store needs no schema option: the provider's
  *    `supportsExternalMetadata` lets Spark hand the df's schema to
  *    `getTable` directly, so no inference runs on the write path
  *
  * Value mapping row→document: integral → int64, floating → double,
  * Boolean/String pass through, Timestamp → ISO-8601 instant string,
  * Date/Decimal → string, binary → base64, struct/array/map → nested
  * object/array — the inverse of the §1.4 read coercions where exact,
  * string-typed where JSON has no native (documented one-way).
  */
private[sources] object DocumentWriteV2 {

  final case class StagedMessage(token: String, rows: Long)
      extends WriterCommitMessage

  final class DocsWriteBuilder(descriptor: RangedDescriptor,
      info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
    private var truncateFirst = false
    override def truncate(): WriteBuilder = { truncateFirst = true; this }
    override def build(): Write =
      new DocsWrite(descriptor, info.schema(), info.queryId(),
        Option(info.options.get("key")).getOrElse("id"), truncateFirst)
  }

  final class DocsWrite(descriptor: RangedDescriptor, schema: StructType,
      writeId: String, key: String, truncateFirst: Boolean)
      extends Write with BatchWrite {
    override def toBatch: BatchWrite = this
    override def description(): String =
      s"graft-docs upsert key=$key truncate=$truncateFirst"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new DocsWriterFactory(descriptor, schema, writeId)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val store = writable(descriptor)
      val tokens = messages.collect { case StagedMessage(t, _) => t }.toSeq
      val (ins, upd, total) = store.commitUpsert(writeId, key, tokens, truncateFirst)
      // the reference prints per-run upsert counts; keep the same signal
      System.err.println(
        s"[graft-docs] write $writeId committed: inserted=$ins updated=$upd total=$total")
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      writable(descriptor).abortWrite(writeId)
  }

  private def writable(d: RangedDescriptor): StagedDocumentWrite =
    d.open() match {
      case s: StagedDocumentWrite => s
      case other => throw new IllegalArgumentException(
        s"store ${other.getClass.getName} does not support writes " +
          "(needs StagedDocumentWrite)")
    }

  final class DocsWriterFactory(descriptor: RangedDescriptor,
      schema: StructType, writeId: String) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
        private val toDoc = docWriter(schema)
        // opened lazily INSIDE the task from the shipped descriptor —
        // the cluster-real contract shared with DocsRange reads
        private lazy val staged = writable(descriptor)
          .openStagedBatch(writeId, f"p$partitionId%05d-t$taskId")
        private var rows = 0L
        override def write(record: InternalRow): Unit = {
          staged.add(toDoc(toScala(record)).asInstanceOf[RowDoc])
          rows += 1L
        }
        override def commit(): WriterCommitMessage =
          StagedMessage(staged.finish(), rows)
        override def abort(): Unit = staged.abort()
        override def close(): Unit = ()
      }
  }

  /** Converter from a Scala value of type `dt` to its JSONL document
    * value (see class doc for the map). It is built once per writer: each
    * struct in the schema gets one [[Fields]] index, and its rows become
    * [[RowDoc]]s in the schema's field order.
    */
  private[sources] def docWriter(dt: DataType): Any => Any = dt match {
    case s: StructType =>
      val fields = new Fields(s.fieldNames)
      val conv = s.fields.map(f => docWriter(f.dataType))
      (v: Any) => v match {
        case null => null
        case r: Row =>
          val values = new Array[Any](conv.length)
          var i = 0
          while (i < values.length) { values(i) = conv(i)(r.get(i)); i += 1 }
          new RowDoc(fields, values)
      }
    case ArrayType(et, _) =>
      val conv = docWriter(et)
      (v: Any) => v match { case null => null; case s: Seq[_] => s.map(conv) }
    case MapType(_, vt, _) =>
      val conv = docWriter(vt)
      (v: Any) => v match {
        case null => null
        case m: Map[_, _] => m.map { case (k, x) => String.valueOf(k) -> conv(x) }
      }
    case _ => docValue
  }

  /** Spark leaf value → JSONL document value. */
  private def docValue(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case s: String => s
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case bd: BigDecimal => bd.bigDecimal.toPlainString
    case bytes: Array[Byte] => java.util.Base64.getEncoder.encodeToString(bytes)
    case other => String.valueOf(other)
  }
}
