package graft.sources

import org.apache.spark.sql.types._

/** First-document schema inference, mirroring the reference's
  * `infer_schema_from_docs` (examples/run_example.py:78-106):
  *
  *  - inspects ONLY the first document (by design — Spark's own sampling
  *    inference is richer, but first-doc-only is the declared behavior);
  *  - columns come in the first document's iteration order (a dict's
  *    insertion order in the reference; a [[RowDoc]]'s field order here);
  *  - int → int64, float → float64, datetime → timestamp[us],
  *    date → date32, anything else → string;
  *  - the datetime check precedes the date check (datetime ⊂ date in
  *    Python — run_example.py:98-102); here LocalDateTime/Instant are
  *    checked before LocalDate for the same reason;
  *  - Python bool is an int subclass so booleans infer as int64
  *    (run_example.py:93) — preserved: Boolean maps to LongType;
  *  - empty input yields an empty schema (run_example.py:84-85).
  */
object SchemaInfer {

  def inferSchema(docs: Seq[Map[String, Any]]): StructType = {
    if (docs.isEmpty) return StructType(Nil)
    val first = docs.head
    StructType(first.toSeq.map { case (k, v) => StructField(k, typeOf(v)) })
  }

  private def typeOf(v: Any): DataType = v match {
    case _: Boolean => LongType // bool-is-int quirk (run_example.py:93)
    case _: Int | _: Long | _: Short | _: Byte => LongType
    case _: Double | _: Float => DoubleType
    case _: java.time.Instant | _: java.time.LocalDateTime |
         _: java.sql.Timestamp => TimestampType // before date: datetime ⊂ date
    case _: java.time.LocalDate | _: java.sql.Date => DateType
    case _ => StringType
  }
}
