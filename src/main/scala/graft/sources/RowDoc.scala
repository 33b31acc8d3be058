package graft.sources

import scala.collection.immutable.{AbstractMap, VectorMap}

import org.apache.spark.sql.Row

/** The field index of one schema, shared by every [[RowDoc]] built from
  * it: the names array plus a name → value-slot map. The reference zips
  * the field names into each batch once (ingest_parquet_to_mongo_bulk.py:70-96);
  * here they are indexed once per schema per partition.
  *
  * A name that occurs twice (a join's duplicate column) is one key: it
  * keeps its first position and takes the last value, as a dict update
  * or `Map.toMap` over the pairs would.
  */
final class Fields(names: Array[String]) extends Serializable {
  /** The value-array width every document of this schema has. */
  val width: Int = names.length

  private val index = new java.util.HashMap[String, Integer](names.length * 2)
  names.indices.foreach(i => index.put(names(i), i))

  /** Distinct names in first-appearance order, and each one's value slot. */
  private[sources] val keys: Array[String] = names.distinct
  private[sources] val slots: Array[Int] = keys.map(index.get(_).intValue)

  /** Value slot of `name`, or -1 when the schema has no such field. */
  def slot(name: String): Int = {
    val i = index.get(name)
    if (i == null) -1 else i.intValue
  }
}

/** One document as one value array over a shared [[Fields]] index: the
  * compact `Map[String, Any]` the document sinks hold. Lookups are one
  * index probe, iteration follows the schema's field order (so first-
  * document schema inference keeps the column order, like the
  * reference's dict order — run_example.py:78-106), and a document equals
  * any `Map` with the same entries. `removed`/`updated` copy into an
  * insertion-ordered `VectorMap`; only the export's `_id` rename calls them.
  * The array is never written after construction.
  */
final class RowDoc(val fields: Fields, values: Array[Any])
    extends AbstractMap[String, Any] with Serializable {
  require(values.length == fields.width,
    s"${values.length} values for ${fields.width} fields")

  override def get(key: String): Option[Any] = {
    val i = fields.slot(key)
    if (i < 0) None else Some(values(i))
  }

  override def contains(key: String): Boolean = fields.slot(key) >= 0

  override def apply(key: String): Any = {
    val i = fields.slot(key)
    if (i < 0) default(key) else values(i)
  }

  override def getOrElse[V1 >: Any](key: String, default: => V1): V1 = {
    val i = fields.slot(key)
    if (i < 0) default else values(i)
  }

  override def size: Int = fields.keys.length
  override def knownSize: Int = size

  override def iterator: Iterator[(String, Any)] =
    Iterator.range(0, size).map(j => fields.keys(j) -> values(fields.slots(j)))

  override def removed(key: String): Map[String, Any] =
    VectorMap.from(iterator).removed(key)
  override def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
    VectorMap.from(iterator).updated(key, value)
}

object RowDoc {
  /** `r`'s values as a document of `fields`, which must be `r`'s schema. */
  def fromRow(fields: Fields, r: Row): RowDoc = {
    val values = new Array[Any](fields.width)
    var i = 0
    while (i < values.length) { values(i) = r.get(i); i += 1 }
    new RowDoc(fields, values)
  }
}
