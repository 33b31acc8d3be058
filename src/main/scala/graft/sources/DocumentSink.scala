package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq

/** Document-store sink abstraction (SURVEY §2.1 S6–S9).
  *
  * The reference's three Mongo ingest pipelines differ only in batching
  * and upsert policy; the store itself is behind this trait (no Mongo in
  * this environment — SURVEY §7.3). Implementations must be thread-safe:
  * Spark calls them from many executor tasks at once, which is the Spark
  * analogue of the reference's ThreadPoolExecutor writers
  * (examples/ingest_parquet_to_mongo_stream.py:130-160).
  *
  * Documents are `Map[String, Any]`. The ingest pipelines hand in
  * [[RowDoc]]s — one value array per document over one [[Fields]] index
  * per schema — so a stored document costs its values, not a hash trie
  * of entries, and iterates in its schema's field order.
  */
trait DocumentSink extends Serializable {

  /** Unordered batch insert; returns inserted count
    * (insert_many(ordered=False) — ingest_parquet_to_mongo_stream.py:135-137).
    */
  def insertMany(docs: Seq[Map[String, Any]]): Int

  /** Keyed upsert: replace-if-exists on the composite PK, insert
    * otherwise; returns (inserted, replaced)
    * (ReplaceOne(filter=PK, upsert=True) — ingest_parquet_to_mongo_bulk.py:108-113).
    */
  def bulkUpsert(pk: Seq[String], docs: Seq[Map[String, Any]]): (Int, Int)

  def count(): Long
  def drain(): Seq[Map[String, Any]]
}

/** In-memory sink registry: named stores that survive task boundaries in
  * local mode (executors share the JVM). On a real cluster this would be
  * the external store's client; the registry keeps tests hermetic. Each
  * `insertMany` or `bulkUpsert` call resolves its store once.
  */
object InMemorySink {
  /** Insertion-ordered entry: replacement keeps the original position,
    * like a document store's stable `_id` order — which matters because
    * the S9 source's schema inference is first-document-only.
    */
  private final case class Entry(seq: Long, doc: Map[String, Any])

  private val bySeq: java.util.Comparator[Entry] =
    (a, b) => java.lang.Long.compare(a.seq, b.seq)

  /** Key of an `insertMany` document. Upserted documents are keyed by
    * the `java.util.List` of their PK values, so the two key spaces never
    * meet, and PK values compare with `equals`: no separator or `"null"`
    * string can make two different keys equal, and a NaN key still
    * matches itself on a re-run.
    */
  private final case class Auto(seq: Long)

  private val stores =
    new ConcurrentHashMap[String, ConcurrentHashMap[Any, Entry]]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def apply(name: String): DocumentSink = new DocumentSink {
    private def store = stores.computeIfAbsent(name, _ => new ConcurrentHashMap())
    private def ctr = counters.computeIfAbsent(name, _ => new AtomicLong())

    def insertMany(docs: Seq[Map[String, Any]]): Int = {
      val s = store; val c = ctr
      docs.foreach { d =>
        val seq = c.incrementAndGet()
        s.put(Auto(seq), Entry(seq, d))
      }
      docs.size
    }

    def bulkUpsert(pk: Seq[String], docs: Seq[Map[String, Any]]): (Int, Int) = {
      val s = store; val c = ctr
      var ins = 0; var repl = 0
      docs.foreach { d =>
        val key = java.util.Arrays.asList(pk.map(d.getOrElse(_, null).asInstanceOf[AnyRef]): _*)
        val old = s.get(key)
        if (old == null) {
          val prev = s.putIfAbsent(key, Entry(c.incrementAndGet(), d))
          if (prev == null) ins += 1
          else { s.put(key, Entry(prev.seq, d)); repl += 1 }
        } else { s.put(key, Entry(old.seq, d)); repl += 1 }
      }
      (ins, repl)
    }

    def count(): Long = store.size().toLong
    def drain(): Seq[Map[String, Any]] = ArraySeq.unsafeWrapArray(snapshot(name))
  }

  /** The documents of store `name` in insertion order: one array of
    * references to the stored documents, sorted by `seq` in one array
    * sort. `drain()` and `DocumentSource.inMemory` both read the store
    * through it; a missing store is empty.
    */
  private[sources] def snapshot(name: String): Array[Map[String, Any]] = {
    val s = stores.get(name)
    if (s == null) Array.empty
    else {
      val entries = s.values().toArray(new Array[Entry](0))
      java.util.Arrays.sort(entries, bySeq)
      entries.map(_.doc)
    }
  }

  def clear(name: String): Unit = {
    stores.remove(name)
    counters.remove(name)
  }
}
