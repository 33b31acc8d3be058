package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Kmv

/** One arrival for the streaming KMV sketch: (group, tag, seq) — tag =
  * the deterministic h60 hash of the counted VALUE (user id), seq = a
  * monotonically-orderable tag the SPECS use to cut the fixture into
  * micro-batches (the insert law is arrival-order independent, so
  * in-batch processing never consults it).
  */
case class KmvRow(group: String, tag: Long, seq: Long)

/** A group's current KMV sketch: the k smallest DISTINCT tags seen so
  * far, sorted ascending; `KmvDistinctAgg.estimate(tags, k)` turns any
  * snapshot into the live cardinality estimate.
  */
case class KmvSnap(group: String, tags: Seq[Long])

/** ST23 — streaming KMV distinct-count sketch: the online form of the
  * `Kmv` law behind `KmvDistinctAgg` / `pipe_distinct_kmv` — live
  * distinct-user cardinality per key (the DAU-counter shape) from O(k)
  * state per group. A tag already in the sketch changes nothing, so a
  * group emits only when an arrival enters its k smallest distinct
  * tags. StreamingKmvSpec pins: final reconstruction ≡ the batch
  * sketch per group, estimates ≡ `KmvDistinctAgg.estimate`, and
  * multi-batch RocksDB replay ≡ single-batch with cross-batch evictions
  * proven exercised.
  */
object KmvStream {

  class KmvProcessor(k: Int)
      extends SketchProcessor[KmvRow, Long, Seq[Long], KmvSnap](Kmv(k), "kmv_sketch") {
    override protected def input(r: KmvRow): Long = r.tag
    override protected def snapshot(key: String, s: Seq[Long]): KmvSnap =
      KmvSnap(key, s)
  }

  /** tagged stream (group, tag, seq) → KMV sketch snapshots. */
  def distinctSketch(tagged: DataFrame, k: Int): Dataset[KmvSnap] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    SketchProcessor.run(
      tagged.select(col("group"), col("tag"), col("seq")).as[KmvRow],
      (r: KmvRow) => r.group, new KmvProcessor(k))
  }
}
