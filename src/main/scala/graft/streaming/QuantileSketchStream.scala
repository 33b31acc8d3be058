package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.BottomK
import graft.operators.QuantileSketchAgg.In

/** One scored arrival for the streaming sketch: (stratum, value, tag),
  * tag = the deterministic h60 hash that drives the uniform sample, seq
  * = a monotonically-orderable tag the SPECS use to cut the fixture
  * into micro-batches (the insert law is arrival-order independent, so
  * in-batch processing never consults it).
  */
case class SketchRow(lang: String, value: Double, tag: Long, seq: Long)

/** A stratum's current bottom-k sample. `tags` and `values` are
  * parallel, sorted by (tag, value) ascending — exactly the retained
  * multiset of the batch `QuantileSketchAgg`.
  */
case class SketchSnap(lang: String, tags: Seq[Long], values: Seq[Double])

/** ST22 — streaming mergeable quantile sketch: the online form of the
  * `BottomK` law behind `QuantileSketchAgg` /
  * `pipe_ccnet_buckets_sketch`. State per stratum is the k smallest
  * (tag, value) pairs seen so far — O(k) whatever the document mass, so
  * live per-language cutoffs (the CCNet bucketing signal) come from
  * bounded state. A stratum emits only when an arrival enters its
  * sample. StreamingQuantileSketchSpec pins: final reconstruction ≡ the
  * batch bottom-k per stratum, the tercile cutoffs read off the
  * reconstruction ≡ `QuantileSketchAgg.quantile` on the batch sample,
  * and multi-batch RocksDB replay ≡ single-batch with cross-batch
  * evictions proven exercised.
  */
object QuantileSketchStream {

  class BottomKProcessor(k: Int)
      extends SketchProcessor[SketchRow, In, Seq[In], SketchSnap](BottomK(k), "bottom_k") {
    override protected def input(r: SketchRow): In = In(r.value, r.tag)
    override protected def snapshot(key: String, s: Seq[In]): SketchSnap =
      SketchSnap(key, s.map(_.tag), s.map(_.value))
  }

  /** scored stream (lang, value, tag, seq) → bottom-k snapshots. */
  def bottomK(scored: DataFrame, k: Int): Dataset[SketchSnap] = {
    val spark = scored.sparkSession
    import spark.implicits._
    SketchProcessor.run(
      scored.select(col("lang"), col("value"), col("tag"), col("seq"))
        .as[SketchRow],
      (r: SketchRow) => r.lang, new BottomKProcessor(k))
  }
}
