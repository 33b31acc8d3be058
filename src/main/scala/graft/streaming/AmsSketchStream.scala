package graft.streaming

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Ams

/** One arrival for the streaming AMS sketch: (group, tag, seq) — tag =
  * the h60 hash of the counted key (bit j is sign function j, the
  * batch `pipe_f2_ams` recipe), seq kept for interface parity with the
  * other streams (the update is commutative — asserted by the spec,
  * not assumed).
  */
case class AmsRow(group: String, tag: Long, seq: Long)

/** A group's current signed counters; `AmsSketchAgg.estimate(counters,
  * k)` turns any snapshot into the live F₂ (self-join size) estimate.
  */
case class AmsSnap(group: String, counters: Seq[Long])

/** ST25 — streaming AMS tug-of-war sketch: the online form of the `Ams`
  * law behind `AmsSketchAgg` / `pipe_f2_ams` — a live self-join-size
  * signal per key stream ("is this partition's key distribution
  * collapsing into a hot key?") from k longs of state per group. Every
  * arrival adds ±1 into k counters, so a group emits on every non-empty
  * batch. StreamingAmsSketchSpec pins: final reconstruction ≡ the batch
  * counters per group, estimates ≡ `AmsSketchAgg.estimate`, and
  * multi-batch RocksDB replay ≡ single-batch (partial counter sums
  * carried across batches).
  */
object AmsSketchStream {

  class AmsProcessor(k: Int)
      extends SketchProcessor[AmsRow, Long, Array[Long], AmsSnap](Ams(k), "ams_counters") {
    override protected def input(r: AmsRow): Long = r.tag
    override protected def snapshot(key: String, s: Array[Long]): AmsSnap =
      AmsSnap(key, ArraySeq.unsafeWrapArray(s))
  }

  /** tagged stream (group, tag, seq) → AMS counter snapshots. */
  def f2Sketch(rows: DataFrame, k: Int): Dataset[AmsSnap] = {
    val spark = rows.sparkSession
    import spark.implicits._
    SketchProcessor.run(
      rows.select(col("group"), col("tag"), col("seq")).as[AmsRow],
      (r: AmsRow) => r.group, new AmsProcessor(k))
  }
}
