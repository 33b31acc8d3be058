package graft.streaming

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.CountMin

/** One arrival for the streaming Count-Min sketch: (group, packed, seq)
  * — packed = the d bucket positions in base w from ONE md5 of the
  * counted key (the batch `pipe_count_min` recipe), seq = a
  * monotonically-orderable tag kept for interface parity with the other
  * streams (the update is commutative, so ordering cannot matter here —
  * asserted by the spec, not assumed).
  */
case class CmRow(group: String, packed: Long, seq: Long)

/** A group's current Count-Min matrix (d×w cells, row-major);
  * `CmSketchAgg.estimate(cells, d, w, packed)` turns any snapshot into
  * a live frequency estimate.
  */
case class CmSnap(group: String, cells: Seq[Long])

/** ST24 — streaming Count-Min sketch: the online form of the
  * `CountMin` law behind `CmSketchAgg` / `pipe_count_min` — live
  * per-key frequency estimates (the "how hot is this token right now"
  * signal) from d·w longs of state per group, checked against the same
  * geometry bound as the batch form. Every arrival increments d cells,
  * so a group emits on every non-empty batch. StreamingCmSketchSpec
  * pins: final reconstruction ≡ the batch matrix per group, estimates
  * ≡ `CmSketchAgg.estimate`, and multi-batch RocksDB replay ≡
  * single-batch (state carries partial sums across batches).
  */
object CmSketchStream {

  class CmProcessor(d: Int, w: Int)
      extends SketchProcessor[CmRow, Long, Array[Long], CmSnap](CountMin(d, w), "cm_cells") {
    override protected def input(r: CmRow): Long = r.packed
    override protected def snapshot(key: String, s: Array[Long]): CmSnap =
      CmSnap(key, ArraySeq.unsafeWrapArray(s))
  }

  /** packed stream (group, packed, seq) → Count-Min snapshots. */
  def frequencySketch(rows: DataFrame, d: Int, w: Int): Dataset[CmSnap] = {
    val spark = rows.sparkSession
    import spark.implicits._
    SketchProcessor.run(
      rows.select(col("group"), col("packed"), col("seq")).as[CmRow],
      (r: CmRow) => r.group, new CmProcessor(d, w))
  }
}
