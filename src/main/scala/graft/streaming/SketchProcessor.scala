package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.operators.MergeableSketch

/** The streaming form of a `MergeableSketch` law: per key, the state
  * is the law's `S` (O(sketch) whatever the stream volume), and every
  * arrival is one `insert`. A key emits one snapshot per micro-batch,
  * and only when some insert in the batch changed its state, so "last
  * emission per key" reconstructs the sketch at any cut — the
  * tombstone-free reconstruct-from-emissions contract of the streaming
  * family. Emitting estimate deltas instead would need retractions
  * whenever an eviction moves the estimate.
  *
  * The insert law is arrival-order independent, so rows are folded
  * lazily (buffering a hot key's micro-batch would buy nothing), and
  * the FINAL state equals the batch `Aggregator` over the same input by
  * construction; the streaming specs pin it.
  */
abstract class SketchProcessor[Row, In, S, Snap](
    law: MergeableSketch[In, S], stateName: String)
    extends StatefulProcessor[String, Row, Snap] {

  /** The law's input carried by one arrival. */
  protected def input(r: Row): In

  /** The key's snapshot of a changed state. */
  protected def snapshot(key: String, s: S): Snap

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, law.encoder, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[Row],
      timerValues: TimerValues): Iterator[Snap] = {
    var s = if (state.exists()) state.get() else law.zero
    var changed = false
    rows.foreach { r =>
      val (next, ch) = law.insert(s, input(r))
      s = next
      changed ||= ch
    }
    if (changed) {
      state.update(s)
      Iterator.single(snapshot(key, s))
    } else Iterator.empty
  }
}

object SketchProcessor {
  /** Group `rows` by `key` and run `p` over them, one snapshot stream. */
  def run[Row, Snap: Encoder](rows: Dataset[Row], key: Row => String,
      p: SketchProcessor[Row, _, _, Snap]): Dataset[Snap] =
    rows.groupByKey(key)(Encoders.STRING)
      .transformWithState(p, TimeMode.None(), OutputMode.Append())
}
