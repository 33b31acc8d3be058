package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One mergeable summary law (Agarwal et al., "Mergeable Summaries",
  * PODS 2012): a state `S` folded from inputs `In`, where merging the
  * states of two inputs gives the state of their union. Each sketch's
  * law is written once — `Kmv`, `CountMin`, `Ams`, `BottomK` — and
  * both of its forms are derived from it: the batch `Aggregator`
  * ([[SketchAggregator]]) and the streaming processor
  * (`graft.streaming.SketchProcessor`). Both forms therefore run the
  * same insert, the same merge, and the same capacity check, which each
  * law makes when it is constructed. Every law here is deterministic
  * and merge-order independent, so a declared row built on it replays
  * exactly in DuckDB, and a stream's final state equals the batch
  * sketch of the same input by construction.
  */
trait MergeableSketch[In, S] extends Serializable {
  def zero: S

  /** Fold one input into `s`: the new state, and whether the input
    * changed it. An array state is updated in place and returned.
    */
  def insert(s: S, x: In): (S, Boolean)

  def merge(a: S, b: S): S

  /** The state's encoder: the batch aggregation buffer and the stream's
    * per-key state.
    */
  def encoder: Encoder[S]
}

object MergeableSketch {
  /** Cell-wise addition into `a`: the merge of the counter sketches. */
  def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}

/** The batch form of a law: a typed `Aggregator` whose buffer is the
  * law's state. Map-side combine ships one state per group per
  * partition, so the shuffle is bounded by the sketch size whatever the
  * group's volume. Subclasses add only `finish` and the output encoder.
  */
abstract class SketchAggregator[In, S, Out](law: MergeableSketch[In, S])
    extends Aggregator[In, S, Out] {
  override def zero: S = law.zero
  override def reduce(s: S, x: In): S = law.insert(s, x)._1
  override def merge(a: S, b: S): S = law.merge(a, b)
  override def bufferEncoder: Encoder[S] = law.encoder
}
