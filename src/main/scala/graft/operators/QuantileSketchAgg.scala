package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketch as a typed `Aggregator` (SURVEY §2.5) —
  * the production form the CCNet-bucketing code comments promise: at
  * 100 TB the per-language cutoff scores come from a bounded mergeable
  * summary rolled up map-side, never from sorting the corpus.
  *
  * The summary is a BOTTOM-k-BY-HASH sample (min-wise / bottom-k
  * sketch, Cohen & Kaplan 2007): keep the k rows with the smallest
  * deterministic hash tag; `finish` returns their values sorted
  * ascending, and the empirical quantile of that sample estimates the
  * group quantile with rank error O(1/√k). Chosen over KLL/t-digest
  * deliberately — three properties they cannot offer together:
  *
  *  - DETERMINISTIC and merge-order independent: the result is "the k
  *    smallest tags of the input multiset" — a pure function of the
  *    data, bit-identical across partitionings, retries, and engines.
  *    A t-digest's centroids depend on merge order (Spark's partition
  *    merge order is nondeterministic run to run); KLL's compactions
  *    consume an RNG stream. Both would force a weaker bounds-only
  *    oracle; this sketch keeps the declared query hash-green.
  *  - ORACLE-REPLAYABLE: DuckDB replays "k smallest md5-tags per
  *    group" with one window rank over the same hash expression.
  *  - MERGEABLE with a one-line proof: bottomK(A ∪ B) =
  *    bottomK(bottomK(A) ∪ bottomK(B)) — the mergeable-summaries law,
  *    spec-pinned (QuantileSketchSpec merge/commute/partitioning).
  *
  * The price is k ~ 1/ε² memory vs KLL's (1/ε)·log²(εn): for the
  * ε ≈ 5–10 % a tercile bucket needs, k = 64–1024 doubles per GROUP is
  * far below any broadcast budget, and the trade buys determinism.
  * Each partition ships at most k rows per group across the exchange
  * (map-side combine), so a billion-row group costs the same shuffle
  * bytes as a k-row one — the TopKAgg discipline.
  */
case class QuantileSketchAgg(k: Int)
    extends Aggregator[QuantileSketchAgg.In, Seq[QuantileSketchAgg.In], Seq[Double]] {
  import QuantileSketchAgg.{In, ordering}

  require(k > 0, "k must be positive")

  override def zero: Seq[In] = Nil

  override def reduce(buf: Seq[In], x: In): Seq[In] =
    if (buf.size < k) (buf :+ x).sorted(ordering)
    else if (ordering.compare(x, buf.last) < 0) (buf.init :+ x).sorted(ordering)
    else buf

  override def merge(a: Seq[In], b: Seq[In]): Seq[In] =
    (a ++ b).sorted(ordering).take(k)

  /** The retained values, sorted ascending — the quantile-ready form. */
  override def finish(buf: Seq[In]): Seq[Double] =
    buf.map(_.value).sorted

  override def bufferEncoder: Encoder[Seq[In]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
}

object QuantileSketchAgg {
  /** (value, tag): tag is the deterministic 60-bit hash that drives the
    * uniform sample — e.g. `graft.queries.Corpus.h60Spark`, the
    * engine-portable md5 recipe the dedup family uses. Ties break
    * on value so the sketch is well-defined even under tag collisions.
    */
  final case class In(value: Double, tag: Long)

  /** tag asc, value asc — smallest hashes survive. */
  val ordering: Ordering[In] =
    Ordering.by[In, (Long, Double)](x => (x.tag, x.value))

  /** Empirical p-quantile of a finished sample (sorted ascending):
    * the ⌈p·m⌉-th smallest value — the exact rule the declared query
    * and its DuckDB oracle both evaluate (`element_at(s, ceil(p·m))` /
    * `max(v) FILTER (rn <= ceil(p·m))`).
    */
  def quantile(sample: Seq[Double], p: Double): Double = {
    require(sample.nonEmpty, "empty sample")
    require(p > 0.0 && p <= 1.0, "p must be in (0, 1]")
    sample(math.ceil(p * sample.size).toInt - 1)
  }
}
