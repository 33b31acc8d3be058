package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import QuantileSketchAgg.{In, ordering}

/** Mergeable quantile sketch (SURVEY §2.5) — the production form the
  * CCNet-bucketing code comments promise: at 100 TB the per-language
  * cutoff scores come from a bounded mergeable summary rolled up
  * map-side, never from sorting the corpus.
  *
  * The state is a BOTTOM-k-BY-HASH sample (min-wise / bottom-k sketch,
  * Cohen & Kaplan 2007): the k (value, tag) inputs with the smallest
  * deterministic hash tag, sorted by `ordering`. Every input is an
  * observation (no distinct-ing), so duplicates carry mass. The
  * empirical quantile of the sample estimates the group quantile with
  * rank error O(1/√k). Chosen over KLL/t-digest deliberately — three
  * properties they cannot offer together:
  *
  *  - DETERMINISTIC and merge-order independent, where a t-digest's
  *    centroids depend on merge order and KLL's compactions consume an
  *    RNG stream — both would force a weaker bounds-only oracle.
  *  - ORACLE-REPLAYABLE: DuckDB replays "k smallest md5-tags per
  *    group" with one window rank over the same hash expression.
  *  - MERGEABLE with a one-line proof: bottomK(A ∪ B) =
  *    bottomK(bottomK(A) ∪ bottomK(B)) — spec-pinned
  *    (QuantileSketchSpec merge/commute/partitioning).
  *
  * The price is k ~ 1/ε² memory vs KLL's (1/ε)·log²(εn): k = 64–1024
  * doubles per GROUP for the ε ≈ 5–10 % a tercile bucket needs.
  */
final case class BottomK(k: Int) extends MergeableSketch[In, Seq[In]] {
  require(k > 0, s"k must be positive, got $k")

  override def zero: Seq[In] = Nil

  override def insert(s: Seq[In], x: In): (Seq[In], Boolean) =
    if (s.size < k) ((s :+ x).sorted(ordering), true)
    else if (ordering.compare(x, s.last) < 0) ((s.init :+ x).sorted(ordering), true)
    else (s, false)

  override def merge(a: Seq[In], b: Seq[In]): Seq[In] =
    (a ++ b).sorted(ordering).take(k)

  override def encoder: Encoder[Seq[In]] = ExpressionEncoder()

  /** The retained values, sorted ascending — the quantile-ready sample
    * `QuantileSketchAgg.quantile` reads.
    */
  def estimate(s: Seq[In]): Seq[Double] = s.map(_.value).sorted
}

/** Bottom-k as a typed `Aggregator`: the sorted sample values. */
case class QuantileSketchAgg(k: Int)
    extends SketchAggregator[In, Seq[In], Seq[Double]](BottomK(k)) {
  override def finish(buf: Seq[In]): Seq[Double] = BottomK(k).estimate(buf)
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
