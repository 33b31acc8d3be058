package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Mergeable distinct-count sketch (SURVEY §2.5): KMV — K MINIMUM
  * VALUES (Bar-Yossef et al. 2002; the unbiased estimator form in Beyer
  * et al., SIGMOD 2007). The state is the k smallest DISTINCT hash tags
  * of the input, sorted ascending; with tags uniform on [0, 2⁶⁰), the
  * k-th smallest tag t_k estimates the distinct count as
  * (k−1)·2⁶⁰ / t_k (relative error ~1/√(k−2)). Groups with fewer than
  * k distinct tags are counted EXACTLY (the sketch holds them all).
  *
  * The deterministic, oracle-replayable counterpart of
  * `q15_approx_distinct`'s HLL++ row (rows-only — Spark's sketch bytes
  * are impl-specific): the state is a pure function of the input SET,
  * so the declared rows are hash-green against a DuckDB window-rank
  * replay. Map-side combine caps each partition's contribution at k
  * tags per group, so NO (group, value)-distinct shuffle of the full
  * cardinality ever happens. Merge law:
  * bottomKDistinct(A ∪ B) = bottomKDistinct(bottomKDistinct(A) ∪
  * bottomKDistinct(B)) — spec-pinned (KmvDistinctSpec).
  */
final case class Kmv(k: Int) extends MergeableSketch[Long, Seq[Long]] {
  require(k > 0, s"k must be positive, got $k")

  /** An indexed state: its size and its largest tag are O(1) reads. */
  override def zero: Seq[Long] = Vector.empty

  /** A full state rejects a tag at or above its largest one before
    * anything else, so the many tags a full sketch turns away skip the
    * linear `contains` scan. A tag already present contributes nothing
    * — the distinct-ness that makes this count values, not rows.
    */
  override def insert(s: Seq[Long], tag: Long): (Seq[Long], Boolean) =
    if (s.lengthCompare(k) >= 0 && tag >= s.last) (s, false)
    else if (s.contains(tag)) (s, false)
    else if (s.lengthCompare(k) < 0) ((s :+ tag).sorted, true)
    else ((s.init :+ tag).sorted, true)

  override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    (a ++ b).distinct.sorted.take(k)

  override def encoder: Encoder[Seq[Long]] = ExpressionEncoder()

  /** Distinct-count estimate: exact when the group had fewer than k
    * distinct tags; otherwise the Beyer et al. unbiased estimator
    * (k−1)·2⁶⁰ / t_k. Both branches are single exactly-rounded IEEE
    * double ops, so the declared rows and their DuckDB oracles produce
    * identical bits.
    */
  def estimate(s: Seq[Long]): Double =
    if (s.size < k) s.size.toDouble
    else (k - 1).toDouble * KmvDistinctAgg.TagSpace / s.last.toDouble
}

/** KMV as a typed `Aggregator`: the retained distinct tags, sorted. */
case class KmvDistinctAgg(k: Int)
    extends SketchAggregator[Long, Seq[Long], Seq[Long]](Kmv(k)) {
  override def finish(buf: Seq[Long]): Seq[Long] = buf
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

object KmvDistinctAgg {
  /** Tag domain: the h60 hash is uniform on [0, 2⁶⁰). */
  val TagSpace: Double = 1152921504606846976.0 // 2^60, exact in a double

  def estimate(sketch: Seq[Long], k: Int): Double = Kmv(k).estimate(sketch)
}
