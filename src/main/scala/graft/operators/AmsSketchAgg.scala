package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** AMS "tug-of-war" sketch (SURVEY §2.5): Alon, Matias & Szegedy,
  * STOC 1996 — the SECOND FREQUENCY MOMENT F₂ = Σ_t f_t², i.e. the
  * SELF-JOIN SIZE of the stream: the skew / shuffle-volume predictor
  * (an LSH bucket join's candidate count, a groupBy's reducer
  * imbalance — both are F₂ of the key stream). The state is k signed
  * counters c_j = Σ_t s_j(t)·f_t with s_j(t) ∈ {−1, +1}; E[c_j²] = F₂,
  * so the estimate is the mean of the squared counters (relative error
  * ~√(2/k)).
  *
  * The k sign functions are the k low bits of the h60 md5 tag the
  * caller passes per occurrence — ONE hash per row; an insert adds ±1
  * into k cells, so every insert changes the state. Integer sums make
  * it a pure function of the input multiset. Merge law: cell-wise
  * addition (spec-pinned, AmsSketchSpec). Scale shape: k longs per
  * group whatever the token volume; the exact F₂ needs the full
  * vocabulary-sized (group, token) rollup.
  */
final case class Ams(k: Int) extends MergeableSketch[Long, Array[Long]] {
  require(k >= 1 && k <= 60, s"need 1 <= k <= 60 (h60 sign bits); got $k")

  override def zero: Array[Long] = new Array[Long](k)

  /** One occurrence: bit j of `tag` is the sign s_j. */
  override def insert(s: Array[Long], tag: Long): (Array[Long], Boolean) = {
    var j = 0
    while (j < k) {
      s(j) += (((tag >>> j) & 1L) << 1) - 1L // bit → {-1, +1}
      j += 1
    }
    (s, true)
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    MergeableSketch.addInto(a, b)

  override def encoder: Encoder[Array[Long]] = ExpressionEncoder()

  /** F₂ estimate: mean of the squares. Counter magnitudes are ≤ N
    * (stream length), so c² overflows Long once a group exceeds ~3·10⁹
    * rows. The squares are therefore summed in BigInt (exact at any N;
    * identical to the Long sum wherever that is exact), then cast once
    * and divided once — the same cast-then-divide rounding an engine's
    * `CAST(ss AS DOUBLE) / k` performs.
    */
  def estimate(s: Array[Long]): Double = {
    var ss = BigInt(0)
    var i = 0
    while (i < s.length) {
      val c = BigInt(s(i)); ss += c * c; i += 1
    }
    ss.toDouble / k.toDouble
  }
}

/** AMS as a typed `Aggregator`: the k signed counters. */
case class AmsSketchAgg(k: Int)
    extends SketchAggregator[Long, Array[Long], Array[Long]](Ams(k)) {
  override def finish(buf: Array[Long]): Array[Long] = buf
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}

object AmsSketchAgg {
  def estimate(counters: Array[Long], k: Int): Double =
    Ams(k).estimate(counters)
}
