package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Count-Min sketch (SURVEY §2.5): Cormode & Muthukrishnan 2005 —
  * frequency estimation under bounded memory, the frequency member of
  * the sketch family next to KMV (cardinality), bottom-k (rank) and
  * SpaceSaving (top-k). The state is a d×w integer matrix, row-major;
  * each input increments one cell per row. The caller packs the d
  * bucket positions into the input long in base w (p0 + w·p1 + w²·p2 +
  * …), so the md5 hashing stays in codegen'd built-ins — ONE md5 per
  * occurrence, whose four 32-bit chunks are the d hash functions. The
  * estimate for a key is the MIN of its d cells — never below the true
  * count (every cell holds true + non-negative collision mass), within
  * ε·N with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
  *
  * Cell-wise integer sums are commutative and associative, so the state
  * is a pure function of the input multiset and every insert changes
  * it. Merge law: cell-wise addition (spec-pinned, CmSketchSpec).
  * Scale shape: d·w longs per group whatever the token volume; the
  * exact rollup this replaces is a vocabulary-sized (group, token)
  * exchange.
  */
final case class CountMin(d: Int, w: Int)
    extends MergeableSketch[Long, Array[Long]] {
  require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d, w=$w")
  // capacity check in INTEGER math: w^d ≤ Long.MaxValue/2, folded with
  // a per-step overflow guard (a Double pow rounds near the Long
  // boundary, so an overflowing geometry could sneak past it and
  // corrupt packed positions)
  require({
    val cap = Long.MaxValue / 2
    var acc = 1L; var j = 0; var ok = true
    while (ok && j < d) { ok = acc <= cap / w; if (ok) acc *= w; j += 1 }
    ok
  }, s"packed positions overflow: w^d = $w^$d exceeds Long range")

  override def zero: Array[Long] = new Array[Long](d * w)

  /** One occurrence: unpack the d positions, increment one cell per row. */
  override def insert(s: Array[Long], packed: Long): (Array[Long], Boolean) = {
    var rest = packed
    var j = 0
    while (j < d) {
      s(j * w + (rest % w).toInt) += 1L
      rest /= w
      j += 1
    }
    (s, true)
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    MergeableSketch.addInto(a, b)

  override def encoder: Encoder[Array[Long]] = ExpressionEncoder()

  /** Point estimate for the key with packed positions `packed`: the min
    * of its d cells — ≥ the true count always (pinned in CmSketchSpec).
    */
  def estimate(s: Array[Long], packed: Long): Long = {
    var best = Long.MaxValue
    var rest = packed
    var j = 0
    while (j < d) {
      val c = s(j * w + (rest % w).toInt)
      if (c < best) best = c
      rest /= w
      j += 1
    }
    best
  }
}

/** Count-Min as a typed `Aggregator`: the d×w matrix. */
case class CmSketchAgg(d: Int, w: Int)
    extends SketchAggregator[Long, Array[Long], Array[Long]](CountMin(d, w)) {
  override def finish(buf: Array[Long]): Array[Long] = buf
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}

object CmSketchAgg {
  def estimate(sketch: Array[Long], d: Int, w: Int, packed: Long): Long =
    CountMin(d, w).estimate(sketch, packed)
}
