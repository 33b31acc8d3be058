package graft.queries

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, SquaredDistance}

/** Vector math over `array<float>` embedding columns.
  *
  * Reductions are the native codegen'd expressions in
  * `graft.functions.VectorExpressions` — the built-in
  * `aggregate(zip_with(...))` composition is semantically identical but
  * runs per-element interpreted lambdas, which dominated the similarity
  * benchmarks (the dot product is the innermost corpus-scan loop).
  *
  * Determinism contract: every reduction is a strict sequential
  * left-fold, bit-identical to DuckDB's `list_reduce` over the same
  * doubles — that's what makes cosine similarities oracle-comparable
  * with exact equality.
  */
object VectorOps {

  /** array<float> → array<double> (exact widening). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared euclidean distance. */
  def dist2(a: Column, b: Column): Column =
    GraftColumnBridge.column(SquaredDistance(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Cosine similarity given precomputed norms. */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  // ── DuckDB dialect fragments for the oracle SQL ────────────────────
  // list_reduce has no init arg in the target DuckDB → prepend 0.0.

  /** `toDouble`, DuckDB dialect. */
  def duckToDouble(listExpr: String): String =
    s"list_transform($listExpr, x -> CAST(x AS DOUBLE))"

  def duckFoldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  def duckDot(a: String, b: String): String =
    duckFoldSum(s"list_transform(range(len($a)), k -> $a[k+1] * $b[k+1])")

  def duckNorm(a: String): String =
    s"sqrt(${duckDot(a, a)})"

  def duckDist2(a: String, b: String): String =
    duckFoldSum(s"list_transform(range(len($a)), k -> ($a[k+1] - $b[k+1]) * ($a[k+1] - $b[k+1]))")
}
