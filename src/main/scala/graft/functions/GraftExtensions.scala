package graft.functions

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.queries.DedupQueries

/** SQL-surface registration for the engine's native expressions.
  *
  * Two entry points:
  *  - `.withExtensions(new GraftExtensions)` on a session builder (or
  *    `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`)
  *    for new sessions — the standard extension hook;
  *  - `GraftFunctions.register(spark)` for an existing session.
  *
  * After either, `SELECT vec_dot(a, b)`, `vec_dist2(a, b)` and
  * `minhash_sig(hs)` work from plain SQL — the same codegen'd
  * expressions the DataFrame helpers in `graft.queries.VectorOps` build.
  */
object GraftFunctions {

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot(a, b) takes two arguments")
        DotProduct(children.head, children(1))
      }),
    (new FunctionIdentifier("vec_dist2"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "vec_dist2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dist2(a, b) takes two arguments")
        SquaredDistance(children.head, children(1))
      }),
    (new FunctionIdentifier("pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "pq_argmin"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "pq_argmin(sub, codebook) takes two arguments")
        PqArgmin(children.head, children(1))
      }),
    (new FunctionIdentifier("pq_argmin_k"),
      new ExpressionInfo(classOf[PqArgminK].getName, "pq_argmin_k"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "pq_argmin_k(sub, codebook, k) takes three arguments")
        require(children(2).foldable,
          "pq_argmin_k's k must be a literal")
        // validate the evaluated literal before casting: a NULL or
        // non-integral literal should be a clear analysis error, not a
        // NullPointerException/ClassCastException from the blind cast
        val kv = children(2).eval()
        require(kv != null, "pq_argmin_k's k must not be NULL")
        require(kv.isInstanceOf[Number],
          s"pq_argmin_k's k must be an integral literal, got a " +
            kv.getClass.getSimpleName)
        PqArgminK(children.head, children(1),
          kv.asInstanceOf[Number].intValue)
      }),
    (new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaccard_sim(a, b) takes two arguments")
        JaccardSim(children.head, children(1))
      }),
    // minhash_sig uses the engine's declared permutation constants: the
    // coefficients are part of the operator contract (DedupQueries).
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "minhash_sig(hs) takes one argument")
        MinHashSig(children.head, DedupQueries.A, DedupQueries.B, DedupQueries.P)
      }),
    // Spark 4.1.2 keeps BOTH bloom_filter_agg and might_contain in the
    // internal-only registry (FunctionRegistry.internal — not resolvable
    // from user SQL), so the scalar-subquery Bloom shape (build
    // distributed, probe codegen'd) needs both registered here. The
    // analyzer wraps a bare AggregateFunction returned from a registry
    // builder into an AggregateExpression automatically.
    (new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "bloom_filter_agg(value[, estimatedNumItems[, numBits]]) takes 1-3 arguments")
        children match {
          case Seq(c) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
          case Seq(c, n) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
          case Seq(c, n, b) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        }
      }),
    (new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "might_contain(bloom, value) takes two arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))

  /** Imperative registration on an already-built session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      GraftColumnBridge.registerFunction(spark, id, info, builder)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
