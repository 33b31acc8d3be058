package graft.functions

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bit-exactness of the single-pass `jaccard_sim` against the built-in
  * composition `size(array_intersect)/size(array_union)` — the oracle
  * contract the dedup queries rely on — plus the edge semantics.
  */
class JaccardSimSpec extends SparkSpec {

  private def jac(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftColumnBridge.column(JaccardSim(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  test("bit-identical to the declarative form on random token arrays") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { _ =>
      // non-empty: union=0 makes the BUILT-IN side throw under ANSI mode
      // (jaccard_sim returns null there instead — covered below)
      def arr() = Seq.fill(1 + rnd.nextInt(29))(s"t${rnd.nextInt(20)}")
      (arr(), arr())
    }
    import spark.implicits._
    val df = rows.toDF("a", "b").select(
      jac(col("a"), col("b")).as("native"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("builtin"))
    val bad = df.filter(
      (col("native").isNull =!= col("builtin").isNull) ||
      (col("native").isNotNull && col("native") =!= col("builtin"))).count()
    assert(bad == 0)
    // duplicates in input must collapse (set semantics)
    val dup = Seq((Seq("x", "x", "y"), Seq("x", "z", "z"))).toDF("a", "b")
      .select(jac(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(dup == 1.0 / 3.0)
  }

  test("null and empty semantics match Spark division-by-zero convention") {
    import spark.implicits._
    val df = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(jac(col("a"), col("b")).as("j"))
    assert(df.collect()(0).isNullAt(0)) // 0/0 → null, like Spark's `/`
    val nullIn = Seq((null.asInstanceOf[Seq[String]], Seq("x"))).toDF("a", "b")
      .select(jac(col("a"), col("b")).as("j"))
    assert(nullIn.collect()(0).isNullAt(0))
  }

  test("SQL registration: SELECT jaccard_sim(...) works") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT jaccard_sim(array('a','b','c'), array('b','c','d')) AS j")
      .collect()(0).getDouble(0)
    assert(r == 0.5)
  }

  test("interpreted eval matches codegen (whole-stage off)") {
    import spark.implicits._
    val rows = Seq((Seq("p", "q", "r"), Seq("q", "r", "s")))
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      val off = rows.toDF("a", "b").select(jac(col("a"), col("b"))).collect()(0).getDouble(0)
      assert(off == 0.5)
    }
  }
}
