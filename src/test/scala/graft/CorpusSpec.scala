package graft

import org.apache.spark.sql.functions._

import graft.queries.Corpus

/** The `Corpus` 60-bit hash and its id form, evaluated by Spark, equal
  * the independent `H60` MessageDigest replay on real fixture columns and
  * on non-ASCII text (md5 over UTF-8 bytes, never the JVM's UTF-16).
  */
class CorpusSpec extends SparkSpec {

  private val Bound = 1L << 60

  test("h60Spark and idHash60Spark equal the MessageDigest replay") {
    val docs = Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"),
        expr(Corpus.h60Spark("text")).as("h_text"),
        expr(Corpus.idHash60Spark("doc_id")).as("h_id"))
      .collect()
    assert(docs.length == 500)
    docs.foreach { r =>
      assert(r.getLong(2) == H60(r.getString(1)), s"text of doc ${r.getLong(0)}")
      assert(r.getLong(3) == H60.id(r.getLong(0)), s"doc_id ${r.getLong(0)}")
    }
    val vecs = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), expr(Corpus.idHash60Spark("vec_id")).as("h"))
      .collect()
    assert(vecs.length == 500)
    vecs.foreach(r => assert(r.getLong(1) == H60.id(r.getLong(0)), s"vec_id ${r.getLong(0)}"))
    val hs = (docs.flatMap(r => Seq(r.getLong(2), r.getLong(3))) ++ vecs.map(_.getLong(1)))
    assert(hs.forall(h => h >= 0L && h < Bound))

    import spark.implicits._
    val odd = Seq("naïve café", "Größe über", "東京 タワー", "emoji 🚀 ✓", "", " ")
    val got = odd.toDF("t").select(col("t"), expr(Corpus.h60Spark("t"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    odd.foreach(t => assert(got(t) == H60(t), s"'$t'"))
  }
}
