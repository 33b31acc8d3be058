package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.AnnQueries

/** The ANN index registry is the single definition behind the declared
  * index rows AND both recall audits (`sim_index_recall`,
  * `sim_index_recall_contract`): each entry's oracle statement is the
  * row's oracle and is nested verbatim by its audit's oracle, and each
  * panel's (metric, k) has an exact truth. Pinned here without starting
  * a Spark job.
  */
class AnnRegistrySpec extends AnyFunSuite {

  private val indexes = AnnQueries.Indexes

  test("each registry name is declared exactly once") {
    val declared = SparkEntry.allDefs.map(_.name)
    indexes.foreach { i =>
      assert(declared.count(_ == i.name) == 1,
        s"${i.name} is declared ${declared.count(_ == i.name)} times")
    }
    assert(indexes.map(_.name).distinct.size == indexes.size,
      s"duplicate names: ${indexes.map(_.name)}")
  }

  test("panel labels are unique") {
    assert(indexes.map(_.label).distinct.size == indexes.size,
      s"duplicate labels: ${indexes.map(_.label)}")
  }

  test("each entry's duckSql is its declared row's oracle") {
    val oracle = SparkEntry.oracleSql
    indexes.foreach { i =>
      assert(oracle.get(i.name).contains(i.duckSql),
        s"${i.name}: declared oracle differs from the registry's statement")
    }
  }

  test("the two panels split the registry and each audit nests its arms") {
    val recall = SparkEntry.oracleSql("sim_index_recall")
    val contract = SparkEntry.oracleSql("sim_index_recall_contract")
    val recallPanel = AnnQueries.recallPanel.map(_._1)
    assert((recallPanel ++ AnnQueries.contractPanel).map(_.label).sorted ==
      indexes.map(_.label).sorted)
    recallPanel.foreach { i =>
      assert(recall.contains(i.duckSql), s"${i.label}: missing from sim_index_recall")
      assert(recall.contains(s"'${i.label}' AS idx"), s"${i.label}: no recall arm")
    }
    AnnQueries.contractPanel.foreach { i =>
      assert(contract.contains(i.duckSql),
        s"${i.label}: missing from sim_index_recall_contract")
      assert(contract.contains(s"'${i.label}' AS idx"), s"${i.label}: no contract arm")
    }
  }

  test("each audit panel's (metric, k) has a truth") {
    AnnQueries.recallPanel.map(_._1).foreach { i =>
      assert(i.metric == AnnQueries.Cos && i.k == AnnQueries.IvfTopK,
        s"${i.label}: sim_index_recall's truth is cosine@${AnnQueries.IvfTopK}, " +
          s"not ${i.metric.key}@${i.k}")
    }
    val contract = SparkEntry.oracleSql("sim_index_recall_contract")
    AnnQueries.contractPanel.foreach { i =>
      val truth = AnnQueries.truthDuckSql(i.metric, i.k)
      assert(truth.nonEmpty, s"${i.label}: no truth for ${i.metric.key}@${i.k}")
      assert(contract.contains(s"t_${i.metric.key} AS ${truth.get}"),
        s"${i.label}: truth ${i.metric.key}@${i.k} missing from the oracle")
    }
  }
}
