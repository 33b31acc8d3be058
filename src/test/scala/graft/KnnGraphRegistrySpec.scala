package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.KnnGraphQueries

/** The kNN-graph registry is the single definition behind the nine
  * declared graph rows AND both sides of `sim_knn_graph_recall`: each
  * entry's oracle statement is the row's oracle and is nested verbatim
  * by the recall oracle. Pinned here without starting a Spark job, so a
  * row whose oracle drifts from what the audit measures fails at once.
  */
class KnnGraphRegistrySpec extends AnyFunSuite {

  private val builds = KnnGraphQueries.Builds

  test("the registry holds nine builds with distinct labels and names") {
    assert(builds.size == 9)
    assert(builds.map(_.label).distinct.size == 9,
      s"duplicate labels: ${builds.map(_.label)}")
    assert(builds.map(_.name).distinct.size == 9,
      s"duplicate names: ${builds.map(_.name)}")
  }

  test("each registry name is a declared query whose oracle is its duckSql") {
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    builds.foreach { b =>
      assert(queries.contains(b.name), s"${b.name} is not declared")
      assert(oracle.get(b.name).contains(b.duckSql),
        s"${b.name}: declared oracle differs from the registry's statement")
    }
  }

  test("sim_knn_graph_recall's oracle nests every registry statement verbatim") {
    val recall = SparkEntry.oracleSql("sim_knn_graph_recall")
    builds.foreach { b =>
      assert(recall.contains(b.duckSql),
        s"${b.label}: statement missing from the recall oracle")
      assert(recall.contains(s"'${b.label}' AS build"),
        s"${b.label}: no recall arm")
    }
  }
}
