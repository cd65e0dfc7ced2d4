package graft

import org.scalatest.funsuite.AnyFunSuite

/** What a `graft.Verify` run dumps: the full run writes every oracle, a
  * named subset writes only its own — so a local DuckDB check of a subset
  * never runs (or waits on) any other row's oracle. */
class VerifySpec extends AnyFunSuite {
  test("no filter: every oracle entry, unchanged") {
    val all = Verify.selected(SparkEntry.oracleSql, Set.empty)
    assert(all.size == 164)
    assert(all == SparkEntry.oracleSql)
  }

  test("a filter selects exactly the named entries") {
    val names = Set("e_knn_graph", "x_knn_kcore", "x_knn_clusters")
    val sub = Verify.selected(SparkEntry.oracleSql, names)
    assert(sub.keySet == names)
    assert(sub.forall { case (n, sql) => SparkEntry.oracleSql(n) == sql })
    assert(Verify.selected(SparkEntry.queries, names).keySet == names)
  }
}
