package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class OperatorQueriesSpec extends AnyFunSuite {

  test("the query set is the registry minus named exclusions, each with a reason") {
    val registry = graft.SparkEntry.queries.keySet
    assert(OperatorQueries.excluded.keySet.subsetOf(registry),
      OperatorQueries.excluded.keySet -- registry)
    assert(OperatorQueries.excluded.values.forall(_.nonEmpty))
    assert(OperatorQueries.selected.toSet == registry -- OperatorQueries.excluded.keySet)
    assert(OperatorQueries.selected.contains("q_ngram_prefix"))
    assert(OperatorQueries.selected.contains("q_ann_ivf_lloyd"))
  }

  test("every selected query has a pinned output digest") {
    assert(OperatorQueries.pinned.keySet == OperatorQueries.selected.toSet)
  }
}
