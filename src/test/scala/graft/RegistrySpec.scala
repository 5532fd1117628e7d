package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its DuckDB oracle map name the same lanes: an
  * orphan oracle or an oracle-less lane fails here, not in a later
  * correctness run.
  */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle entry and vice versa") {
    val lanes = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((lanes -- oracles).isEmpty, s"lanes without an oracle: ${(lanes -- oracles).toSeq.sorted}")
    assert((oracles -- lanes).isEmpty, s"oracles without a lane: ${(oracles -- lanes).toSeq.sorted}")
  }
}
