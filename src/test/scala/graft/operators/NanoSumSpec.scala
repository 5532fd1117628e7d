package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The trainer's integer-nano centroid means must survive sums past
  * Long.MaxValue: the accumulator is exact, so a cluster bigger than
  * the ~1e9-members-at-unit-scale bound of a long sum still yields the
  * exact mean (a raw long sum would wrap negative here). Rounding is
  * Spark's and DuckDB's `round`: half away from zero, so the SQL
  * replays of a Lloyd model land on the same integers.
  */
class NanoSumSpec extends AnyFunSuite {

  test("lloydMeans is exact past the long-sum overflow boundary") {
    // 11 members × 9e8 → nano sum 9.9e18 > Long.MaxValue (9.22e18):
    // a long accumulator wraps negative, the exact one does not
    val assigned = (1 to 11).map(_ => (0, Array(9e8)))
    val means = Ann.lloydMeans(assigned)
    assert(means.length == 1)
    val (cid, cv) = means.head
    assert(cid == 0 && cv == Seq(9e8), s"want exact mean 9e8, got $cv")
  }

  test("lloydMeans below the boundary equals the fixed sum/count/1e9 expression") {
    val vals = Seq(0.1, 0.25, 0.4)
    val assigned = vals.map(v => (7, Array(v)))
    val means = Ann.lloydMeans(assigned)
    val expected = vals.map(v => math.round(v * 1e9)).sum.toDouble / vals.size / 1e9
    assert(means.toSeq == Seq((7, Seq(expected))))
  }

  test("lloydMeans rounds an exact negative half away from zero, as Spark's round does") {
    val x = -2.5 / 1e9
    assert(x * 1e9 == -2.5, "the member must sit exactly on a negative half")
    // math.round rounds -2.5 toward +∞, to -2
    assert(math.round(x * 1e9) == -2L)
    val means = Ann.lloydMeans(Seq((3, Array(x))))
    assert(means.toSeq == Seq((3, Seq(-3.0 / 1 / 1e9))), s"got ${means.toSeq}")
  }
}
