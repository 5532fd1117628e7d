package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with SparkSpec {

  private def df(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("g", "v")
  }

  test("nearest-rank quantiles: p50 of 1..4 is the 2nd value, p100 the max, p1 the min") {
    val out = Stats.nearestRankQuantiles(
        df(("a", 10L), ("a", 20L), ("a", 30L), ("a", 40L)), "g", "v", Seq(1, 50, 100))
      .collect().head
    assert(out.getAs[Long]("n_rows") == 4L)
    assert(out.getAs[Long]("p1") == 10L) // ceil(4*1/100) = rank 1
    assert(out.getAs[Long]("p50") == 20L) // ceil(4*50/100) = rank 2
    assert(out.getAs[Long]("p100") == 40L)
    assert(out.getAs[Long]("min_value") == 10L && out.getAs[Long]("max_value") == 40L)
  }

  test("odd group size: p50 of 5 values is the 3rd (the median)") {
    val out = Stats.nearestRankQuantiles(
        df(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L)), "g", "v", Seq(50))
      .collect().head
    assert(out.getAs[Long]("p50") == 3L)
  }

  test("ties leave the rank value well-defined; groups are independent") {
    val out = Stats.nearestRankQuantiles(
        df(("a", 7L), ("a", 7L), ("a", 7L), ("b", 1L), ("b", 100L)), "g", "v", Seq(50, 99))
      .collect().map(r => (r.getString(0), r.getAs[Long]("p50"), r.getAs[Long]("p99"))).toSet
    assert(out == Set(("a", 7L, 7L), ("b", 1L, 100L)))
  }

  test("a single-row group answers every percentile with its one value") {
    val out = Stats.nearestRankQuantiles(df(("a", 42L)), "g", "v", Seq(1, 50, 99, 100))
      .collect().head
    Seq("p1", "p50", "p99", "p100").foreach(c => assert(out.getAs[Long](c) == 42L))
  }

  test("approx quantiles agree with exact on a clean distribution") {
    val rows = (1L to 1000L).map(v => ("a", v))
    val exact = Stats.nearestRankQuantiles(df(rows: _*), "g", "v", Seq(50, 90)).collect().head
    val approx = Stats.approxQuantiles(df(rows: _*), "g", "v", Seq(50, 90)).collect().head
    assert(math.abs(approx.getAs[Long]("p50") - exact.getAs[Long]("p50")) <= 1)
    assert(math.abs(approx.getAs[Long]("p90") - exact.getAs[Long]("p90")) <= 1)
  }

  test("out-of-range percents are rejected") {
    intercept[IllegalArgumentException] {
      Stats.nearestRankQuantiles(df(("a", 1L)), "g", "v", Seq(0))
    }
    intercept[IllegalArgumentException] {
      Stats.nearestRankQuantiles(df(("a", 1L)), "g", "v", Seq(101))
    }
  }

  test("the plan shuffles once: the aggregation reuses the window's partitioning") {
    val plan = Stats.nearestRankQuantiles(df(("a", 1L), ("b", 2L)), "g", "v", Seq(50))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one hash exchange, got $exchanges:\n$plan")
  }
}
