package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class PlacedSpec extends AnyFunSuite with SparkSpec {

  test("placed collects a filtered projection of a local relation with no Spark job") {
    import spark.implicits._
    val local = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val pruned = local.filter(col("id") % 2 === 0).select(col("v"))
    val (placed, jobs) = jobsDuring(Spark.placed(pruned, 1000L))
    assert(jobs.isEmpty, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    placed match {
      case Spark.OnDriver(rows) => assert(rows.map(_.getString(0)).toSet == (0 until 100 by 2).map(i => s"v$i").toSet)
      case other => fail(s"expected the driver path, got $other")
    }
  }
}
