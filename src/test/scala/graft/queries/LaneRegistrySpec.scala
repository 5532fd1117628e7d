package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.scalatest.funsuite.AnyFunSuite

class LaneRegistrySpec extends AnyFunSuite with SparkSpec {

  test("a lane name registered by two families fails the union") {
    def lane(oracle: String) = Lane("dup_lane", (s, _) => s.range(1).toDF(), oracle)
    val e = intercept[IllegalArgumentException](
      GraftQueries.union(Seq(lane("SELECT 1")), Seq(lane("SELECT 2"))))
    assert(e.getMessage.contains("dup_lane"))
  }

  test("resetMemos empties the one memo store and uncaches every table") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("extract_customer", "dedup_resolve_documents"))
      assert(SparkEntry.queries(name)(spark, dir).count() > 0, name)
    assert(Memo.size > 0, "the memoized lanes left nothing in the store")
    val probe = spark.range(3).toDF("x").cache()
    probe.count()
    val cache = spark.asInstanceOf[ClassicSession].sharedState.cacheManager
    assert(!cache.isEmpty)

    SparkEntry.resetMemos(spark)
    assert(Memo.size == 0)
    assert(cache.isEmpty, "a table is still cached after resetMemos")
  }
}
