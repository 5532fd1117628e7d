package graft.metrics

import graft.SparkSpec
import graft.core.SExpr
import graft.model.Forest
import org.scalatest.funsuite.AnyFunSuite

/** FD metrics doctests (architxt/metrics.py:47-54,81-88,120-127), the
  * inspector, and the cluster-agreement math (hand-computed goldens
  * replacing sklearn).
  */
class MetricsSpec extends AnyFunSuite with SparkSpec {

  private def abDf = {
    import spark.implicits._
    Seq(("x", 1), ("y", 2), ("x", 1), ("x", 3), ("y", 2)).toDF("A", "B")
  }

  test("confidence doctest: A → 1.0, B → 0.8") {
    assert(FdMetrics.confidence(abDf, "A") == 1.0)
    assert(FdMetrics.confidence(abDf, "B") == 0.8)
  }

  test("confidence edge cases: missing column, single column") {
    import spark.implicits._
    assert(FdMetrics.confidence(abDf, "C") == 0.0)
    assert(FdMetrics.confidence(Seq("x").toDF("A"), "A") == 0.0)
    assert(FdMetrics.confidence(abDf.limit(0), "A") == 0.0)
  }

  test("dependency_score doctest: max confidence, short-circuit at 1.0") {
    assert(FdMetrics.dependencyScore(abDf, Seq("A", "B")) == 1.0)
  }

  test("redundancy_score doctest: 0.8") {
    assert(FdMetrics.redundancyScore(abDf) == 0.8)
  }

  test("redundancy_score: no qualifying subset → 0.0") {
    import spark.implicits._
    // no FD holds in either direction with tau=1.0 and no duplicates
    val df = Seq(("x", 1), ("x", 2), ("y", 1)).toDF("A", "B")
    assert(FdMetrics.redundancyScore(df, tau = 1.0) == 0.0)
  }

  test("confidenceTable emits one row per column") {
    val rows = FdMetrics.confidenceTable(abDf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map("A" -> 1.0, "B" -> 0.8))
  }

  test("inspector on a small forest") {
    val trees = Seq(
      SExpr.parse("(ROOT (GROUP::A (ENT::x 1) (ENT::y 2)) (REL::r (GROUP::A (ENT::x 1)) (GROUP::B (ENT::z 3))))"),
      SExpr.parse("(ROOT (COLL::c (GROUP::B (ENT::z 4)) (GROUP::B (ENT::z 5))))"))
    val nodes = Forest.toNodesDF(Forest.fromTrees(spark, trees))
    val r = ForestInspector.inspect(nodes)
    assert(r.totalTrees == 2)
    assert(r.totalEntities == 6)
    assert(r.totalGroups == 5)
    assert(r.totalRelations == 1)
    assert(r.totalCollections == 1)
    assert(r.entityCount == Map("x" -> 2, "y" -> 1, "z" -> 3))
    assert(r.maxSize == 4) // first tree has 4 leaves
    assert(r.totalNodes == 15) // 2 roots + 1 rel + 1 coll + 5 groups + 6 ents
    assert(r.maxHeight == 5) // ROOT→REL→GROUP→ENT→leaf
  }

  test("inspector on the sf0.001 customer forest") {
    val nodes = graft.sources.RelationalLoader.loadNodes(
      spark, "/root/testdata/sf0.001", graft.sources.Testdata.customerDb)
    val r = ForestInspector.inspect(nodes)
    assert(r.totalTrees == 150)
    assert(r.totalGroups == 150 * 7)
    assert(r.totalRelations == 150 * 2)
    assert(r.entityCount("c_custkey") == 300) // customer group appears twice per tree
  }

  test("AMI: identical and permuted labelings → 1.0") {
    assert(ClusterComparison.adjustedMutualInfo(
      Seq("0", "0", "1", "1"), Seq("0", "0", "1", "1")) == 1.0)
    assert(math.abs(ClusterComparison.adjustedMutualInfo(
      Seq("0", "0", "1", "1"), Seq("b", "b", "a", "a")) - 1.0) < 1e-12)
  }

  test("AMI hand-computed golden: [0,0,1,1] vs [0,0,1,2] = 4/7") {
    val ami = ClusterComparison.adjustedMutualInfo(
      Seq("0", "0", "1", "1"), Seq("0", "0", "1", "2"))
    assert(math.abs(ami - 4.0 / 7.0) < 1e-9, s"got $ami")
  }

  test("property: EMI over margin-value histograms equals the per-cluster-pair sum") {
    import org.apache.commons.math3.special.Gamma.logGamma
    // the per-(a, b)-cluster loop the histogram form replaced
    def reference(aCounts: Seq[Long], bCounts: Seq[Long], n: Long): Double = {
      var emi = 0.0
      val logN = math.log(n.toDouble)
      for (ai <- aCounts; bj <- bCounts) {
        var nij = math.max(1L, ai + bj - n)
        while (nij <= math.min(ai, bj)) {
          val term1 = nij.toDouble / n
          val term2 = math.log(nij.toDouble) + logN - math.log(ai.toDouble) - math.log(bj.toDouble)
          val logTerm3 =
            logGamma(ai + 1.0) + logGamma(bj + 1.0) + logGamma(n - ai + 1.0) + logGamma(n - bj + 1.0) -
              logGamma(n + 1.0) - logGamma(nij + 1.0) - logGamma(ai - nij + 1.0) -
              logGamma(bj - nij + 1.0) - logGamma(n - ai - bj + nij + 1.0)
          emi += term1 * term2 * math.exp(logTerm3)
          nij += 1
        }
      }
      emi
    }
    val rnd = new scala.util.Random(11L)
    (1 to 300).foreach { _ =>
      // random tables over a few labels per side; every third case adds
      // one-sided singletons, the shape a snapshot comparison produces
      val n0 = 1 + rnd.nextInt(60)
      val (na, nb) = (1 + rnd.nextInt(6), 1 + rnd.nextInt(6))
      val cells = Seq.fill(n0)((s"a${rnd.nextInt(na)}", s"b${rnd.nextInt(nb)}"))
      val singles = if (rnd.nextInt(3) == 0) rnd.nextInt(40) else 0
      val a = cells.map(_._1) ++ (0 until singles).map(i => s"a${i % na}")
      val b = cells.map(_._2) ++ (0 until singles).map(i => s"s$i")
      val aCounts = a.groupBy(identity).values.map(_.size.toLong).toSeq
      val bCounts = b.groupBy(identity).values.map(_.size.toLong).toSeq
      val n = a.size.toLong
      val got = ClusterComparison.expectedMutualInfo(aCounts, bCounts, n)
      val want = reference(aCounts, bCounts, n)
      assert(math.abs(got - want) <= 1e-9, s"margins $aCounts vs $bCounts: $got vs $want")
    }
  }

  test("completeness goldens") {
    assert(ClusterComparison.completeness(
      Seq("0", "0", "1", "1"), Seq("1", "1", "0", "0")) == 1.0)
    assert(ClusterComparison.completeness(
      Seq("0", "0", "1", "1"), Seq("0", "0", "0", "0")) == 1.0)
    val c = ClusterComparison.completeness(
      Seq("0", "0", "1", "1"), Seq("0", "0", "1", "2"))
    assert(math.abs(c - 2.0 / 3.0) < 1e-12, s"got $c")
    assert(math.abs(ClusterComparison.completeness(
      Seq("0", "0", "1", "1"), Seq("0", "1", "0", "1"))) < 1e-12)
  }
}
