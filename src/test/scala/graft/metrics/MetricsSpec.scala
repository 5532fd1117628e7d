package graft.metrics

import graft.{SparkSpec, TestForests}
import graft.core.{NodeType, SExpr}
import graft.model.{Forest, TreeRow, Trees}
import graft.rewrite.Rewrite
import graft.similarity.TreeClusterer
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
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
      def hist(counts: Seq[Long]) = counts.groupMapReduce(identity)(_ => 1L)(_ + _)
      val got = ClusterComparison.expectedMutualInfo(hist(aCounts), hist(bCounts), n)
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

  // --- snapshot comparison: the driver-side Metrics against the
  // join-based code it replaced, kept here as the reference ---

  /** The replaced snapshot: distinct entity oids, label counts and the
    * checkpointed (oid, max cluster) entity labelling, as Datasets.
    */
  private def referenceSnapshot(forest: Dataset[TreeRow]) = {
    import spark.implicits._
    val oids = forest.flatMap { case TreeRow(treeId, tree) =>
      tree.positionedSubtrees.collect {
        case (path, t) if t.hasType(NodeType.Ent) =>
          if (t.oid.nonEmpty) t.oid else s"$treeId/${path.mkString(".")}"
      }
    }.distinct()
    val labels = forest.flatMap(_.tree.subtrees.map(_.label.render))
      .groupByKey(identity).count().collect().toMap
    val model = TreeClusterer.fitModel(Trees(forest), 0.7, 2.0, "jaro",
      entityParentsOnly = true, buildModel = false)
    val clustering = forest.flatMap { case TreeRow(treeId, tree) =>
      val clusters = TreeClusterer.treeAssignments(treeId, tree, model, entityParentsOnly = true)
        .toSeq.groupMap(_.key)(_.cluster)
      tree.positionedSubtrees.flatMap { case (path, t) =>
        clusters.getOrElse(s"$treeId/${path.mkString(".")}", Nil).flatMap { label =>
          t.childTrees.zipWithIndex.collect {
            case (c, i) if c.hasType(NodeType.Ent) =>
              (if (c.oid.nonEmpty) c.oid else s"$treeId/${(path :+ i).mkString(".")}") -> label
          }
        }
      }
    }.groupBy(col("_1").as("oid")).agg(max(col("_2")).as("label")).as[(String, String)]
    (oids, labels, clustering)
  }

  private def referenceCoverage(a: Dataset[String], b: Dataset[String]): Double = {
    val r = a.toDF("oid").withColumn("ina", lit(1))
      .join(b.toDF("oid").withColumn("inb", lit(1)), Seq("oid"), "full_outer")
      .agg(count(lit(1)).as("u"),
        count(when(col("ina").isNotNull && col("inb").isNotNull, 1)).as("i"))
      .head()
    if (r.getLong(0) == 0) 1.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  private def referenceContingency(
      a: Dataset[(String, String)], b: Dataset[(String, String)]): Map[(String, String), Long] = {
    val cells = a.toDF("oid", "a").join(b.toDF("oid", "b"), Seq("oid"), "full_outer")
      .groupBy("a", "b").count().collect()
    val matched = cells.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    val singleA = cells.iterator.filter(r => !r.isNullAt(0) && r.isNullAt(1)).flatMap { r =>
      (0L until r.getLong(2)).map(i => (r.getString(0), s"\u0000a:${r.getString(0)}:$i") -> 1L)
    }
    val singleB = cells.iterator.filter(r => r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
      (0L until r.getLong(2)).map(i => (s"\u0000b:${r.getString(1)}:$i", r.getString(1)) -> 1L)
    }
    (matched ++ singleA ++ singleB).toMap
  }

  test("snapshot comparison runs at most four Spark jobs") {
    val a = TestForests.randomCustomer(spark, new scala.util.Random(5))
    val b = Rewrite.rewrite(a, Rewrite.Config(tau = 0.7))
    val (_, jobs) = jobsDuring {
      val m = new Metrics(a)
      m.update(b)
      (m.coverage, m.clusterCompleteness, m.clusterAmi)
    }
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 4, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
  }

  /** Typed and untyped customer-shaped forests against their rewrite
    * (a local relation) and against each other (partly shared keys, a
    * lazy repartition).
    */
  private def randomPairs(): Seq[(Dataset[TreeRow], Dataset[TreeRow])] = {
    val rnd = new scala.util.Random(23)
    (0 until 3).flatMap { i =>
      val typed = TestForests.randomCustomer(spark, rnd)
      val other = TestForests.randomCustomer(spark, rnd)
      val untyped = Forest.untypeStructure(typed).localCheckpoint(true)
      Seq(typed -> Rewrite.rewrite(typed, Rewrite.Config(tau = 0.7)),
        untyped -> Rewrite.rewrite(untyped, Rewrite.Config(tau = 0.7, epochs = 4)),
        typed -> other.repartition(1 + i))
    }
  }

  test("property: driver-side snapshots match the join-based comparison on random forest pairs") {
    randomPairs().zipWithIndex.foreach { case ((a, b), i) =>
      val m = new Metrics(a, 0.7)
      m.update(b)
      val (aOids, aLabels, aClusters) = referenceSnapshot(a)
      val (bOids, bLabels, bClusters) = referenceSnapshot(b)
      val what = s"pair $i"
      assert(m.origin.labelCounts == aLabels, what)
      assert(m.current.labelCounts == bLabels, what)
      assert(m.origin.clustering == aClusters.collect().toMap, what)
      assert(m.current.clustering == bClusters.collect().toMap, what)
      assert(m.current.entityOids.collect().toSet == bOids.collect().toSet, what)
      val table = referenceContingency(aClusters, bClusters)
      assert(math.abs(m.coverage - referenceCoverage(aOids, bOids)) <= 1e-12, what)
      assert(math.abs(m.clusterCompleteness -
        ClusterComparison.completeness(Contingency(table, Map.empty, Map.empty))) <= 1e-12, what)
      assert(math.abs(m.clusterAmi -
        ClusterComparison.adjustedMutualInfo(Contingency(table, Map.empty, Map.empty))) <= 1e-12, what)
    }
  }

  test("property: snapshots on the Dataset path and on the driver path agree at 1 and 7 shuffle partitions") {
    for (((a, b), i) <- randomPairs().zipWithIndex; parts <- Seq("1", "7"))
      withConf("spark.sql.shuffle.partitions" -> parts) {
        val Seq(driver, spread) = Seq(Rewrite.LocalMaxTrees, 0L).map { bound =>
          val m = new Metrics(a, 0.7, 2.0, "jaro", None, bound)
          m.update(b)
          m
        }
        val what = s"pair $i, $parts shuffle partitions"
        assert(spread.origin.labelCounts == driver.origin.labelCounts, what)
        assert(spread.current.labelCounts == driver.current.labelCounts, what)
        assert(math.abs(spread.coverage - driver.coverage) <= 1e-12, what)
        assert(math.abs(spread.clusterCompleteness - driver.clusterCompleteness) <= 1e-12, what)
        assert(math.abs(spread.clusterAmi - driver.clusterAmi) <= 1e-12, what)
      }
  }
}
