package graft.model

import graft.{SparkSpec, TestForests}
import graft.core._
import graft.rewrite.PropertySpec
import graft.sources.{RelationalLoader, Testdata}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Distributed schema derivation + dataset extraction, checked against the
  * local derivation and the extract_datasets goldens
  * (tests/test_schema.py:49+).
  */
class SchemaSparkSpec extends AnyFunSuite with SparkSpec {

  private def t(s: String): ArchiTree = SExpr.parse(s)

  test("fromForest(nodesDF) matches fromTrees on the same forest") {
    val trees = Seq(
      t("(S (GROUP::P (ENT::name Alice) (ENT::age 30)))"),
      t("(S (GROUP::P (ENT::name Bob) (ENT::city NYC)) (GROUP::Q (ENT::x 1)))"),
      t("(ROOT (REL::r (GROUP::P (ENT::name Al)) (GROUP::Q (ENT::x 2))))"))
    val local = Schema.fromTrees(trees)
    val nodes = Forest.toNodesDF(Forest.fromTrees(spark, trees))
    for (parts <- Seq("1", "7"); bound <- Seq(Schema.LocalMaxNodes, 0L))
      withConf("spark.sql.shuffle.partitions" -> parts) {
        val dist = Schema.fromForest(nodes, keepUnlabelled = true, mergeLhs = true, bound)
        val what = s"$parts shuffle partitions, bound $bound"
        assert(dist.groups == local.groups, what)
        assert(dist.relations == local.relations, what)
        assert(dist.productions == local.productions, what)
      }
  }

  test("fromForest over a small node set runs at most two Spark jobs") {
    val nodes = Forest.toNodesDF(TestForests.randomCustomer(spark, new scala.util.Random(3)))
    val (schema, jobs) = jobsDuring(Schema.fromForest(nodes, keepUnlabelled = false))
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 2, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(schema == Schema.fromForest(nodes, keepUnlabelled = false, mergeLhs = true, 0L))
  }

  test("toNodesDF flattens a local forest on the driver, up to the node bound") {
    import spark.implicits._
    val forest = TestForests.customers(spark)
    val local = forest.collect().toSeq.toDS()
    val spread = Forest.toNodesDF(forest).collect().toSeq
    def tally(rows: Seq[NodeRow]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)

    val nodes = Forest.toNodesDF(local)
    assert(nodes.isLocal)
    assert(tally(nodes.collect().toSeq) == tally(spread))
    val (schema, jobs) = jobsDuring(Schema.fromForest(nodes, keepUnlabelled = false))
    assert(jobs.isEmpty, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(schema == Schema.fromForest(Forest.toNodesDF(forest), keepUnlabelled = false))

    // at the bound the flatten stays on the driver; one row above it, and
    // for a checkpointed forest, it is the lazy Spark flatten
    assert(Forest.toNodesDF(local, spread.size.toLong).isLocal)
    val lazyNodes = Forest.toNodesDF(local, spread.size - 1L)
    assert(!lazyNodes.isLocal)
    assert(tally(lazyNodes.collect().toSeq) == tally(spread))
    assert(!Forest.toNodesDF(forest).isLocal)
  }

  test("property: the driver and Dataset derivations give equal schemas at 1 and 7 shuffle partitions") {
    // customer-shaped forests typed as loaded and stripped of their
    // typing, and generated instances of random schemas whose REL sides
    // share members across pairs
    val rnd = new scala.util.Random(17)
    val customers = (0 until 3).flatMap { _ =>
      val f = TestForests.randomCustomer(spark, rnd)
      Seq(f, Forest.untypeStructure(f).localCheckpoint(true))
    }
    val generated = PropertySpec.samples(PropertySpec.schemaGen, 6).zipWithIndex.map { case (s, i) =>
      TestForests.relInstance(spark, s, size = 2 + rnd.nextInt(4), members = 1 + rnd.nextInt(3),
        collections = i % 2 == 1, rnd)
    }
    // and the edge-case node set with each tree's rows spread over partitions
    val nodeSets = (customers ++ generated).map(f => Forest.toNodesDF(f.repartition(3))) :+
      TestForests.scatteredEdgeCaseNodes(spark)
    val orientations = for {
      ((nodes, i), parts) <- nodeSets.zipWithIndex.zip(Iterator.continually(Seq("1", "7")).flatten)
      keep <- Seq(true, false)
    } yield withConf("spark.sql.shuffle.partitions" -> parts) {
      val local = Schema.fromForest(nodes, keep, mergeLhs = i % 3 != 0, Schema.LocalMaxNodes)
      val dist = Schema.fromForest(nodes, keep, mergeLhs = i % 3 != 0, 0L)
      val what = s"node set $i, $parts shuffle partitions, keepUnlabelled = $keep"
      assert(local.productions == dist.productions, what)
      assert(local.groups == dist.groups, what)
      assert(local.relations == dist.relations, what)
      local.relations.toSeq.map(_.orientation)
    }
    val seen = orientations.flatten.toSet
    info(s"orientations seen: ${seen.mkString(", ")}")
    assert(seen.contains(RelationOrientation.Both) && seen.size >= 2,
      "the sample must exercise multi-member sides on one side and on both")
  }

  test("templateFromTrees: productions match fromForest; template trees identical") {
    val trees = Seq(
      t("(S (GROUP::P (ENT::name Alice) (ENT::age 30)))"),
      t("(S (GROUP::P (ENT::name Bob) (ENT::city NYC)) (GROUP::Q (ENT::x 1)))"),
      t("(ROOT (REL::r (GROUP::P (ENT::name Al)) (GROUP::Q (ENT::x 2))))"),
      t("(ROOT (COLL::c (GROUP::Q (ENT::x 3)) (GROUP::Q (ENT::x 4))))"))
    val forest = Forest.fromTrees(spark, trees)
    val full = Schema.fromForest(Forest.toNodesDF(forest))
    val tmpl = Schema.templateOf(Trees(forest))
    assert(tmpl.productions.toSet == full.productions.toSet)
    assert(tmpl.groups == full.groups)
    // relations are intentionally absent (orientation not derived) but
    // the expanded template tree — the only consumer — is identical
    assert(tmpl.toTree == full.toTree)
  }

  test("toNodesDF over a self-merged forest equals the local flatten") {
    val forest = RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb)
      .localCheckpoint(true)
    val distributed = Forest.toNodesDF(Forest.mapTrees(forest)(t => t.merge(t)))
      .collect().toSet
    val local = forest.collect()
      .flatMap(r => Forest.nodeRows(r.treeId, r.tree.merge(r.tree))).toSet
    assert(distributed == local)
    assert(distributed.nonEmpty)
  }

  test("extract_datasets goldens (test_schema.py one_group/duplicates/widening)") {
    val trees = Seq(
      t("(S (GROUP::Person (ENT::name Alice) (ENT::age 30)))"),
      t("(S (GROUP::Person (ENT::name Alice) (ENT::age 30)))"),
      t("(S (GROUP::Person (ENT::name Bob) (ENT::age 25) (ENT::city NYC)))"))
    val nodes = Forest.toNodesDF(Forest.fromTrees(spark, trees))
    val ds = Schema.extractDataset(nodes, "Person")
    assert(ds.columns.toSeq == Seq("age", "city", "name"))
    val rows = ds.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("30", null, "Alice"), ("25", "NYC", "Bob")))
  }

  test("sf0.001 customer forest: schema matches the star subset") {
    val nodes = Forest.toNodesDF(
      RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb))
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    assert(schema.groups.map(_.name) == Set("customer", "nation", "region"))
    assert(schema.groups.find(_.name == "nation").get.entities == Set("n_nationkey", "n_name"))
    assert(schema.relations.map(r => (r.name, r.left, r.right)) == Set(
      ("customer<->nation", "customer", "nation"),
      ("nation<->region", "nation", "region")))
    // one nation member oid participates in many distinct (customer,
    // nation) pairs → the right (nation) side is multi → RIGHT
    assert(schema.relations.find(_.name == "customer<->nation").get.orientation ==
      RelationOrientation.Right)
    assert(schema.verify)
  }

  test("sf0.001 customer dataset extraction matches the source table") {
    import spark.implicits._
    val nodes = Forest.toNodesDF(
      RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb))
    val ds = Schema.extractDataset(nodes, "customer")
    assert(ds.count() == 150)
    val expected = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .selectExpr("cast(c_acctbal as string)", "cast(c_custkey as string)",
        "cast(c_mktsegment as string)", "cast(c_name as string)")
      .as[(String, String, String, String)].collect().toSet
    val got = ds.select("c_acctbal", "c_custkey", "c_mktsegment", "c_name")
      .as[(String, String, String, String)].collect().toSet
    assert(got == expected)
  }

  test("extractDataset over a small node set runs at most two Spark jobs") {
    val nodes = Forest.toNodesDF(TestForests.randomCustomer(spark, new scala.util.Random(5)))
    val (ds, jobs) = jobsDuring(Schema.extractDataset(nodes, "customer"))
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 2, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(TestForests.tableOf(ds) ==
      TestForests.tableOf(Schema.extractDataset(nodes, "customer", 0L)))
  }

  test("property: the driver and Dataset extractions give equal datasets at 1 and 7 shuffle partitions") {
    val rnd = new scala.util.Random(23)
    val random = (0 until 3).map(_ => Forest.toNodesDF(TestForests.randomCustomer(spark, rnd))) ++
      PropertySpec.samples(PropertySpec.schemaGen, 2).map(s => Forest.toNodesDF(
        TestForests.relInstance(spark, s, size = 3, members = 2, collections = false, rnd)))
    val corpus = Seq(Testdata.customerDb, Testdata.ordersDb)
      .map(cfg => RelationalLoader.loadNodes(spark, TestForests.Sf0001, cfg).localCheckpoint(true))
    val edge = Seq(TestForests.edgeCaseNodes(spark), TestForests.scatteredEdgeCaseNodes(spark))
    for ((nodes, i) <- (random ++ corpus ++ edge).zipWithIndex; parts <- Seq("1", "7"))
      withConf("spark.sql.shuffle.partitions" -> parts) {
        val groups = nodes.filter(org.apache.spark.sql.functions.col("nodeType") === "GROUP")
          .select("name").distinct().collect().map(_.getString(0)).sorted
        for (g <- groups) {
          val local = Schema.extractDataset(nodes, g, Schema.LocalMaxNodes)
          val dist = Schema.extractDataset(nodes, g, 0L)
          assert(TestForests.tableOf(local) == TestForests.tableOf(dist),
            s"node set $i, group $g, $parts shuffle partitions")
        }
      }
  }

  test("edge cases: occurrence dedup, last entity by position, null and empty oids") {
    val ds = Schema.extractDataset(TestForests.edgeCaseNodes(spark), "A")
    assert(ds.columns.toSeq == Seq("x", "y"))
    // a1 in tree 0 keeps its last x; a1 twice in tree 1 keeps the first
    // occurrence; the null and empty oids are instances of their own; a3
    // has no ENT child; a1 and a4 under A<->B repeat tree-level values
    assert(TestForests.tableOf(ds)._2 == Map(
      Row("2", "true") -> 1, Row("3", "false") -> 1, Row("4", null) -> 1, Row("5", null) -> 1,
      Row("6", null) -> 1))
  }
}
