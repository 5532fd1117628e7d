package graft.model

import graft.SparkSpec
import graft.core._
import graft.sources.{RelationalLoader, Testdata}
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
    val dist = Schema.fromForest(Forest.toNodesDF(Forest.fromTrees(spark, trees)))
    assert(dist.groups == local.groups)
    assert(dist.relations == local.relations)
    assert(dist.productions.toSet == local.productions.toSet)
  }

  test("templateFromTrees: productions match fromForest; template trees identical") {
    val trees = Seq(
      t("(S (GROUP::P (ENT::name Alice) (ENT::age 30)))"),
      t("(S (GROUP::P (ENT::name Bob) (ENT::city NYC)) (GROUP::Q (ENT::x 1)))"),
      t("(ROOT (REL::r (GROUP::P (ENT::name Al)) (GROUP::Q (ENT::x 2))))"),
      t("(ROOT (COLL::c (GROUP::Q (ENT::x 3)) (GROUP::Q (ENT::x 4))))"))
    val forest = Forest.fromTrees(spark, trees)
    val full = Schema.fromForest(Forest.toNodesDF(forest))
    val tmpl = Schema.templateFromTrees(forest)
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

  test("extraction auto-demotes the keyset broadcast above the size threshold") {
    val nodes = Forest.toNodesDF(
      RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb))
    val default = Schema.extractDataset(nodes, "customer").collect().toSet
    // threshold 0 → the auto path must pick the shuffled join; results
    // must be identical either way
    val key = "spark.graft.extract.broadcastMaxGroupRows"
    spark.conf.set(key, "0")
    try {
      val shuffled = Schema.extractDataset(nodes, "customer").collect().toSet
      assert(shuffled == default, "shuffled-join extraction must match the broadcast plan")
    } finally spark.conf.unset(key)
    // explicit overrides still win over the measurement
    val forced = Schema.extractDataset(nodes, "customer", broadcastGroups = Some(false))
      .collect().toSet
    assert(forced == default)
  }
}
