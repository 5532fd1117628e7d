package graft.sources

import graft.SparkSpec
import graft.core._
import graft.model.Forest
import org.scalatest.funsuite.AnyFunSuite

/** Loader goldens: the FIXTURES.md §2 Product/Consumer/Order shape on
  * in-memory tables, plus structural checks on the sf0.001 parquet corpus.
  */
class RelationalLoaderSpec extends AnyFunSuite with SparkSpec {

  private def fixtureTables() = {
    import spark.implicits._
    Map(
      "Product" -> Seq((1, "Laptop", 1000), (2, "Smartphone", 500)).toDF("id", "name", "price"),
      "Consumer" -> Seq((1, "Alice", 30), (2, "Bob", 25), (3, "Charles", 35), (4, "David", 40))
        .toDF("id", "name", "age"),
      "Order" -> Seq((1, 1, 2), (2, 2, 1), (1, 2, 1)).toDF("product_id", "consumer_id", "quantity"),
    )
  }

  private val fixtureCfg = DbConfig(
    "test-db",
    Seq(
      TableDef("Product", Seq("id"), Nil),
      TableDef("Consumer", Seq("id"), Nil),
      TableDef("Order", Seq("product_id", "consumer_id"), Seq(
        Fk("consumer_id", "Consumer", "id"),
        Fk("product_id", "Product", "id")))))

  test("root detection: unreferenced tables are roots") {
    assert(fixtureCfg.rootTables.map(_.name) == Seq("Order"))
    assert(Testdata.tpch.rootTables.map(_.name) == Seq("lineitem"))
    assert(Testdata.customerDb.rootTables.map(_.name) == Seq("customer"))
  }

  test("cycle roots pick the member with the most FKs") {
    val cyclic = DbConfig("c", Seq(
      TableDef("a", Seq("id"), Seq(Fk("b_id", "b", "id"))),
      TableDef("b", Seq("id"), Seq(Fk("a_id", "a", "id"), Fk("c_id", "c", "id"))),
      TableDef("c", Seq("id"), Nil)))
    assert(cyclic.rootTables.map(_.name).toSet == Set("b"))
  }

  test("order fixture: one ROOT tree per Order row with REL/GROUP chain") {
    val forest = RelationalLoader.loadFrom(
      spark, fixtureTables(), fixtureCfg, simplifyAssociation = false)
    val trees = Forest.collectTrees(forest)
    assert(trees.size == 3)

    val tree = trees.find(_.render.contains("(ENT::quantity 2)")).get
    // ROOT children: GROUP::Order, then per FK (sorted by column:
    // consumer_id first) REL + referenced traversal.
    val kids = tree.childTrees.map(_.label.render)
    assert(kids == Vector(
      "GROUP::Order", "REL::Order<->Consumer", "GROUP::Consumer",
      "REL::Order<->Product", "GROUP::Product"))

    // FK/PK columns of Order are not entities; quantity is.
    val orderGroup = tree.childTrees.head
    assert(orderGroup.childTrees.map(_.label.render) == Vector("ENT::quantity"))
    // The REL carries copies of both groups.
    val rel = tree.childTrees(1)
    assert(rel.childTrees.map(_.label.render) == Vector("GROUP::Order", "GROUP::Consumer"))
    assert(rel.childTrees.head.oid == orderGroup.oid)
    // Consumer for order (1,1,2) is Alice.
    assert(tree.childTrees(2).render.contains("(ENT::name Alice)"))
    assert(tree.childTrees(4).render.contains("(ENT::name Laptop)"))
  }

  test("same logical row shares one deterministic oid across trees") {
    val forest = RelationalLoader.loadFrom(
      spark, fixtureTables(), fixtureCfg, simplifyAssociation = false)
    val trees = Forest.collectTrees(forest)
    val aliceOids = trees.flatMap(_.subtrees)
      .filter(t => t.hasType(NodeType.Group) && t.render.contains("Alice"))
      .map(_.oid).distinct
    assert(aliceOids.size == 1) // orders (1,1,2) and (1,2,1) reference the same Alice row
  }

  test("a 2-column association table collapses to a single REL") {
    import spark.implicits._
    val tables = Map(
      "Product" -> Seq((1, "Laptop"), (2, "Phone")).toDF("id", "name"),
      "Consumer" -> Seq((1, "Alice"), (2, "Bob")).toDF("id", "name"),
      "Link" -> Seq((1, 2), (2, 1)).toDF("product_id", "consumer_id"),
    )
    val cfg = DbConfig("assoc-db", Seq(
      TableDef("Product", Seq("id"), Nil),
      TableDef("Consumer", Seq("id"), Nil),
      TableDef("Link", Seq("product_id", "consumer_id"), Seq(
        Fk("consumer_id", "Consumer", "id"),
        Fk("product_id", "Product", "id")))))
    val trees = Forest.collectTrees(RelationalLoader.loadFrom(spark, tables, cfg))
    assert(trees.size == 2)
    val tree = trees.find(_.render.contains("Bob")).get
    val kids = tree.childTrees.map(_.label.render)
    // REL::Link with both groups, then both side traversals — no GROUP::Link.
    assert(kids == Vector("REL::Link", "GROUP::Consumer", "GROUP::Product"))
    assert(tree.childTrees.head.childTrees.map(_.label.render) ==
      Vector("GROUP::Consumer", "GROUP::Product"))
  }

  test("sf0.001 customer forest: one tree per customer, full dim chain") {
    val forest = RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb)
    assert(forest.count() == 150)

    val tree = Forest.collectTrees(forest.limit(1)).head
    val kinds = tree.childTrees.map(_.label.render)
    assert(kinds == Vector(
      "GROUP::customer", "REL::customer<->nation", "GROUP::nation",
      "REL::nation<->region", "GROUP::region"))
    // FK columns are not entities.
    val nationEnts = tree.childTrees(2).childTrees.map(_.label.name).toSet
    assert(nationEnts == Set("n_nationkey", "n_name"))
    // Values are stringified.
    val custEnts = tree.childTrees.head.childTrees.map(_.label.name).toSet
    assert(custEnts == Set("c_custkey", "c_name", "c_acctbal", "c_mktsegment"))
  }

  test("loadNodes equals the local flatten of load's trees") {
    for (cfg <- Seq(Testdata.customerDb, Testdata.ordersDb, Testdata.tpch)) {
      val nodes = RelationalLoader.loadNodes(spark, "/root/testdata/sf0.001", cfg)
        .collect().toSet
      val trees = RelationalLoader.load(spark, "/root/testdata/sf0.001", cfg).collect()
      val local = trees.flatMap(r => Forest.nodeRows(r.treeId, r.tree)).toSet
      assert(nodes == local, s"divergence for ${cfg.rootTables.map(_.name)}")
      // pre-order node rows line up with subtrees; heights are NLTK's
      for (r <- trees; (row, sub) <- Forest.nodeRows(r.treeId, r.tree).zip(r.tree.subtrees))
        assert(row.height == sub.height && row.nChildren == sub.children.size, s"node ${row.nodeId}")
    }
  }

  test("extraction pushdown equals the generic metamodel path per group") {
    val d = "/root/testdata/sf0.001"
    val cases = Seq(
      (Testdata.customerDb, "customerDb", Seq("customer", "nation", "region")),
      (Testdata.ordersDb, "ordersDb", Seq("orders")),
      (Testdata.tpch, "tpch", Seq("lineitem", "part", "supplier", "nation")))
    for ((cfg, name, groups) <- cases) {
      val nodes = RelationalLoader.loadNodes(spark, d, cfg)
      for (g <- groups) {
        val generic = graft.model.Schema.extractDataset(nodes, g)
        val pushed = RelationalLoader.extractGroupDataset(spark, d, cfg, g)
        assert(generic.columns.toSeq == pushed.columns.toSeq, s"$name/$g columns")
        val gr = generic.collect().map(_.toSeq).toSet
        val pr = pushed.collect().map(_.toSeq).toSet
        assert(gr == pr, s"$name/$g rows diverge (${gr.size} vs ${pr.size})")
      }
    }
  }

  test("sf0.001 lineitem forest: shared visited FK edges prune repeat RELs") {
    val forest = RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.tpch, sample = 5)
    val trees = Forest.collectTrees(forest)
    assert(trees.size == 5)
    val labels = trees.head.childTrees.map(_.label.render)
    // nation appears twice (via customer and via supplier) but
    // nation<->region only once (visited edge set is shared).
    assert(labels.count(_ == "GROUP::nation") == 2)
    assert(labels.count(_ == "REL::nation<->region") == 1)
    assert(labels.count(_ == "REL::supplier<->nation") == 1)
    assert(labels.head == "GROUP::lineitem")
  }
}
