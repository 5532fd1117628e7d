package graft.sinks

import graft.{SparkSpec, TestForests}
import graft.core._
import graft.model.{Forest, RelationOrientation, Schema}
import graft.rewrite.PropertySpec
import graft.sources.{RelationalLoader, Testdata}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite with SparkSpec {

  test("export_sql: group tables, FK wiring, DDL on the customer star") {
    val nodes = RelationalLoader.loadNodes(spark, "/root/testdata/sf0.001", Testdata.customerDb)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    val ex = SqlExporter.export(nodes, schema)

    assert(ex.tables.keySet == Set("customer", "nation", "region"))
    val customer = ex.tables("customer")
    assert(customer.columns.contains("architxt_customerID"))
    assert(customer.count() == 150)
    // RIGHT orientation → the right group (nation) carries the FK column,
    // faithful to export/sql.py:114-134
    assert(ex.tables("nation").columns.contains("architxt_customerID"))
    assert(ex.tables("nation").count() == 25)
    // cast-on-export: numeric entity columns become typed
    val types = customer.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("c_custkey") == "bigint")
    assert(types("c_acctbal") == "double")
    assert(types("c_name") == "string")
    assert(ex.ddl.exists(d => d.startsWith("CREATE TABLE customer") && d.contains("PRIMARY KEY")))
  }

  test("export_sql: BOTH orientation produces a junction table") {
    def rel(l: String, r: String) = ArchiTree(Plain("ROOT"), Vector(Child.Node(
      ArchiTree(Typed(NodeType.Rel, "A<->B"), Vector(
        Child.Node(ArchiTree(Typed(NodeType.Group, "A"),
          Vector(Child.Node(ArchiTree.leafNode("ENT::x", l))), s"oidA$l")),
        Child.Node(ArchiTree(Typed(NodeType.Group, "B"),
          Vector(Child.Node(ArchiTree.leafNode("ENT::y", r))), s"oidB$r")))))))
    // both sides multi → BOTH
    val forest = Forest.fromTrees(spark, Seq(rel("1", "1"), rel("1", "2"), rel("2", "1")))
    val nodes = Forest.toNodesDF(forest)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    assert(schema.relations.head.orientation == graft.model.RelationOrientation.Both)
    val ex = SqlExporter.export(nodes, schema)
    assert(ex.tables.keySet == Set("A", "B", "A<->B"))
    assert(ex.tables("A<->B").columns.toSet == Set("architxt_AID", "architxt_BID"))
    assert(ex.tables("A<->B").count() == 3)
  }

  test("export_sql picks the strongest uniform type per column") {
    def row(oid: String, values: (String, String)*) = ArchiTree(Plain("ROOT"), Vector(Child.Node(
      ArchiTree(Typed(NodeType.Group, "T"),
        values.map { case (e, v) => Child.Node(ArchiTree.leafNode(s"ENT::$e", v)): Child }.toVector, oid))))
    val nodes = Forest.toNodesDF(Forest.fromTrees(spark, Seq(
      row("r1", "i" -> "1", "d" -> "1.5", "b" -> "true", "dt" -> "2024-01-02",
        "ts" -> "2024-01-02 10:00:00", "s" -> "mixed1"),
      row("r2", "i" -> "2", "d" -> "7.0", "b" -> "false", "dt" -> "2024-02-03",
        "ts" -> "2024-02-03 11:30:00", "s" -> "8"))))
    val ex = SqlExporter.export(nodes, Schema.fromForest(nodes, keepUnlabelled = false))
    val types = ex.tables("T").schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types == Map("architxt_TID" -> "string",
      "i" -> "bigint", "d" -> "double", "b" -> "boolean",
      "dt" -> "date", "ts" -> "timestamp", "s" -> "string"))
  }

  test("export_sql: per-group pivot columns stay separate when entity names overlap") {
    // groups A (x,y) and B (x,z) share entity name "x" — the one-pass
    // column derivation must not leak one group's columns into the other
    def tree(i: Int) = ArchiTree(Plain("ROOT"), Vector(
      Child.Node(ArchiTree(Typed(NodeType.Group, "A"), Vector(
        Child.Node(ArchiTree.leafNode("ENT::x", s"ax$i")),
        Child.Node(ArchiTree.leafNode("ENT::y", s"ay$i"))), s"oidA$i")),
      Child.Node(ArchiTree(Typed(NodeType.Group, "B"), Vector(
        Child.Node(ArchiTree.leafNode("ENT::x", s"bx$i")),
        Child.Node(ArchiTree.leafNode("ENT::z", s"bz$i"))), s"oidB$i"))))
    val forest = Forest.fromTrees(spark, (1 to 3).map(tree))
    val nodes = Forest.toNodesDF(forest)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    val ex = SqlExporter.export(nodes, schema)
    assert(ex.tables("A").columns.toSet == Set("architxt_AID", "x", "y"))
    assert(ex.tables("B").columns.toSet == Set("architxt_BID", "x", "z"))
    assert(ex.tables("A").count() == 3)
    assert(ex.tables("B").count() == 3)
  }

  test("JSONL round-trips a forest") {
    val trees = Seq(
      SExpr.parse("(ROOT (GROUP::A (ENT::x New York)) (REL::r (GROUP::A (ENT::x 1)) (GROUP::B (ENT::y 2))))"),
      SExpr.parse("(S plain leaves)"))
    val forest = Forest.fromTrees(spark, trees)
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString + "/out"
    Jsonl.write(forest, dir)
    val back = Forest.collectTrees(Jsonl.read(spark, dir))
    assert(back.map(_.render).toSet == trees.map(_.render).toSet)
  }

  test("export_sql: a LEFT or RIGHT relation's FK is the min target oid per source") {
    val nodes = RelationalLoader.loadNodes(spark, TestForests.Sf0001, Testdata.customerDb)
      .localCheckpoint(true)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    assert(schema.relations.find(_.name == "customer<->nation").get.orientation == RelationOrientation.Right)
    // nation oid -> the min customer oid over the REL instances joining them
    // (the oids are hex, so String order is Spark's)
    val rows = nodes.collect()
    val rels = rows.filter(r => r.nodeType == "REL" && r.name == "customer<->nation")
      .map(r => (r.treeId, r.nodeId)).toSet
    val expected = rows.filter(r => r.nodeType == "GROUP" && rels((r.treeId, r.parentId)))
      .groupBy(r => (r.treeId, r.parentId)).values
      .map(ms => ms.find(_.name == "nation").get.oid -> ms.find(_.name == "customer").get.oid)
      .groupMapReduce(_._1)(_._2)((a, b) => if (a < b) a else b)
    assert(expected.size == 25)
    for (bound <- Seq(Schema.LocalMaxNodes, 0L)) {
      val ex = SqlExporter.export(nodes, schema, bound)
      val got = ex.tables("nation").select("architxt_nationID", "architxt_customerID").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      ex.release()
      assert(got == expected, s"bound $bound")
    }
  }

  test("writeParquet over the sf0.001 orders nodes runs at most 8 Spark jobs") {
    val nodes = RelationalLoader.loadNodes(spark, TestForests.Sf0001, Testdata.ordersDb).localCheckpoint(true)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-sql").toString
    val (ex, jobs) = jobsDuring(SqlExporter.writeParquet(nodes, schema, dir))
    ex.release()
    // the pruned rows' count and collect, the cast query's two (adaptive
    // execution runs its shuffle as a job of its own), one write per table
    info(s"${jobs.size} jobs for ${ex.tables.size} tables: ${jobs.mkString(", ")}")
    assert(jobs.size <= 8, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(ex.tables.keySet.forall(t => new java.io.File(s"$dir/$t/_SUCCESS").exists))
  }

  test("property: the driver and Dataset exports give equal tables and DDL at 1 and 7 shuffle partitions") {
    val rnd = new scala.util.Random(29)
    val random = (0 until 3).map(_ => Forest.toNodesDF(TestForests.randomCustomer(spark, rnd))) ++
      PropertySpec.samples(PropertySpec.schemaGen, 2).map(s => Forest.toNodesDF(
        TestForests.relInstance(spark, s, size = 3, members = 2, collections = false, rnd)))
    val corpus = Seq(Testdata.customerDb, Testdata.ordersDb)
      .map(cfg => RelationalLoader.loadNodes(spark, TestForests.Sf0001, cfg).localCheckpoint(true))
    val edge = Seq(TestForests.edgeCaseNodes(spark), TestForests.scatteredEdgeCaseNodes(spark))
    val orientations = for ((nodes, i) <- (random ++ corpus ++ edge).zipWithIndex; parts <- Seq("1", "7"))
      yield withConf("spark.sql.shuffle.partitions" -> parts) {
        val schema = Schema.fromForest(nodes, keepUnlabelled = false)
        val local = SqlExporter.export(nodes, schema, Schema.LocalMaxNodes)
        val dist = SqlExporter.export(nodes, schema, 0L)
        val what = s"node set $i, $parts shuffle partitions"
        assert(local.tables.keySet == dist.tables.keySet, what)
        for (t <- local.tables.keys)
          assert(TestForests.tableOf(local.tables(t)) == TestForests.tableOf(dist.tables(t)), s"$what, table $t")
        assert(local.ddl == dist.ddl, what)
        dist.release()
        schema.relations.map(_.orientation)
      }
    val seen = orientations.flatten.toSet
    assert(seen(RelationOrientation.Both) && seen.size >= 2,
      "the sample must exercise junction tables and FK columns")
  }

  test("export_sql edge cases: null and empty oids, max values, BOTH junction, min FK") {
    val nodes = TestForests.edgeCaseNodes(spark)
    val schema = Schema.fromForest(nodes, keepUnlabelled = false)
    assert(schema.relations.map(r => r.name -> r.orientation) ==
      Set("A<->B" -> RelationOrientation.Both, "B<->C" -> RelationOrientation.Right))
    val ex = SqlExporter.export(nodes, schema)
    val a = TestForests.tableOf(ex.tables("A"))
    assert(a._1.map(_._1) == Seq("architxt_AID", "x", "y"))
    // per oid the max of every occurrence's values; a3 has no ENT child
    assert(a._2 == Map(
      Row("a1", 9L, true) -> 1, Row(null, 4L, null) -> 1, Row("", 5L, null) -> 1, Row("a4", 6L, null) -> 1))
    assert(TestForests.tableOf(ex.tables("A<->B"))._2.keySet ==
      Set(Row("a1", "b1"), Row("a1", "b2"), Row("a4", "b1")))
    // RIGHT: C carries the FK to B, the min B oid c1 joins
    assert(TestForests.tableOf(ex.tables("C"))._2 ==
      Map(Row("c1", 1.5, "b1") -> 1, Row("c2", null, "b4") -> 1))
  }
}
