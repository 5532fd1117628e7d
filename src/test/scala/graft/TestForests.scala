package graft

import graft.core._
import graft.model.{Forest, NodeRow, Schema, TreeRow}
import graft.rewrite.Generator
import graft.sources.{RelationalLoader, Testdata}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.types.DataType

/** Random forests shared by the property tests. */
object TestForests {

  /** 24 customers over 25 nations and 5 regions, loaded typed like the
    * sf corpus's customerDb and checkpointed: the rewrite runs six epochs
    * to its fixpoint.
    */
  def customers(spark: SparkSession): Dataset[TreeRow] = {
    import spark.implicits._
    val region = (0 until 5).map(i => (i, s"REGION$i")).toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val segments = Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD")
    val customer = (0 until 24).map(i =>
      (i.toLong, f"Customer#$i%09d", (i * 7) % 25, (i * 37 % 1000).toDouble / 10,
        segments((i * 3) % 5)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    RelationalLoader.loadFrom(spark,
      Map("region" -> region, "nation" -> nation, "customer" -> customer),
      Testdata.customerDb).localCheckpoint(true)
  }

  /** A customer-shaped forest of random size and key layout, loaded
    * typed like the sf corpus's customerDb.
    */
  def randomCustomer(spark: SparkSession, rnd: scala.util.Random): Dataset[TreeRow] = {
    import spark.implicits._
    val (nRegion, nNation, nCust) = (2 + rnd.nextInt(4), 5 + rnd.nextInt(20), 8 + rnd.nextInt(40))
    val region = (0 until nRegion).map(i => (i, s"REGION$i")).toDF("r_regionkey", "r_name")
    val nation = (0 until nNation).map(i => (i, s"NATION_$i", rnd.nextInt(nRegion)))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val segments = Seq("BUILDING", "MACHINERY", "AUTOMOBILE")
    val customer = (0 until nCust).map(i =>
      (i.toLong, f"Customer#$i%09d", rnd.nextInt(nNation), rnd.nextInt(10000).toDouble / 10,
        segments(rnd.nextInt(segments.size))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    RelationalLoader.loadFrom(spark,
      Map("region" -> region, "nation" -> nation, "customer" -> customer),
      Testdata.customerDb).localCheckpoint(true)
  }

  /** A generated instance of `schema` whose REL members carry oids drawn
    * per group from a pool of `members` (so one member joins several
    * distinct pairs) or from a pool too large to repeat; every tree sits
    * under a ROOT.
    */
  def relInstance(
      spark: SparkSession,
      schema: Schema,
      size: Int,
      members: Int,
      collections: Boolean,
      rnd: scala.util.Random): Dataset[TreeRow] = {
    val pools = scala.collection.mutable.Map.empty[String, Int]
    def oidOf(group: String): String =
      s"$group#${rnd.nextInt(pools.getOrElseUpdate(group, if (rnd.nextBoolean()) members else 1 << 20))}"
    def withOids(t: ArchiTree): ArchiTree = {
      val kids = t.children.map {
        case Child.Node(c) =>
          val cc = withOids(c)
          Child.Node(
            if (t.hasType(NodeType.Rel)) cc.copy(oid = oidOf(cc.label.name))
            else cc): Child
        case leaf => leaf
      }
      t.copy(children = kids)
    }
    val trees = Generator.genInstance(schema, size = size, generateCollections = collections)
      .map(t => ArchiTree(Plain("ROOT"), Vector(Child.Node(withOids(t)))))
    Forest.fromTrees(spark, trees).localCheckpoint(true)
  }

  /** The smallest scale of the TPC-H-shaped test corpus (TESTDATA.md). */
  val Sf0001 = "/root/testdata/sf0.001"

  /** A hand-made node set with the edge cases of dataset extraction and
    * SQL export: one oid in two trees and twice in one tree, a null and
    * an empty oid, a repeated entity label within one instance, an
    * instance with no ENT child, two groups (A, B) sharing the entity
    * name `x`, null values, a BOTH relation `A<->B` and a RIGHT relation
    * `B<->C` whose member c1 joins two B oids.
    */
  def edgeCaseNodes(spark: SparkSession): Dataset[NodeRow] = {
    import spark.implicits._
    def e(name: String, v: String): Child = Child.Node(ArchiTree.leafNode(s"ENT::$name", v))
    def g(name: String, oid: String, kids: Child*): ArchiTree =
      ArchiTree(Typed(NodeType.Group, name), kids.toVector, oid)
    def rel(name: String, l: ArchiTree, r: ArchiTree): ArchiTree =
      ArchiTree(Typed(NodeType.Rel, name), Vector(Child.Node(l), Child.Node(r)))
    def root(ts: ArchiTree*): ArchiTree = ArchiTree(Plain("ROOT"), ts.map(t => Child.Node(t): Child).toVector)
    val a1 = g("A", "a1", e("x", "1"), e("y", "true"), e("x", "2"))
    val b1 = g("B", "b1", e("x", "7"), e("z", "2024-01-02"))
    val b2 = g("B", "b2", e("x", "NULL"), e("z", "2024-01-03"))
    val c1 = g("C", "c1", e("w", "1.5"))
    val trees = Seq(
      root(a1, b1),
      root(g("A", "a1", e("x", "3"), e("y", "false")), g("A", "a1", e("x", "9")), c1),
      root(g("A", "NULL", e("x", "4")), g("A", "", e("x", "5"), e("y", "NULL")),
        g("A", "a3", Child.Node(g("B", "b3", e("z", "x"))))),
      root(rel("A<->B", a1, b1), rel("A<->B", a1, b2), rel("A<->B", g("A", "a4", e("x", "6")), b1)),
      root(rel("B<->C", b1, c1), rel("B<->C", b2, c1),
        rel("B<->C", g("B", "b4", e("z", "2024-01-04")), g("C", "c2", e("w", "NULL")))))
    trees.zipWithIndex
      .flatMap { case (t, i) => Forest.nodeRows(i.toLong, t) }
      .map(n => n.copy(
        oid = if (n.oid == "NULL") null else n.oid,
        value = if (n.value == "NULL") null else n.value))
      .toDS()
  }

  /** [[edgeCaseNodes]] hash-partitioned by node id, so that each tree's
    * rows span several partitions: a stage that assumed one tree's rows
    * arrive together would split its trees.
    */
  def scatteredEdgeCaseNodes(spark: SparkSession): Dataset[NodeRow] = {
    val nodes = edgeCaseNodes(spark).repartition(3, col("nodeId"))
    val spans = nodes.select(col("treeId"), spark_partition_id().as("part")).distinct()
      .groupBy("treeId").count().filter(col("count") > 1).count()
    require(spans > 0, "no tree spans two partitions")
    nodes
  }

  /** A table as its tests compare it: (name, type) per column in order,
    * and its rows as a multiset.
    */
  def tableOf(df: DataFrame): (Seq[(String, DataType)], Map[Row, Int]) =
    (df.schema.fields.toSeq.map(f => (f.name, f.dataType)),
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap)
}
