package graft

import graft.core._
import graft.model.{Forest, Schema, TreeRow}
import graft.rewrite.Generator
import graft.sources.{RelationalLoader, Testdata}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Random forests shared by the property tests. */
object TestForests {

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
}
