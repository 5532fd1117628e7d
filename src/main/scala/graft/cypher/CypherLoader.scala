package graft.cypher

import graft.core._
import graft.model.TreeRow
import graft.sources.RelationalLoader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Property-graph loader (reference database/loader/cypher.py:17-175):
  * root nodes = nodes with no incoming edge; undirected BFS with a
  * per-tree visited RELATION-TYPE set; relation types carrying
  * properties become a GROUP of the edge data linked by two RELs.
  *
  * Input is two DataFrames — (id, label, props) nodes and (src, dst,
  * tpe, props) edges — rather than a live Neo4j session.
  *
  * Scale story: a root's walk can only reach its undirected connected
  * component, so the graph is partitioned into components with
  * [[graft.util.Graph.connectedComponents]], nodes and edges are
  * cogrouped per component, and every component builds its trees
  * inside one task; the unit of task memory is the largest component,
  * not the graph. A graph of at most `Graph.LocalCcMaxRows` (100,000)
  * nodes and edges is collected to the driver for union-find; larger
  * ones run distributed min-id label propagation.
  */
object CypherLoader {

  final case class GraphNode(id: String, label: String, props: Seq[(String, String)])
  final case class GraphEdge(src: String, dst: String, tpe: String, props: Seq[(String, String)])

  /** Edge tagged with its input position: the walk's per-type visited
    * set makes tree shape depend on edge ORDER, and the cogroup shuffle
    * would otherwise make it nondeterministic.
    */
  private[cypher] final case class SeqEdge(seq: Long, edge: GraphEdge)

  def load(
      spark: SparkSession,
      nodesDf: DataFrame,
      edgesDf: DataFrame,
      sample: Int = 0,
  ): Dataset[TreeRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val nodes: Dataset[GraphNode] = nodesDf
      .select("id", "label", "props")
      .map { r =>
        GraphNode(r.getString(0), r.getString(1), r.getMap[String, String](2).toSeq.sortBy(_._1))
      }

    val edges: Dataset[SeqEdge] = edgesDf
      .select("src", "dst", "tpe", "props")
      .withColumn("seq", monotonically_increasing_id())
      .map(r => SeqEdge(r.getLong(4), GraphEdge(r.getString(0), r.getString(1), r.getString(2),
        r.getMap[String, String](3).toSeq.sortBy(_._1))))

    // Relation types carrying properties are a GLOBAL set in the
    // reference (one type query over the whole graph, cypher.py:40-52);
    // the collect is bounded by relation-type variety, not data size.
    val relationsWithData: Set[String] =
      edges.filter(_.edge.props.nonEmpty).map(_.edge.tpe).distinct().collect().toSet

    // --- undirected connected components (shared pointer-jumping CC) ---
    val comp = graft.util.Graph.connectedComponents(
        nodes.select(col("id").as("node")),
        edges.select(col("edge.src").as("src"), col("edge.dst").as("dst")))
      .as[(String, String)] // (node id, component id)

    // Optional root sampling (cypher.py:31 `sample`): the reference takes
    // the first `sample` roots in sorted order — resolve that tiny set
    // up front (collect bounded by the user-supplied `sample`).
    val sampleSet: Option[Set[String]] =
      if (sample <= 0) None
      else Some(nodes.select(col("id"))
        .join(edges.select(col("edge.dst").as("dst")).distinct(), col("id") === col("dst"), "left_anti")
        .orderBy("id").limit(sample).as[String].collect().toSet)

    val rwdB = spark.sparkContext.broadcast(relationsWithData)
    val sampleB = spark.sparkContext.broadcast(sampleSet)

    val nodesK = nodes
      .joinWith(comp, nodes("id") === comp("node"))
      .map { case (n, (_, c)) => (c, n) }
      .groupByKey(_._1).mapValues(_._2)
    val edgesK = edges
      .joinWith(comp, edges("edge.src") === comp("node"))
      .map { case (e, (_, c)) => (c, e) }
      .groupByKey(_._1).mapValues(_._2)

    nodesK.cogroup(edgesK) { (_, ns, es) =>
      val nodeMap = ns.map(n => n.id -> n).toMap
      val edgeList = es.toSeq.sortBy(_.seq).map(_.edge)
      // incoming edges are intra-component by definition, so the local
      // root test equals the reference's global no-incoming-edge test
      val hasIncoming = edgeList.map(_.dst).toSet
      var rootIds = nodeMap.keys.toSeq.filterNot(hasIncoming.contains).sorted
      sampleB.value.foreach(keep => rootIds = rootIds.filter(keep.contains))

      // undirected adjacency (cypher.py:76-83 matches (n)-[r]-(m))
      val adjacency: Map[String, Seq[(GraphEdge, String)]] =
        (edgeList.map(e => e.src -> (e, e.dst)) ++ edgeList.map(e => e.dst -> (e, e.src)))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

      rootIds.iterator.map { rootId =>
        val children = readNode(
          nodeMap(rootId), nodeMap, adjacency, rwdB.value,
          scala.collection.mutable.Set.empty[String])
        val tree = ArchiTree(Plain("ROOT"), children.map(t => Child.Node(t): Child).toVector)
        // graph node ids are unique, so a 60-bit hash of the root oid is
        // a collision-safe-enough tree id here (unlike declared
        // relational pks, which the loader no longer trusts for identity)
        val oid = ArchiTree.deterministicOid("cypher", rootId)
        TreeRow(java.lang.Long.parseUnsignedLong(oid.take(15), 16) & Long.MaxValue, tree)
      }
    }
  }

  private def buildGroup(label: String, props: Seq[(String, String)]): ArchiTree =
    ArchiTree(
      Typed(NodeType.Group, label),
      props.collect { case (k, v) if v != null && v.nonEmpty =>
        Child.Node(ArchiTree(Typed(NodeType.Ent, k), Vector(Child.Leaf(v))))
      }.toVector)

  private def buildRelation(a: ArchiTree, b: ArchiTree, relName: String): ArchiTree =
    ArchiTree(Typed(NodeType.Rel, relName), Vector(Child.Node(a), Child.Node(b)))

  /** read_node (cypher.py:55-85): the node's group, then per unvisited
    * relation type the relation trees and the recursive neighbor walk.
    */
  private def readNode(
      node: GraphNode,
      nodes: Map[String, GraphNode],
      adjacency: Map[String, Seq[(GraphEdge, String)]],
      relationsWithData: Set[String],
      visited: scala.collection.mutable.Set[String],
  ): Seq[ArchiTree] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ArchiTree]
    out += buildGroup(node.label, node.props)

    adjacency.getOrElse(node.id, Seq.empty).foreach { case (edge, otherId) =>
      if (!visited.contains(edge.tpe)) {
        visited += edge.tpe
        val other = nodes(otherId)
        val nGroup = buildGroup(node.label, node.props)
        val mGroup = buildGroup(other.label, other.props)
        if (relationsWithData.contains(edge.tpe)) {
          val edgeGroup = buildGroup(edge.tpe, edge.props)
          out += buildRelation(edgeGroup, nGroup, edge.tpe)
          out += buildRelation(edgeGroup, mGroup, edge.tpe)
        } else {
          out += buildRelation(nGroup, mGroup, edge.tpe)
        }
        out ++= readNode(other, nodes, adjacency, relationsWithData, visited)
      }
    }
    out.toSeq
  }
}
