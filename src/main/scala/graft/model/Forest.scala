package graft.model

import graft.core._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StringType

/** One tree per row. `tree` is an [[ArchiTree]] stored through its Spark
  * user-defined type ([[ArchiTreeUDT]], a pre-order struct of arrays).
  *
  * The Dataset[TreeRow] is the master representation of a forest
  * (SURVEY §7.1) in every layer: per-tree rewrites are pure
  * `ArchiTree => ArchiTree` functions mapped over it (zero shuffle), and
  * it checkpoints and writes to parquet as native rows. Cross-tree
  * stages derive the columnar nodes DataFrame below, which is cheap to
  * rebuild per iteration and never the master copy. JSON appears only
  * at the edges (JSONL files, LLM prompts).
  */
final case class TreeRow(treeId: Long, tree: ArchiTree)

/** One row per tree node — the columnar bridge for clustering features,
  * schema derivation, dataset extraction, metrics and export.
  *
  * @param nodeId    pre-order index within the tree (root = 0)
  * @param parentId  pre-order index of the parent (-1 for the root)
  * @param pos       child position within the parent
  * @param nodeType  "ENT" | "GROUP" | "REL" | "COLL" | null for plain labels
  * @param name      label name (or raw label when untyped)
  * @param value     space-joined leaves for ENT nodes, null otherwise
  * @param depth     distance from the root
  * @param height    NLTK height (leaf-only node = 2)
  * @param nChildren direct child count (leaves + subtrees)
  */
final case class NodeRow(
    treeId: Long,
    nodeId: Int,
    parentId: Int,
    pos: Int,
    nodeType: String,
    name: String,
    value: String,
    oid: String,
    depth: Int,
    height: Int,
    nChildren: Int,
)

object Forest {

  /** Parallelize local trees into a forest Dataset. */
  def fromTrees(spark: SparkSession, trees: Seq[ArchiTree]): Dataset[TreeRow] = {
    import spark.implicits._
    trees.zipWithIndex
      .map { case (t, i) => TreeRow(i.toLong, t) }
      .toDS()
  }

  /** Pure per-tree rewrite over the whole forest — no shuffle. */
  def mapTrees(forest: Dataset[TreeRow])(f: ArchiTree => ArchiTree): Dataset[TreeRow] = {
    import forest.sparkSession.implicits._
    forest.map(row => TreeRow(row.treeId, f(row.tree)))
  }

  /** Demote GROUP/REL typing to plain labels (ENT leaves keep their
    * type) — the "untyped ingestion" shape the rewrite and LLM-simplify
    * pipelines are specified against (they must re-discover structure,
    * not inherit it from the loader).
    */
  def untypeStructure(forest: Dataset[TreeRow]): Dataset[TreeRow] =
    mapTrees(forest) { tree =>
      def strip(t: ArchiTree): ArchiTree = {
        val kids = t.children.map {
          case Child.Node(c) => Child.Node(strip(c)): Child
          case l             => l
        }
        t.label match {
          case Typed(NodeType.Group, n) => t.copy(label = Plain(n), children = kids)
          case Typed(NodeType.Rel, n)   => t.copy(label = Plain(n), children = kids)
          case _                        => t.copy(children = kids)
        }
      }
      strip(tree)
    }

  /** Flatten a forest into one NodeRow per tree node (SURVEY §7.1). A
    * local relation of trees with at most `Schema.LocalMaxNodes` nodes
    * flattens on the driver into a local relation, which the node-set
    * stages read with no Spark job; any other forest flattens lazily.
    */
  def toNodesDF(forest: Dataset[TreeRow]): Dataset[NodeRow] = toNodesDF(forest, Schema.LocalMaxNodes)

  private[graft] def toNodesDF(forest: Dataset[TreeRow], localMaxNodes: Long): Dataset[NodeRow] = {
    import forest.sparkSession.implicits._
    val onDriver = Option.when(forest.isLocal) {
      forest.collect().iterator.flatMap(row => nodeRows(row.treeId, row.tree))
        .take(math.min(localMaxNodes, Int.MaxValue - 1L).toInt + 1).toVector
    }.filter(_.size <= localMaxNodes)
    onDriver.fold(forest.flatMap(row => nodeRows(row.treeId, row.tree)))(_.toDS())
  }

  /** Local flattening of one tree (pre-order ids). Heights come back up
    * the same walk (`ArchiTree.height` per node would re-walk every
    * subtree), so each row is filled in once its children are done.
    */
  def nodeRows(treeId: Long, tree: ArchiTree): Seq[NodeRow] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[NodeRow]
    def go(t: ArchiTree, parentId: Int, pos: Int, depth: Int): Int = {
      val id = buf.size
      buf += null
      var childHeight = 0
      t.children.zipWithIndex.foreach {
        case (Child.Node(c), i) => childHeight = math.max(childHeight, go(c, id, i, depth + 1))
        case _                  => childHeight = math.max(childHeight, 1)
      }
      val isEnt = t.hasType(NodeType.Ent)
      buf(id) = NodeRow(
        treeId = treeId,
        nodeId = id,
        parentId = parentId,
        pos = pos,
        nodeType = t.label.nodeType.map(_.value).orNull,
        name = t.label.name,
        value = if (isEnt) t.leaves.mkString(" ") else null,
        oid = t.oid,
        depth = depth,
        height = 1 + childHeight,
        nChildren = t.children.size,
      )
      1 + childHeight
    }
    go(tree, -1, 0, 0)
    buf.toVector
  }

  /** Collect a (small) forest to the driver, trees in id order: tests,
    * golden checks and the CLI's one-tree forest report.
    */
  def collectTrees(forest: Dataset[TreeRow]): Seq[ArchiTree] =
    forest.collect().sortBy(_.treeId).map(_.tree).toSeq

  /** Read a forest written as parquet (store snapshots, corpus caches).
    * A directory whose `tree` column is a JSON string was written before
    * trees were stored through their own type; it is refused by name
    * rather than surfacing as a cast error deep inside a later job.
    */
  def readParquet(spark: SparkSession, path: String): Dataset[TreeRow] = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    if (df.schema.exists(f => f.name == "tree" && f.dataType == StringType))
      throw new IllegalStateException(
        s"forest directory $path predates the tree encoding (its `tree` column is a JSON " +
          "string); rewrite it with this build")
    df.as[TreeRow]
  }
}
