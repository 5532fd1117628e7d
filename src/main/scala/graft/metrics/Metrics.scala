package graft.metrics

import graft.core._
import graft.model.{Forest, NodeRow, Schema, TreeRow, Trees}
import graft.rewrite.Rewrite
import graft.similarity.TreeClusterer
import org.apache.spark.sql.{Dataset, SparkSession}

/** One partition's share of a [[Snapshot]]: its distinct entity oids,
  * its label counts and its entity oid → cluster pairs (one per oid).
  * Public: Spark's generated SafeProjection cannot access a private
  * class and would fall back to interpreted deserialization.
  */
final case class SnapshotPart(
    oids: Seq[String],
    labelCounts: Seq[(String, Long)],
    clusters: Seq[(String, String)])

/** Snapshot-vs-current forest comparison (reference
  * architxt/metrics.py:153-473): captures the schema, entity-oid set,
  * label counts, and entity clustering of a forest at construction, then
  * scores the current state against it after rewriting.
  *
  * Scale design: a snapshot reads its forest through `Trees.of`: a small
  * one on the driver (no Spark job for a local relation), a larger one
  * in two jobs after its count, the entity-parent fit's aggregate and
  * one fused pass. Each part returns its distinct entity oids, label
  * counts and (oid, cluster) pairs. The driver merges
  * them and keeps, per snapshot, the oid set and the oid → cluster map;
  * coverage and the contingency table are set and map operations on
  * them, with no Spark job. That is one string per entity (twice, with
  * its cluster name) per snapshot; after a rewrite most entities are
  * present in only one snapshot (on the typed sf0.1 customers 270,000
  * origin keys meet 190,740 current ones, of which 40,740 are shared),
  * and the [[Contingency]] counts those per label rather than holding a
  * table entry for each. The label counts (bounded by label variety) and
  * the schema live on the driver too.
  */
final class Snapshot(
    schemaThunk: () => Schema,
    private[metrics] val oids: Set[String],
    val labelCounts: Map[String, Long],
    val clustering: Map[String, String],
    spark: SparkSession) {
  /** Derived on first use — the coverage/AMI/completeness metrics never
    * touch it, and deriving it costs a full nodes aggregation pass.
    */
  lazy val schema: Schema = schemaThunk()

  /** The entity oids as a Dataset, built on first use from the driver
    * set.
    */
  lazy val entityOids: Dataset[String] = {
    import spark.implicits._
    oids.toSeq.toDS()
  }
}

/** @param sourceSchema optional already-derived schema of `source` —
  *   callers that hold a memoized `Schema.fromForest` for the SAME
  *   forest (the query registry, the rewrite loop's epoch hook) thread
  *   it here so the snapshot's lazy schema does not pay a second full
  *   nodes derivation; snapshots of OTHER forests always derive fresh.
  * @param localMaxTrees the snapshots' driver-path bound (0: Dataset path)
  */
final class Metrics private[graft] (source: Dataset[TreeRow], tau: Double, decay: Double,
    metricName: String, sourceSchema: Option[() => Schema], localMaxTrees: Long) {

  def this(source: Dataset[TreeRow], tau: Double = 0.7, decay: Double = 2.0, metricName: String = "jaro",
      sourceSchema: Option[() => Schema] = None) =
    this(source, tau, decay, metricName, sourceSchema, Rewrite.LocalMaxTrees)

  private def snapshot(forest: Dataset[TreeRow]): Snapshot = {
    import forest.sparkSession.implicits._
    val (trees, _) = Trees.of(forest, localMaxTrees)
    val model = TreeClusterer.entityParentModel(trees, tau, metricName, decay)
    val parts = try trees.collectPartitions { it =>
      val oids = scala.collection.mutable.HashSet.empty[String]
      val labels = scala.collection.mutable.HashMap.empty[String, Long]
      val clusters = new TreeClusterer.EntityLabels
      it.foreach { case TreeRow(treeId, tree) =>
        tree.positionedSubtrees.foreach { case (path, t) =>
          labels.updateWith(t.label.render)(n => Some(n.getOrElse(0L) + 1))
          if (t.hasType(NodeType.Ent))
            oids += (if (t.oid.nonEmpty) t.oid else s"$treeId/${path.mkString(".")}")
        }
        clusters.addTree(treeId, tree, model)
      }
      Iterator(SnapshotPart(oids.toSeq, labels.toSeq, clusters.labels.toSeq))
    } finally trees.release()
    val clustering = new TreeClusterer.EntityLabels
    parts.foreach(_.clusters.foreach { case (oid, c) => clustering.add(oid, c) })
    val schemaThunk = sourceSchema match {
      case Some(thunk) if forest eq source => thunk
      case _ => () => Schema.fromForest(Forest.toNodesDF(forest))
    }
    new Snapshot(schemaThunk,
      parts.iterator.flatMap(_.oids).toSet,
      parts.flatMap(_.labelCounts).groupMapReduce(_._1)(_._2)(_ + _),
      clustering.labels.toMap,
      forest.sparkSession)
  }

  val origin: Snapshot = snapshot(source)
  private var currentSnapshot: Snapshot = origin
  private var contingencyCache: Option[Contingency] = None

  /** Re-snapshot the current state. Snapshots are pure functions of an
    * immutable Dataset, so updating with the very reference that was
    * snapshotted at construction reuses the origin snapshot instead of
    * paying a second clustering fit (the no-op-rewrite / self-compare
    * case).
    */
  def update(forest: Dataset[TreeRow]): Unit = {
    currentSnapshot = if (forest eq source) origin else snapshot(forest)
    contingencyCache = None
  }
  def current: Snapshot = currentSnapshot

  /** Jaccard of entity oid sets (metrics.py:226-238): |A∩B| / |A∪B|,
    * 1.0 when both are empty.
    */
  def coverage: Double = {
    val (a, b) = (origin.oids, currentSnapshot.oids)
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    val shared = small.count(large.contains)
    val union = a.size + b.size - shared
    if (union == 0) 1.0 else shared.toDouble / union
  }

  /** Contingency table between the two clusterings, aligned on entity
    * oid (metrics.py:216-224). An entity present in only one snapshot is
    * a singleton cluster on the missing side; it is counted per label on
    * the present side.
    */
  private def contingencyTable: Contingency = {
    val (a, b) = (origin.clustering, currentSnapshot.clustering)
    val matched = a.iterator.flatMap { case (oid, ca) => b.get(oid).map(cb => (ca, cb)) }
      .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    def missing(from: Map[String, String], other: Map[String, String]): Map[String, Long] =
      from.iterator.collect { case (oid, c) if !other.contains(oid) => c }
        .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    Contingency(matched, missing(a, b), missing(b, a))
  }

  // AMI and completeness share the table; build it once per snapshot pair
  private def contingency(): Contingency = {
    if (contingencyCache.isEmpty) contingencyCache = Some(contingencyTable)
    contingencyCache.get
  }

  /** AMI between origin and current entity clusterings (metrics.py:240-258). */
  def clusterAmi: Double =
    ClusterComparison.adjustedMutualInfo(contingency())

  /** Completeness between origin and current clusterings (metrics.py:260-277). */
  def clusterCompleteness: Double =
    ClusterComparison.completeness(contingency())

  /** Mean redundancy over the current schema's group datasets
    * (metrics.py:279-302).
    */
  def redundancy(nodes: Dataset[NodeRow], tau: Double = 1.0): Double = {
    val groups = currentSnapshot.schema.groups.toSeq.sortBy(_.name)
    if (groups.isEmpty) return 0.0
    val scores = groups.map(g => FdMetrics.redundancyScore(Schema.extractDataset(nodes, g.name), tau))
    scores.sum / scores.size
  }

  def numNodes: Long = currentSnapshot.labelCounts.values.sum
  def numNonTerminal: Int = currentSnapshot.labelCounts.size
  def numUnlabeledNodes: Long = currentSnapshot.labelCounts.collect {
    case (l, c) if !Label.parse(l).isTyped => c
  }.sum
  def ratioUnlabeledNodes: Double =
    if (numNodes == 0) 0 else numUnlabeledNodes.toDouble / numNodes

  def numType(t: NodeType): Long = currentSnapshot.labelCounts.collect {
    case (l, c) if Label.parse(l).hasType(t) => c
  }.sum
  def numDistinctType(t: NodeType): Int =
    currentSnapshot.labelCounts.keys.count(l => Label.parse(l).hasType(t))
  def ratioType(t: NodeType): Double = {
    val d = numDistinctType(t)
    if (d == 0) 0 else numType(t).toDouble / d
  }

  def numProductions: Int = currentSnapshot.schema.productions.size
  def numProductionsOrigin: Int = origin.schema.productions.size
  def groupOverlap: Double = currentSnapshot.schema.groupOverlap
  def groupBalanceScore: Double = currentSnapshot.schema.groupBalanceScore
}
