package graft.metrics

import graft.core._
import graft.model.{Forest, NodeRow, Schema, TreeRow}
import graft.similarity.TreeClusterer
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Snapshot-vs-current forest comparison (reference
  * architxt/metrics.py:153-473): captures the schema, entity-oid set,
  * label counts, and entity clustering of a forest at construction, then
  * scores the current state against it after rewriting.
  *
  * Scale design: the oid set and the entity clustering stay DISTRIBUTED
  * (checkpointed Datasets) — coverage is a join-based jaccard and the
  * clustering scores run on the collected contingency TABLE, whose size
  * is bounded by cluster-pair variety plus the (post-rewrite, small)
  * count of entities present in only one snapshot — never by entity
  * count. Only labelCounts (bounded by label variety) and the schema
  * live on the driver.
  */
final class Snapshot(
    schemaThunk: () => Schema,
    val entityOids: Dataset[String],
    val labelCounts: Map[String, Long],
    val clustering: Dataset[(String, String)]) {
  /** Derived on first use — the coverage/AMI/completeness metrics never
    * touch it, and deriving it costs a full nodes aggregation pass.
    */
  lazy val schema: Schema = schemaThunk()
}

/** @param sourceSchema optional already-derived schema of `source` —
  *   callers that hold a memoized `Schema.fromForest` for the SAME
  *   forest (the query registry, the rewrite loop's epoch hook) thread
  *   it here so the snapshot's lazy schema does not pay a second full
  *   nodes derivation; snapshots of OTHER forests always derive fresh.
  */
final class Metrics(
    source: Dataset[TreeRow],
    tau: Double = 0.7,
    decay: Double = 2.0,
    metricName: String = "jaro",
    sourceSchema: Option[() => Schema] = None) {

  @inline private def timed[A](label: String)(body: => A): A =
    graft.util.Spark.timed("metrics-profile", label)(body)

  private def snapshot(forest: Dataset[TreeRow]): Snapshot = {
    import forest.sparkSession.implicits._
    val oids = timed("oids") { forest.flatMap { case TreeRow(treeId, tree) =>
      tree.positionedSubtrees.collect {
        case (path, t) if t.hasType(NodeType.Ent) =>
          if (t.oid.nonEmpty) t.oid else s"$treeId/${path.mkString(".")}"
      }
    }.distinct().localCheckpoint(true) }
    val labels = timed("labelCounts") { forest.flatMap { row =>
      row.tree.subtrees.map(_.label.render)
    }.groupByKey(identity).count().collect().toMap }
    val clustering = timed("entityLabels") {
      TreeClusterer.entityLabels(forest, tau, metricName, decay)
    }
    val schemaThunk = sourceSchema match {
      case Some(thunk) if forest eq source => thunk
      case _ => () => Schema.fromForest(Forest.toNodesDF(forest))
    }
    new Snapshot(schemaThunk, oids, labels, clustering)
  }

  val origin: Snapshot = snapshot(source)
  private var currentSnapshot: Snapshot = origin
  private var contingencyCache: Option[Map[(String, String), Long]] = None

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

  /** Jaccard of entity oid sets (metrics.py:226-238), as a distributed
    * join: |A∩B| / |A∪B|, 1.0 when both are empty.
    */
  def coverage: Double = timed("coverage") {
    // ONE action: the full-outer join yields |A∪B| rows (both sides are
    // distinct oid sets), and both-present rows are the intersection —
    // the former union-distinct count + inner-join count pair re-ran
    // the two oid scans twice for the same two numbers
    val a = origin.entityOids.toDF("oid").withColumn("ina", lit(1))
    val b = currentSnapshot.entityOids.toDF("oid").withColumn("inb", lit(1))
    val r = a.join(b, Seq("oid"), "full_outer")
      .agg(count(lit(1)).as("u"),
        count(when(col("ina").isNotNull && col("inb").isNotNull, 1)).as("i"))
      .head()
    val union = r.getLong(0)
    if (union == 0) return 1.0
    r.getLong(1).toDouble / union
  }

  /** Contingency table between the two clusterings, aligned on entity
    * oid (metrics.py:216-224). Entities present in only one snapshot are
    * singleton clusters on the missing side — represented with synthetic
    * per-entity labels (NUL-prefixed, cannot collide with real cluster
    * names). Matched cells come back grouped; only the table reaches the
    * driver.
    */
  private def contingencyTable: Map[(String, String), Long] = timed("contingency") {
    val a = origin.clustering.toDF("oid", "a")
    val b = currentSnapshot.clustering.toDF("oid", "b")
    // ONE aggregation over the full-outer join: a null label cell IS
    // the one-sided case, so grouping on (a, b) directly yields the
    // matched cells and the per-label missing-side counts in a single
    // action — the former persist + three filtered collects re-read
    // the joined frame three times for the same rows
    val cells = a.join(b, Seq("oid"), "full_outer")
      .groupBy("a", "b").count().collect()
    val matched = cells.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    // per-label counts of entities missing on the other side; each such
    // entity is its own singleton cluster there
    val singleA = cells.iterator.filter(r => !r.isNullAt(0) && r.isNullAt(1)).flatMap { r =>
      (0L until r.getLong(2)).map(i => (r.getString(0), s"\u0000a:${r.getString(0)}:$i") -> 1L)
    }
    val singleB = cells.iterator.filter(r => r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
      (0L until r.getLong(2)).map(i => (s"\u0000b:${r.getString(1)}:$i", r.getString(1)) -> 1L)
    }
    (matched ++ singleA ++ singleB).toMap
  }

  // AMI and completeness share the table; build it once per snapshot pair
  private def contingency(): Map[(String, String), Long] = {
    if (contingencyCache.isEmpty) contingencyCache = Some(contingencyTable)
    contingencyCache.get
  }

  /** AMI between origin and current entity clusterings (metrics.py:240-258). */
  def clusterAmi: Double =
    ClusterComparison.adjustedMutualInfoFromContingency(contingency())

  /** Completeness between origin and current clusterings (metrics.py:260-277). */
  def clusterCompleteness: Double =
    ClusterComparison.completenessFromContingency(contingency())

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
  def ratioProductions: Double =
    if (numProductionsOrigin == 0) 0 else numProductions.toDouble / numProductionsOrigin
  def groupOverlap: Double = currentSnapshot.schema.groupOverlap
  def groupBalanceScore: Double = currentSnapshot.schema.groupBalanceScore
}
