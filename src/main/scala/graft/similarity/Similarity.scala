package graft.similarity

import graft.core._

/** One ancestor level of a subtree's context: identity, label, and the
  * entity-label set beneath it. `id` is the node's oid when set,
  * otherwise a synthetic per-node id — equality of ids means "the same
  * node instance" (reference similarity.py:148-151 oid check).
  */
final case class LevelFeature(
    id: String,
    label: String,
    isTyped: Boolean,
    entLabels: Set[String]) extends Serializable {

  /** `entLabels` sorted, computed once per instance for the metrics.
    * Not a constructor field: equality, hashing and the serialized form
    * stay those of the four fields.
    */
  @transient lazy val sortedEnts: Array[String] = entLabels.toArray.sorted
}

/** Ancestor-context feature of one candidate subtree: level 0 is the
  * subtree itself, then its parents up to MAX_SIM_CTX_DEPTH levels.
  */
final case class SubtreeFeature(levels: Vector[LevelFeature], height: Int, depth: Int)
    extends Serializable {
  def self: LevelFeature = levels.head
}

/** Decay-weighted ancestor similarity (reference similarity.py:92-168),
  * computed over precomputed features so no tree access is needed at
  * scoring time.
  */
object Similarity {

  val MaxSimCtxDepth = 5
  val Decay = 2.0

  def similarity(
      x: SubtreeFeature,
      y: SubtreeFeature,
      metric: SeqMetrics.Metric = SeqMetrics.default,
      decay: Double = Decay,
      maxDepth: Int = MaxSimCtxDepth,
  ): Double = {
    require(decay > 0, "decay must be a positive number")
    // Subtrees with disjoint entities cannot be similar (:133) — note two
    // empty sets ARE disjoint in the reference, so entity-free subtrees
    // score 0 even against themselves here (the oid check comes second).
    if (SeqMetrics.disjoint(x.self.sortedEnts, y.self.sortedEnts)) return 0.0
    // Identical node or equal typed label → perfectly similar (:138)
    if (levelEquivalent(x.self, y.self)) return 1.0

    var weightSum = 0.0
    var simSum = 0.0
    var d = 0
    val n = math.min(math.min(x.levels.size, y.levels.size), maxDepth)
    while (d < n) {
      val lx = x.levels(d); val ly = y.levels(d)
      val sim =
        if (levelEquivalent(lx, ly)) 1.0
        else metric(lx.sortedEnts, ly.sortedEnts)
      val w = math.pow(decay, -d)
      weightSum += w
      simSum += w * sim
      d += 1
    }
    math.max(0.0, math.min(1.0, simSum / weightSum))
  }

  private def levelEquivalent(a: LevelFeature, b: LevelFeature): Boolean =
    a.id == b.id || (a.isTyped && b.isTyped && a.label == b.label)

  /** Candidate predicate (similarity.py:278-290): height ≤ maxHeight,
    * not an ENT, no duplicate entity labels — i.e. the `entCount` ENT
    * nodes of the subtree carry `distinctEnts` distinct labels.
    */
  def isCandidate(height: Int, isEnt: Boolean, entCount: Int, distinctEnts: Int,
                  maxHeight: Int): Boolean =
    height <= maxHeight && !isEnt && entCount == distinctEnts

  def isCandidate(t: ArchiTree, maxHeight: Int = 5): Boolean =
    isCandidate(t.height, t.hasType(NodeType.Ent), t.entities.size, t.entityLabels.size,
      maxHeight)

  /** Extract candidate-subtree features for one tree. Keys are the
    * (treeKey, preorder-path) of each candidate; ids fall back to a
    * synthetic "<treeKey>@<nodeIndex>" so distinct nodes never compare
    * equal by accident.
    *
    * @return (pathKey, feature) per candidate subtree
    */
  /** Bottom-up node summary for the linear-time extraction below. `kids`
    * carries each node child's index within the FULL children vector
    * (leaves included) — candidate paths are positions in that vector.
    */
  private final class NodeInfo(
      val node: ArchiTree,
      val level: LevelFeature,
      val height: Int,
      val entCount: Int,
      val kids: Vector[(Int, NodeInfo)])

  def treeFeatures(
      tree: ArchiTree,
      treeKey: String,
      maxHeight: Int = 5,
  ): Vector[(String, SubtreeFeature)] = {
    // Two linear passes replacing the old positionedSubtrees + path-map +
    // per-level root-walk shape, which recomputed height/entityLabels/
    // hasDuplicateEntity (each itself a subtree walk) per node and per
    // ancestor level — O(n · subtree) per tree, the dominant per-epoch
    // cost of the rewrite loop's fit. Identical output: same pre-order
    // synthetic ids, same candidate order, same level chains.

    // pass 1 (pre-order ids on entry, bottom-up summaries on exit):
    // height, ENT count, ENT label set — dup check is entCount > set size
    var nextId = 0
    def build(t: ArchiTree): NodeInfo = {
      val idx = nextId
      nextId += 1
      val id = if (t.oid.nonEmpty) t.oid else s"$treeKey@$idx"
      val kids = Vector.newBuilder[(Int, NodeInfo)]
      var maxChild = 0
      var i = 0
      t.children.foreach { c =>
        c match {
          case Child.Leaf(_) => if (maxChild < 1) maxChild = 1
          case Child.Node(ct) =>
            val info = build(ct)
            kids += ((i, info))
            if (info.height > maxChild) maxChild = info.height
        }
        i += 1
      }
      val ks = kids.result()
      val selfEnt = t.hasType(NodeType.Ent)
      var entCount = if (selfEnt) 1 else 0
      var entLabels: Set[String] = if (selfEnt) Set(t.label.name) else Set.empty
      ks.foreach { case (_, k) =>
        entCount += k.entCount
        entLabels =
          if (entLabels.isEmpty) k.level.entLabels
          else entLabels | k.level.entLabels
      }
      new NodeInfo(t,
        LevelFeature(id, t.label.render, t.label.isTyped, entLabels),
        1 + maxChild, entCount, ks)
    }
    val root = build(tree)

    // pass 2 (pre-order): emit candidates with the self level plus up to
    // MaxSimCtxDepth−1 nearest ancestors (nearest first)
    val out = Vector.newBuilder[(String, SubtreeFeature)]
    def walk(info: NodeInfo, pathStr: String, depth: Int,
             ancestors: List[LevelFeature]): Unit = {
      val t = info.node
      if (isCandidate(info.height, t.hasType(NodeType.Ent), info.entCount,
          info.level.entLabels.size, maxHeight)) {
        val levels = (info.level :: ancestors.take(MaxSimCtxDepth - 1)).toVector
        out += (s"$treeKey/$pathStr" -> SubtreeFeature(levels, info.height, depth))
      }
      if (info.kids.nonEmpty) {
        val childAncestors = info.level :: ancestors
        info.kids.foreach { case (i, k) =>
          walk(k, if (depth == 0) i.toString else s"$pathStr.$i", depth + 1, childAncestors)
        }
      }
    }
    walk(root, "", 0, Nil)
    out.result()
  }
}
