package graft.similarity

import graft.core._
import graft.model.{TreeRow, Trees}
import org.apache.spark.sql.Dataset
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Serializable feature rows (Set → sorted Seq for the product encoder). */
final case class LevelRow(id: String, label: String, isTyped: Boolean, ents: Seq[String]) {
  def toFeature: LevelFeature = LevelFeature(id, label, isTyped, ents.toSet)
}
final case class CandRow(
    key: String,
    treeId: Long,
    height: Int,
    depth: Int,
    labelName: String,
    labelTyped: Boolean,
    levels: Seq[LevelRow]) {
  def toFeature: SubtreeFeature =
    SubtreeFeature(levels.map(_.toFeature).toVector, height, depth)
  def structKey: StructKey =
    StructKey(height, depth, levels.map(l => StructLevel(l.label, l.isTyped, l.ents)))
}

/** One clustered subtree: cluster name + membership weight. */
final case class Assignment(key: String, treeId: Long, cluster: String, prob: Double)

/** Identity-free canonical form of a subtree feature — the grain of the
  * fit's one aggregate pass (level ids excluded, ent sets sorted).
  * Two subtrees with equal StructKeys score 1.0 and always co-cluster,
  * so "my StructKey is one of the cluster's" is an exact membership
  * test, and the set of distinct StructKeys per cluster is bounded by
  * schema variety — broadcastable at any data size (unlike the raw
  * member-id set, which grows with the data).
  */
final case class StructLevel(label: String, isTyped: Boolean, ents: Seq[String])
final case class StructKey(height: Int, depth: Int, levels: Seq[StructLevel]) {
  override def toString: String = s"StructKey(h=$height,d=$depth,${levels.size} levels)"
}
object StructKey {
  def of(f: SubtreeFeature): StructKey =
    StructKey(f.height, f.depth,
      f.levels.map(l => StructLevel(l.label, l.isTyped,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(l.sortedEnts))))
}

/** Broadcastable cluster summary for get_equiv_of scoring
  * (reference similarity.py:370-432): members sorted by probability
  * descending, capped at `keep` features per cluster; membership is
  * testable via the distinct structural features (`memberFeats`).
  */
final case class ClusterSummary(
    name: String,
    support: Int,
    memberFeats: Set[StructKey],
    members: Vector[(SubtreeFeature, Double)],
    avgEntities: Double,
    avgDepth: Double) extends Serializable

/** The fitted model. `membership` maps every clustered StructKey to its
  * (cluster, prob) pairs — one pair, except in schema-only mode where a
  * self label shared across template components joins each — so a
  * candidate's assignment is a lookup, never a join.
  */
final class ClusterModel(
    val clusters: Map[String, ClusterSummary],
    val tau: Double,
    val decay: Double,
    metricName: String,
    val membership: Map[StructKey, Seq[(String, Double)]] = Map.empty) extends Serializable {

  @transient private lazy val metric = SeqMetrics.byName(metricName)

  // --- getEquivOf memo --------------------------------------------------
  // The score depends on the query feature f only through (a) its
  // StructKey — labels, typed flags, sorted entity sets, height, depth —
  // and (b) level-id EQUALITY against a kept member's level id (the
  // reference's oid check, similarity.py:148-151). When none of f's ids
  // occurs among the model's member ids, (b) can never fire and the
  // result is a pure function of (StructKey, topK) — cacheable. The ids
  // that CAN match are only those of the kept top-K member features
  // (the similarity paths see no others), a set bounded by
  // clusters × keepPerCluster × levels. One epoch's trees are
  // structurally repetitive (the fit collapse measures hundredfold
  // rep ratios), so op trials across structural twins re-ask the same
  // keys thousands of times; the cache lives inside the (per-epoch)
  // broadcast instance and dies with it. Size-capped as a guard against
  // pathological shape variety — past the cap lookups still hit, new
  // shapes just stop being added.
  @transient private lazy val memberIds: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    clusters.valuesIterator.foreach(_.members.foreach(_._1.levels.foreach(l => s.add(l.id))))
    s
  }
  @transient private lazy val equivCache =
    new java.util.concurrent.ConcurrentHashMap[(StructKey, Int), Option[String]]()
  private val EquivCacheCap = 100000

  def support(name: String): Int = clusters.get(name).map(_.support).getOrElse(0)

  // flat (support, member self ent-set, its sorted rendering) index for
  // entityGroupsAbove — iterated once per miss instead of re-walking the
  // cluster map / re-sorting each member set per query
  @transient private lazy val memberEnts: Array[(Int, Set[String], Seq[String])] =
    clusters.valuesIterator.flatMap(c =>
      c.members.iterator.map(m =>
        (c.support, m._1.self.entLabels, m._1.self.entLabels.toSeq.sorted))).toArray
  @transient private lazy val entityGroupsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Set[String]), Set[Seq[String]]]()

  /** Entity-label sets of members in clusters with support strictly above
    * `support` that intersect `entityLabels`, as sorted label seqs — the
    * FindSubGroups search-space prune (groups.py:92-130). Memoized: the
    * op trials re-ask this for every candidate node of every structural
    * twin in an epoch.
    */
  def entityGroupsAbove(support: Int, entityLabels: Set[String]): Set[Seq[String]] = {
    val key = (support, entityLabels)
    val hit = entityGroupsCache.get(key)
    if (hit != null) return hit
    val r = memberEnts.iterator
      .filter { case (s, ls, _) => s > support && ls.exists(entityLabels.contains) }
      .map(_._3)
      .toSet
    if (entityGroupsCache.size < EquivCacheCap) entityGroupsCache.put(key, r)
    r
  }

  /** Mirror of TreeClusterer.get_equiv_of: membership by id; else early
    * accept when similarity to the cluster center ≥ tau; else
    * probability-weighted mean similarity against the top_k members in
    * center-similarity order.
    */
  def getEquivOf(f: SubtreeFeature, topK: Int = 20): Option[String] = {
    val sk = StructKey.of(f)
    var idFree = true
    f.levels.foreach(l => if (memberIds.contains(l.id)) idFree = false)
    if (!idFree) return computeEquiv(f, sk, topK)
    val key = (sk, topK)
    val hit = equivCache.get(key)
    if (hit != null) hit
    else {
      val r = computeEquiv(f, sk, topK)
      if (equivCache.size < EquivCacheCap) equivCache.put(key, r)
      r
    }
  }

  private def computeEquiv(f: SubtreeFeature, sk: StructKey, topK: Int): Option[String] = {
    val centerSims = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    for ((name, c) <- clusters) {
      if (c.memberFeats.contains(sk)) return Some(name)
      c.members.headOption.foreach { case (center, _) =>
        val sim = Similarity.similarity(f, center, metric, decay)
        if (sim >= tau) return Some(name)
        centerSims += name -> sim
      }
    }
    centerSims.sortBy(-_._2).foreach { case (name, _) =>
      val c = clusters(name)
      var simSum = 0.0
      var wSum = 0.0
      c.members.take(topK).foreach { case (m, p) =>
        simSum += Similarity.similarity(f, m, metric, decay) * p
        wSum += p
      }
      if (wSum > 0 && simSum / wSum >= tau) return Some(name)
    }
    None
  }
}

/** Spark-native replacement of the reference's O(n²)+HDBSCAN clusterer
  * (similarity.py:200-368), per SURVEY §2.5:
  *
  *   1. candidate subtrees (height ≤ 5, non-ENT, no duplicate entities)
  *      with precomputed ancestor features, aggregated map-side in ONE
  *      pass to per-StructKey partials (multiplicity, min-key member)
  *      merged on the driver;
  *   2. pair generation by BLOCKING on shared entity label (the
  *      reference's own shortcut proves disjoint pairs score 0), plus the
  *      height/depth-gap prune (similarity.py:456-461), over one
  *      representative per structural collapse key;
  *   3. similarity scoring of surviving pairs only; keep ≥ tau;
  *   4. clusters = connected components of the tau-graph;
  *   5. membership "probability" = mean incident-edge similarity
  *      (replaces HDBSCAN's soft membership), clusters named
  *      `<modalTypedLabel>_<i>` like the reference (:341-368);
  *   6. a second small pass fetches the top-K member features of the
  *      keys that can reach each cluster's top K.
  *
  * A candidate's cluster and probability are a function of its
  * StructKey, so the assignments are a lazy per-candidate lookup.
  * The public entry points (`candidates`, `fit`) take the forest as
  * `Dataset[TreeRow]` and walk each row's tree in place.
  * This reproduces the role (equivalence classes of similar subtrees) —
  * not HDBSCAN's exact labels; quality is validated by AMI in tests.
  */
object TreeClusterer {

  final case class Result(assignments: Dataset[Assignment], model: ClusterModel)

  def candidates(
      forest: Dataset[TreeRow],
      maxHeight: Int = 5,
      entityParentsOnly: Boolean = false,
  ): Dataset[CandRow] = {
    import forest.sparkSession.implicits._
    forest.flatMap(row => candidateRows(row.treeId, row.tree, maxHeight, entityParentsOnly))
  }

  private def candidateRows(
      treeId: Long,
      tree: ArchiTree,
      maxHeight: Int,
      entityParentsOnly: Boolean,
  ): Iterator[CandRow] = {
    val feats = Similarity.treeFeatures(tree, treeId.toString, maxHeight)
    val kept =
      if (!entityParentsOnly) feats
      else {
        // entity_labels mode (similarity.py:539-545): only subtrees
        // with a direct ENT child participate
        val parents = tree.positionedSubtrees.collect {
          case (path, t) if !t.hasType(NodeType.Ent) && t.hasEntityChild =>
            s"$treeId/${path.mkString(".")}"
        }.toSet
        feats.filter { case (k, _) => parents.contains(k) }
      }
    kept.iterator.map { case (key, f) =>
      CandRow(
        key, treeId, f.height, f.depth,
        // label NAME for cluster naming; typed flag filters untyped
        keyLabelName(f.self.label), f.self.isTyped,
        f.levels.map(l => LevelRow(l.id, l.label, l.isTyped, l.entLabels.toSeq.sorted)))
    }
  }

  private def keyLabelName(rendered: String): String = Label.parse(rendered).name

  def fit(
      forest: Dataset[TreeRow],
      tau: Double = 0.7,
      decay: Double = Similarity.Decay,
      metricName: String = "jaro",
      maxHeight: Int = 5,
      minClusterSize: Int = 2,
      keepPerCluster: Int = 20,
      entityParentsOnly: Boolean = false,
      schemaOnly: Boolean = false,
      buildModel: Boolean = true,
  ): Result = {
    import forest.sparkSession.implicits._
    val model = fitModel(Trees(forest), tau, decay, metricName, maxHeight, minClusterSize,
      keepPerCluster, entityParentsOnly, schemaOnly, buildModel)
    val membership = model.membership
    Result(candidates(forest, maxHeight, entityParentsOnly).flatMap(assign(_, membership)), model)
  }

  /** The fit's model over either [[Trees]] instance: two passes over the
    * trees (the aggregate and the top-K fetch), everything else on the
    * driver.
    */
  private[graft] def fitModel(
      trees: Trees,
      tau: Double,
      decay: Double,
      metricName: String,
      maxHeight: Int = 5,
      minClusterSize: Int = 2,
      keepPerCluster: Int = 20,
      entityParentsOnly: Boolean = false,
      schemaOnly: Boolean = false,
      buildModel: Boolean = true,
  ): ClusterModel = {
    require(tau >= 0 && tau <= 1, "tau must be between 0 and 1")
    import trees.spark.implicits._
    val cands: Iterator[TreeRow] => Iterator[CandRow] =
      _.flatMap(r => candidateRows(r.treeId, r.tree, maxHeight, entityParentsOnly))

    // pass 1: ONE map-side aggregate at the StructKey grain, merged on
    // the driver. Every later decision — tau-graph, components, naming,
    // cluster stats — is a function of these partials: a member's
    // cluster and probability depend only on its key.
    val partials: Map[StructKey, KeyPartial] =
      mergePartials(trees.collectPartitions(it =>
        mergePartials(cands(it).map(KeyPartial(1, _))).valuesIterator).iterator)
    def mult(k: StructKey): Long = partials(k).mult

    // (key, component, probability) per membership. A key has exactly
    // one in instance mode; in schema-only mode a self label shared by
    // template subtrees of different components joins each of them
    val members: Seq[(StructKey, String, Double)] =
      if (schemaOnly)
        schemaOnlyMembers(graft.model.Schema.templateOf(trees).toTree, partials.keys,
          tau, decay, metricName, maxHeight, minClusterSize)
      else instanceMembers(partials, tau, decay, metricName, maxHeight)

    // deterministic naming: components by (size desc, min member key),
    // suffixed onto the modal typed self-label name (most members, then
    // the larger name)
    val byComp: Map[String, Seq[(StructKey, Double)]] =
      members.groupMap(_._2) { case (k, _, prob) => (k, prob) }
    val compStats = byComp.toSeq
      .map { case (comp, ms) =>
        (comp, ms.map(m => mult(m._1)).sum, ms.map(m => partials(m._1).cand.key).min)
      }
      .filter(_._2 >= minClusterSize)
      .sortBy { case (comp, size, minNode) => (-size, minNode) }
    val modal: Map[String, String] = byComp.flatMap { case (comp, ms) =>
      val typed = ms.map(_._1).filter(_.levels.head.isTyped)
      if (typed.isEmpty) None
      else Some(comp -> typed.groupMapReduce(k => partials(k).cand.labelName)(mult)(_ + _)
        .maxBy { case (name, n) => (n, name) }._1)
    }
    val naming: Map[String, String] = compStats.zipWithIndex.map { case ((comp, _, _), i) =>
      val name = modal.get(comp).map(m => s"${m}_$i").getOrElse(i.toString)
      comp -> name
    }.toMap
    val membership: Map[StructKey, Seq[(String, Double)]] = members
      .collect { case (k, comp, prob) if naming.contains(comp) => (k, (naming(comp), prob)) }
      .groupMap(_._1)(_._2)

    // --- broadcastable model: the driver holds every member key's
    // multiplicity, so support / avgEntities / avgDepth / the distinct
    // StructKeys take no Spark job (exact long sums, ONE double division
    // each); only the top-K member features take one more small pass.
    // Callers that consume only the assignments (entity_labels) pass
    // buildModel = false and skip that pass.
    val summaries: Map[String, ClusterSummary] =
      if (!buildModel) Map.empty
      else {
        val top = topMembers(trees, cands, partials, byComp, naming, keepPerCluster)
        naming.map { case (comp, name) =>
          val ks = byComp(comp).map(_._1)
          val support = ks.map(mult).sum
          val sumEnts = ks.map(k => mult(k) * k.levels.head.ents.size).sum
          val sumDepth = ks.map(k => mult(k) * k.depth).sum
          name -> ClusterSummary(
            name, support.toInt, ks.toSet, top.getOrElse(comp, Vector.empty),
            sumEnts.toDouble / support, sumDepth.toDouble / support)
        }
      }

    new ClusterModel(summaries, tau, decay, metricName, membership)
  }

  /** Map-side partial of the fit's aggregate pass: one StructKey's
    * multiplicity and its minimum-key candidate. Public: Spark's
    * generated SafeProjection cannot access a private class and would
    * fall back to interpreted deserialization (after a logged compile
    * failure) on every collect.
    */
  final case class KeyPartial(mult: Long, cand: CandRow)

  /** Merge partials by StructKey: multiplicities add, the smaller
    * candidate key wins (keys are ASCII, so String order is Spark's).
    */
  private def mergePartials(ps: Iterator[KeyPartial]): Map[StructKey, KeyPartial] = {
    val acc = scala.collection.mutable.HashMap.empty[StructKey, KeyPartial]
    ps.foreach { p =>
      acc.updateWith(p.cand.structKey) {
        case None    => Some(p)
        case Some(q) =>
          Some(KeyPartial(p.mult + q.mult, if (p.cand.key < q.cand.key) p.cand else q.cand))
      }
    }
    acc.toMap
  }

  private def assign(
      c: CandRow,
      membership: Map[StructKey, Seq[(String, Double)]]): Iterator[Assignment] =
    membership.getOrElse(c.structKey, Nil).iterator.map { case (cluster, prob) =>
      Assignment(c.key, c.treeId, cluster, prob)
    }

  /** The assignments of one tree's candidate subtrees under a fitted
    * model — exactly that tree's rows of `Result.assignments`, computed
    * in place so per-tree consumers (find_groups, entity labelling) need
    * no join against the assignment set. `maxHeight` and
    * `entityParentsOnly` must match the fit's.
    */
  private[graft] def treeAssignments(
      treeId: Long,
      tree: ArchiTree,
      model: ClusterModel,
      maxHeight: Int = 5,
      entityParentsOnly: Boolean = false,
  ): Iterator[Assignment] =
    candidateRows(treeId, tree, maxHeight, entityParentsOnly).flatMap(assign(_, model.membership))

  /** Top-`keep` member features per named component by (prob desc, key
    * asc). Probability is constant per StructKey, so the driver knows
    * which keys can reach a component's top K — those with fewer than K
    * members of strictly higher probability — and one pass keeps only
    * the K smallest-key candidates of those keys per partition.
    */
  private def topMembers(
      trees: Trees,
      cands: Iterator[TreeRow] => Iterator[CandRow],
      partials: Map[StructKey, KeyPartial],
      byComp: Map[String, Seq[(StructKey, Double)]],
      naming: Map[String, String],
      keep: Int,
  ): Map[String, Vector[(SubtreeFeature, Double)]] = {
    import trees.spark.implicits._
    val neededByComp: Map[String, Seq[(StructKey, Double)]] = naming.keys.map { comp =>
      var ahead = 0L
      comp -> byComp(comp).groupBy(_._2).toSeq.sortBy(-_._1).flatMap { case (_, tier) =>
        val in = if (ahead < keep) tier else Nil
        ahead += tier.map(m => partials(m._1).mult).sum
        in
      }
    }.toMap
    val needed: Set[StructKey] = neededByComp.valuesIterator.flatMap(_.map(_._1)).toSet
    if (needed.isEmpty) return Map.empty
    val fetched: Map[StructKey, Seq[CandRow]] = trees.collectPartitions { it =>
      val kept = scala.collection.mutable.HashMap.empty[StructKey, java.util.TreeMap[String, CandRow]]
      cands(it).foreach { c =>
        val k = c.structKey
        if (needed.contains(k)) {
          val m = kept.getOrElseUpdate(k, new java.util.TreeMap[String, CandRow]())
          m.put(c.key, c)
          if (m.size > keep) m.pollLastEntry()
        }
      }
      kept.valuesIterator.flatMap(_.values.asScala)
    }.groupBy(_.structKey)
    neededByComp.map { case (comp, ks) =>
      comp -> ks
        .flatMap { case (k, prob) => fetched.getOrElse(k, Nil).map(c => (c, prob)) }
        .sortBy { case (c, prob) => (-prob, c.key) }
        .take(keep)
        .map { case (c, prob) => (c.toFeature, prob) }
        .toVector
    }
  }

  /** schema_only mode (similarity.py:230,296-339): cluster the SCHEMA
    * template's subtrees driver-side — the template is bounded by schema
    * variety, never data size — then map every instance key to its
    * self-label's component. Membership probability is 1.0, as in the
    * reference. Components with fewer than minClusterSize schema
    * subtrees are noise (the reference's HDBSCAN drops them before the
    * label expansion).
    */
  private def schemaOnlyMembers(
      template: ArchiTree,
      keys: Iterable[StructKey],
      tau: Double,
      decay: Double,
      metricName: String,
      maxHeight: Int,
      minClusterSize: Int,
  ): Seq[(StructKey, String, Double)] = {
    val metric = SeqMetrics.byName(metricName)
    val schemaFeats = Similarity.treeFeatures(template, "schema", maxHeight)
      .toSeq.sortBy(_._1)

    // union-find over the O(k²) template pairs
    val parent = schemaFeats.indices.toArray
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for {
      i <- schemaFeats.indices
      j <- (i + 1) until schemaFeats.size
      if Similarity.similarity(schemaFeats(i)._2, schemaFeats(j)._2, metric, decay) >= tau
    } {
      val (ra, rb) = (find(i), find(j))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labelComps: Map[String, Seq[String]] = schemaFeats.indices
      .groupBy(find)
      .filter(_._2.size >= math.max(minClusterSize, 2))
      .toSeq
      .flatMap { case (root, members) =>
        members.map(i => schemaFeats(i)._2.self.label -> s"schema/$root")
      }.distinct
      .groupMap(_._1)(_._2)

    keys.toSeq.flatMap(k =>
      labelComps.getOrElse(k.levels.head.label, Nil).map(comp => (k, comp, 1.0)))
  }

  /** Instance-mode membership: representative collapse → blocking →
    * tau-edges → connected components → incident-edge probabilities.
    */
  private def instanceMembers(
      partials: Map[StructKey, KeyPartial],
      tau: Double,
      decay: Double,
      metricName: String,
      maxHeight: Int,
  ): Seq[(StructKey, String, Double)] = {
    // --- collapse identical structural features ---
    // The similarity metric sees ONLY the ancestor label-sets (never
    // leaf values), so two subtrees with identical (levels, height,
    // depth) score exactly 1.0 and always co-cluster. Collapsing them to
    // one representative (with a multiplicity) BEFORE pair scoring is
    // therefore result-preserving, and it is the 100×-scale keystone:
    // a forest of N structurally-identical trees otherwise degenerates
    // the blocking into N²/2 pairs, while the distinct-structure count
    // is bounded by schema variety, not data size. UNTYPED labels are
    // blanked: levelEquivalent only consults labels when BOTH sides are
    // typed, and the fallback metric sees entity-label sets only — so
    // an untyped label can never affect a similarity score, and keeping
    // it in the key shatters the collapse whenever an op mints
    // per-tree-unique UNDEF names (evaluateSubgroup's undefName rename
    // turned 150k structurally identical trees into 24k distinct reps at
    // the 10× canary). Entity-free subtrees are excluded up front: the
    // metric scores them 0 even against themselves (Similarity
    // shortcut), so they can never cluster — seeding their twins would
    // manufacture clusters the metric forbids. The representative is
    // the minimum-key member; its level ids are the ones scored.
    val byRep: Seq[(RepRow, Seq[StructKey])] = partials.keys.toSeq
      .filter(_.levels.head.ents.nonEmpty)
      .groupBy(k => k.copy(levels = k.levels.map(l => if (l.isTyped) l else l.copy(label = ""))))
      .valuesIterator.map { ks =>
        val c = ks.map(partials(_).cand).minBy(_.key)
        (RepRow(c.key, ks.map(partials(_).mult).sum, c.height, c.depth, c.levels), ks)
      }.toSeq
    val reps = byRep.map(_._1).toArray.sortBy(_.key)
    val (labels, incident) = localTauGraph(reps, tau, decay, metricName, maxHeight)

    // --- every key of a representative shares its component and
    // probability (no incident weight = not a member) ---
    byRep.flatMap { case (rep, ks) =>
      incident.get(rep.key).toSeq.flatMap(prob => ks.map(k => (k, labels(rep.key), prob)))
    }
  }

  /** One structural representative of the tau-graph. */
  private final case class RepRow(
      key: String, mult: Long, height: Int, depth: Int, levels: Seq[LevelRow])

  /** Driver-side tau-graph over the key-sorted representative set,
    * which is bounded by schema variety, not data size: blocking on a
    * shared self-level entity label, the reference height/depth-gap
    * prune (similarity.py:456-461), min-key component labels and
    * multiplicity-weighted incident probabilities. No Spark job.
    * Returns (rep key → component key, rep key → probability).
    */
  private def localTauGraph(
      rows: Array[RepRow],
      tau: Double,
      decay: Double,
      metricName: String,
      maxHeight: Int,
  ): (Map[String, String], Map[String, Double]) = {
    val n = rows.length
    val feats = rows.map(r => SubtreeFeature(r.levels.map(_.toFeature).toVector, 0, 0))
    val metric = SeqMetrics.byName(metricName)

    // blocking on the self level's entity labels; rows are key-sorted,
    // so index order is key order
    val byEnt = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    for (i <- 0 until n; e <- rows(i).levels.head.ents)
      byEnt.getOrElseUpdate(e, scala.collection.mutable.ArrayBuffer.empty) += i

    // union-find: roots always merge max-under-min, so every root stays
    // the minimum index (= minimum key) of its component. Every
    // representative is a node: a feature with multiplicity ≥ 2 is a
    // complete sim-1.0 subgraph in the uncollapsed graph and survives
    // as a component even with no cross-feature edge
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    // mean incident kept-edge similarity over the UNCOLLAPSED graph: a
    // node of feature F has (m_F − 1) implicit sim-1.0 edges to its
    // structural twins, and its edge to a node of feature G exists once
    // per twin of G — prob = ((m_F−1) + Σ_G m_G·sim_FG) / ((m_F−1) + Σ_G m_G)
    val num = Array.tabulate(n)(i => (rows(i).mult - 1).toDouble)
    val den = Array.tabulate(n)(i => (rows(i).mult - 1).toDouble)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    for {
      bucket <- byEnt.valuesIterator
      bi <- 0 until bucket.length
      bj <- (bi + 1) until bucket.length
    } {
      val i = bucket(bi)
      val j = bucket(bj)
      if (seen.add((i.toLong << 32) | j) &&
        math.min(math.abs(rows(i).height - rows(j).height),
          math.abs(rows(i).depth - rows(j).depth)) < maxHeight) {
        val sim = Similarity.similarity(feats(i), feats(j), metric, decay)
        if (sim >= tau) {
          val (ra, rb) = (find(i), find(j))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          num(i) += rows(j).mult * sim; den(i) += rows(j).mult
          num(j) += rows(i).mult * sim; den(j) += rows(i).mult
        }
      }
    }

    val labels = (0 until n).map(i => rows(i).key -> rows(find(i)).key).toMap
    val incident = (0 until n)
      .collect { case i if den(i) > 0 => rows(i).key -> num(i) / den(i) }
      .toMap
    (labels, incident)
  }

  /** The model behind entity_labels (similarity.py:514-553): entity
    * parents (non-ENT subtrees with an ENT child) clustered under
    * `metricName`, or None for the variant that labels each entity with
    * its parent's own label. The fit skips its top-K pass, since only
    * the key map is read; [[EntityLabels]] then labels the entities.
    */
  private[graft] def entityParentModel(
      trees: Trees, tau: Double, metricName: String, decay: Double): Option[ClusterModel] =
    Option(metricName).map(m =>
      fitModel(trees, tau, decay, m, entityParentsOnly = true, buildModel = false))

  /** Entity oid → label, the max label winning (Spark's string order:
    * UTF-8 bytes) when an oid meets more than one. An oid duplicated
    * under differently labelled parents (REL duplication does this) thus
    * resolves the same way at any partitioning (the reference's dict
    * insertion made the winner ordering-dependent).
    */
  private[graft] final class EntityLabels {
    val labels = scala.collection.mutable.HashMap.empty[String, String]

    def add(oid: String, label: String): Unit =
      labels.updateWith(oid) {
        case Some(cur) if UTF8String.fromString(cur).compareTo(UTF8String.fromString(label)) >= 0 =>
          Some(cur)
        case _ => Some(label)
      }

    /** Each ENT child of one tree's entity parents under its parent's
      * label: the parent's own rendering without a model, else each
      * cluster the parent is assigned to.
      */
    def addTree(treeId: Long, tree: ArchiTree, model: Option[ClusterModel]): Unit = {
      val clusters = model.map(treeAssignments(treeId, tree, _, entityParentsOnly = true)
        .toSeq.groupMap(_.key)(_.cluster))
      tree.positionedSubtrees.foreach { case (path, t) =>
        val parentLabels = clusters match {
          case None     => Seq(t.label.render)
          case Some(cs) => cs.getOrElse(s"$treeId/${path.mkString(".")}", Nil)
        }
        parentLabels.foreach { label =>
          t.childTrees.zipWithIndex.foreach {
            case (c, i) if c.hasType(NodeType.Ent) =>
              add(if (c.oid.nonEmpty) c.oid else s"$treeId/${(path :+ i).mkString(".")}", label)
            case _ =>
          }
        }
      }
    }
  }
}
