package graft.rewrite

import graft.core._
import graft.model.{Forest, TreeRow, Trees}
import graft.similarity.{ClusterModel, TreeClusterer}
import org.apache.spark.sql.Dataset

/** The iterative rewrite driver — Spark re-expression of `rewrite()`
  * (simplification/tree_rewriting/__init__.py:56-308).
  *
  * Per epoch: reduce_all({ENT}) → cluster → find_groups → apply the
  * operation list with early exit at the first operation that changed
  * anything; stop when an epoch changes nothing. Post-process runs
  * naming-only FindRelations/FindCollections, then group/relation names
  * are canonicalized.
  *
  * The reference runs the loop in one process over a worker pool
  * (tree_rewriting/__init__.py:311-633). Here the loop is written once
  * against [[Trees]] and runs on the instance `Trees.of` picks by the
  * entry count:
  *
  *   - at most [[LocalMaxTrees]] trees: the forest is collected once and
  *     every epoch maps a driver `Vector` in `defaultParallelism` chunks
  *     on the global execution context. The whole rewrite is at most two
  *     Spark jobs, the count and the collect (none for a local relation),
  *     and its result is a local relation that the next stage reads with
  *     no job;
  *   - above it: the forest stays a `Dataset[TreeRow]`, and an epoch runs
  *     at most five jobs, none of which shuffles: the reduce_all
  *     checkpoint, the fit's aggregate and top-K passes, the find_groups
  *     checkpoint (a per-tree map against the broadcast model), and one
  *     fused trial pass over the operations.
  *
  * Every step is a per-tree map or a per-partition pass whose result
  * does not depend on where partitions split the forest, so both paths
  * give the same rows and the same epoch count.
  */
object Rewrite {

  /** Forests of at most this many trees are rewritten on the driver.
    * Above it the Spark jobs' fixed cost is a small share of an epoch
    * and the collected forest would start to weigh on driver memory.
    */
  val LocalMaxTrees = 20000L

  /** One rewrite operation: pure per-tree function that may consult the
    * broadcast cluster model.
    */
  final case class Op(name: String, fn: (ArchiTree, ClusterModel, Int, String) => (ArchiTree, Boolean))

  val defaultOperations: Seq[Op] = Seq(
    Op("FindSubGroups", (t, m, ms, k) => GroupOps.findSubGroups(t, m, ms, k)),
    Op("MergeGroups", (t, m, ms, k) => GroupOps.mergeGroups(t, m, ms, k)),
    Op("FindCollections", (t, _, _, _) => TreeOps.findCollections(t)),
    Op("FindRelations", (t, _, _, _) => TreeOps.findRelations(t)),
    Op("FindCollections2", (t, _, _, _) => TreeOps.findCollections(t)),
    Op("ReduceBottom", (t, _, _, _) => TreeOps.reduceBottom(t)),
    Op("ReduceTop", (t, _, _, _) => TreeOps.reduceTop(t)),
  )

  final case class Config(
      tau: Double = 0.7,
      decay: Double = 2.0,
      epochs: Int = 100,
      minSupport: Option[Int] = None,
      operations: Seq[Op] = defaultOperations,
      // cluster the schema template instead of the instances
      // (similarity.py:230): cheaper on huge low-variety forests, may
      // differ from instance clustering
      schemaOnly: Boolean = false,
      // called with (epoch, forest-after-epoch); None = zero cost. The
      // ForestStore transaction lane hangs per-epoch snapshot commits
      // here (the reference commits its ZODB transaction per rewrite
      // step, tree_rewriting/__init__.py epoch loop). The Dataset may be
      // a checkpoint that later epochs release: read it in the call
      epochHook: Option[(Int, Dataset[TreeRow]) => Unit] = None)

  /** Convergence telemetry for one `rewrite` run: `epochsToConverge` is
    * the epoch number of the first pass in which NO operation fired (the
    * natural fixpoint — the reference's stop condition,
    * tree_rewriting/__init__.py:153-155), or None when the loop was cut
    * off by the `epochs` cap while still changing. An empty forest is
    * trivially its own fixpoint: Some(0).
    */
  final case class RewriteResult(forest: Dataset[TreeRow], epochsToConverge: Option[Int])

  def rewrite(forest: Dataset[TreeRow], cfg: Config = Config()): Dataset[TreeRow] =
    rewriteWithStats(forest, cfg).forest

  def rewriteWithStats(forest: Dataset[TreeRow], cfg: Config = Config()): RewriteResult =
    rewriteWithStats(forest, cfg, LocalMaxTrees)

  /** [[rewriteWithStats]] under an explicit driver-path bound; 0 forces
    * the Dataset path.
    */
  private[graft] def rewriteWithStats(
      forest: Dataset[TreeRow], cfg: Config, localMaxTrees: Long): RewriteResult = {
    val spark = forest.sparkSession
    import spark.implicits._

    val (entry, total) = Trees.of(forest, localMaxTrees)
    if (total == 0) return RewriteResult(forest, Some(0))
    val minSupport = cfg.minSupport.getOrElse(math.max((total / 10).toInt, 2))
    var trees = entry

    // epoch counts like the reference: `trange(1, epoch)`
    // (tree_rewriting/__init__.py:127) runs epochs-1 iterations, so
    // epochs=1 is a no-op pass and the default 100 runs 99 — intentional
    // parity, not an off-by-one
    var epoch = 1
    var converged = false

    while (epoch < cfg.epochs && !converged) {
      // 1. reduce_all({ENT}) (tree_rewriting/__init__.py:196-201)
      trees = trees.map(r => TreeRow(r.treeId, r.tree.reduceAll(Set(NodeType.Ent)))).materialize()

      // 2. cluster the candidate subtrees
      val model = TreeClusterer.fitModel(trees, cfg.tau, cfg.decay, "jaro", schemaOnly = cfg.schemaOnly)
      val modelB = spark.sparkContext.broadcast(model)

      // 3. find_groups (tree_rewriting/__init__.py:648-706): relabel
      // qualifying cluster members as GROUPs, frequent clusters first.
      // A candidate's cluster is a lookup in the broadcast model, so
      // this is a per-tree map — no shuffle.
      val rank: Map[String, Int] = model.clusters.values.toSeq
        .filter(_.support > minSupport)
        .sortBy(c => (-c.support, -c.avgEntities, -c.avgDepth, c.name))
        .zipWithIndex.map { case (c, i) => c.name -> i }.toMap
      // with no cluster above minSupport, findGroupsInTree is identity
      // on every tree — skip the pass
      if (rank.nonEmpty) {
        trees = trees.map { case TreeRow(id, tree) =>
          val assigns = TreeClusterer.treeAssignments(id, tree, modelB.value)
            .map(a => a.key -> a.cluster).toSeq
          TreeRow(id, findGroupsInTree(tree, id, assigns, rank))
        }.materialize()
      }

      // 4. operations with early exit at the first op that changed
      // anything (tree_rewriting/__init__.py:203-218). Trials never
      // mutate the forest, so the firing index is computable on the
      // SAME epoch input in ONE fused pass. The consumed quantity is
      // only the MINIMUM op index that changed any tree (the old
      // per-op counts were only ever tested for > 0 at indexWhere), so
      // each tree stops trialing at its own first hit AND at the
      // partition's running minimum — ops that can no longer lower the
      // global minimum are never evaluated. Semantics are unchanged:
      // ops below the returned index changed NOTHING anywhere, so the
      // global first-positive index is exactly the min over trees of
      // each tree's first-changing index.
      val opsArr = cfg.operations.toArray
      val firing: Int = trees.collectPartitions { it =>
        var m = opsArr.length // = "no op fired" sentinel, and the bound
        it.foreach { case TreeRow(id, tree) =>
          var i = 0
          var hit = false
          while (!hit && i < m) {
            hit = opsArr(i).fn(tree, modelB.value, minSupport, id.toString)._2
            if (hit) m = i else i += 1
          }
        }
        Iterator.single(m)
      }.min
      if (firing < opsArr.length) {
        val op = opsArr(firing)
        // LAZY apply on the Dataset path: the op output's one consumer
        // is the next epoch's reduceAll checkpoint (or the exit chain),
        // so the op map fuses into that pass. Ops below `firing` are
        // identity on every tree (proven by the trial pass), so applying
        // only the firing op is the reference's early-exit application
        // exactly.
        trees = trees.map { case TreeRow(id, tree) =>
          TreeRow(id, op.fn(tree, modelB.value, minSupport, id.toString)._1)
        }
      }

      converged = firing == opsArr.length
      // the hook is a second consumer of the epoch's trees: materialize
      // them so the op runs once
      cfg.epochHook.foreach { hook =>
        trees = trees.materialize()
        hook(epoch, trees.toDataset)
      }
      epoch += 1
    }

    // post-process (tree_rewriting/__init__.py:227-259): naming-only
    // relations + collections, no early exit; simplifyNames reads the
    // result twice (its group-name pass and its rename map)
    val postProcessed = trees.map { r =>
      val (t1, _) = TreeOps.findRelations(r.tree, namingOnly = true)
      TreeRow(r.treeId, TreeOps.findCollections(t1, namingOnly = true)._1)
    }.materialize()
    val out = simplifyNames(postProcessed).materialize().toDataset
    // the loop exits with `epoch` one past the last pass run; when that
    // last pass fired nothing, it IS the natural fixpoint epoch
    RewriteResult(out, if (converged) Some(epoch - 1) else None)
  }

  /** find_groups applied inside one tree: assignments ordered by cluster
    * rank (frequent first); conditions re-checked on the evolving tree.
    */
  private[rewrite] def findGroupsInTree(
      tree: ArchiTree,
      treeId: Long,
      assigns: Seq[(String, String)],
      rank: Map[String, Int],
  ): ArchiTree = {
    val ordered = assigns
      .flatMap { case (key, cluster) =>
        rank.get(cluster).map { r =>
          val path = key.split("/", 2)(1) match {
            case ""   => Vector.empty[Int]
            case rest => rest.split("\\.").map(_.toInt).toVector
          }
          (r, path, cluster)
        }
      }
      .sortBy { case (r, path, _) => (r, path.mkString(".")) }

    ordered.foldLeft(tree) { case (t, (_, path, cluster)) =>
      nodeAt(t, path) match {
        case Some(node) if qualifies(t, path, node) =>
          if (node.hasType(NodeType.Group))
            t.updated(path, node.copy(label = Typed(NodeType.Group, cluster)))
          else
            t.updated(path, TreeOps.createGroup(node, cluster))
        case _ => t
      }
    }
  }

  private def nodeAt(t: ArchiTree, path: Vector[Int]): Option[ArchiTree] =
    path.foldLeft(Option(t)) {
      case (Some(n), i) if i < n.children.size =>
        n.children(i) match {
          case Child.Node(c) => Some(c)
          case _             => None
        }
      case _ => None
    }

  private def qualifies(root: ArchiTree, path: Vector[Int], node: ArchiTree): Boolean = {
    val parentIsGroup = path.nonEmpty &&
      nodeAt(root, path.dropRight(1)).exists(_.hasType(NodeType.Group))
    node.children.size >= 2 &&
    !parentIsGroup &&
    node.children.forall {
      case Child.Node(c) => c.hasType(NodeType.Ent)
      case _             => false
    } &&
    !node.hasDuplicateEntity
  }

  /** _simplify_names (tree_rewriting/__init__.py:262-308): canonicalize
    * group names (strip `_<n>` suffixes, disambiguate collisions with an
    * index), then rename RELs `A<->B` and COLLs after contained groups.
    * The reference indexes original labels in forest-iteration order;
    * here they are sorted for determinism.
    */
  private[rewrite] def simplifyNames(trees: Trees): Trees = {
    import trees.spark.implicits._
    val groupNames = trees.collectPartitions { it =>
      it.flatMap(_.tree.subtrees.collect {
        case t if t.hasType(NodeType.Group) => t.label.name
      }).distinct
    }.distinct.sorted.toArray
    val renames = renameMap(groupNames)
    trees.map(r => TreeRow(r.treeId, renameTree(renames, r.tree)))
  }

  private def renameMap(groupNames: Array[String]): Map[String, String] =
    groupNames
      .groupBy(baseName)
      .flatMap { case (base, originals) =>
        originals.sorted.zipWithIndex.map { case (orig, i) =>
          orig -> (if (i == 0) base else s"${base}_$i")
        }
      }

  /** The per-tree simplify transform: group renames, then REL/COLL
    * relabelling after the contained groups.
    */
  private def renameTree(renames: Map[String, String], tree: ArchiTree): ArchiTree = {
    def rename(t: ArchiTree): ArchiTree = {
      val kids = t.children.map {
        case Child.Node(c) => Child.Node(rename(c)): Child
        case l             => l
      }
      val relabelled = t.label match {
        case Typed(NodeType.Group, n) =>
          Typed(NodeType.Group, renames.getOrElse(n, n))
        case other => other
      }
      t.copy(label = relabelled, children = kids)
    }
    val renamed = rename(tree)
    def fixRelColl(t: ArchiTree): ArchiTree = {
      val kids = t.children.map {
        case Child.Node(c) => Child.Node(fixRelColl(c)): Child
        case l             => l
      }
      val withKids = t.copy(children = kids)
      val groups = withKids.groups
      val relabelled =
        if (withKids.hasType(NodeType.Rel) && groups.nonEmpty)
          withKids.copy(label = Typed(NodeType.Rel, groups.toSeq.sorted.mkString("<->")))
        else if (withKids.hasType(NodeType.Coll) && groups.nonEmpty)
          withKids.copy(label = Typed(NodeType.Coll, groups.toSeq.sorted.head))
        else withKids
      relabelled
    }
    fixRelColl(renamed)
  }

  private def baseName(name: String): String = {
    val base = name.replaceAll("(_\\d+)+$", "")
    if (base.matches("^\\d*$")) "UndefinedGroup" else base
  }

  /** simple_rewrite (simplification/simple_rewrite.py:19-66): collapse
    * every tree with unlabelled nodes into one GROUP of its distinct
    * entities; group ids are assigned per distinct sorted entity-label
    * set (sorted order here; insertion order in the reference).
    */
  def simpleRewrite(forest: Dataset[TreeRow]): Dataset[TreeRow] = {
    import forest.sparkSession.implicits._
    val keys = forest
      .flatMap(row => TreeOps.simpleRewriteKey(row.tree))
      .distinct()
      .collect()
      .sortBy(_.mkString("\u0001"))
    val ids: Map[Seq[String], String] =
      keys.zipWithIndex.map { case (k, i) => (k: Seq[String]) -> (i + 1).toString }.toMap
    val idsB = forest.sparkSession.sparkContext.broadcast(ids)
    Forest.mapTrees(forest)(t => TreeOps.simpleRewriteTree(t, idsB.value))
  }
}
