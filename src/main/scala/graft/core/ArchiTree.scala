package graft.core

/** A child of a tree node: either a string leaf or a subtree. */
sealed trait Child extends Serializable
object Child {
  final case class Leaf(value: String) extends Child
  final case class Node(tree: ArchiTree) extends Child
}

/** Immutable typed tree — the metamodel instance representation.
  *
  * Functional re-expression of the reference's mutable NLTK-style Tree
  * (architxt/tree.py:97-126). All rewrites produce new trees; parent
  * pointers and mutation-cache machinery (tree.py:213-236) are dropped —
  * Spark recomputes per-iteration columnar features instead.
  *
  * In a Dataset it is a Spark user-defined type ([[ArchiTreeUDT]]), so a
  * forest row holds the tree itself, not a serialized copy.
  *
  * @param oid application-level identifier; duplicates allowed for the
  *            same logical entity (tree.py:290-305).
  */
@org.apache.spark.sql.types.SQLUserDefinedType(udt = classOf[ArchiTreeUDT])
final case class ArchiTree(
    label: Label,
    children: Vector[Child],
    oid: String = "",
    metadata: Map[String, String] = Map.empty,
) extends Serializable {

  def childTrees: Vector[ArchiTree] =
    children.collect { case Child.Node(t) => t }

  /** All leaf values, left-to-right. */
  def leaves: Vector[String] = {
    val buf = Vector.newBuilder[String]
    def go(t: ArchiTree): Unit = t.children.foreach {
      case Child.Leaf(v) => buf += v
      case Child.Node(c) => go(c)
    }
    go(this)
    buf.result()
  }

  /** Pre-order traversal including this node. */
  def subtrees: Vector[ArchiTree] = {
    val buf = Vector.newBuilder[ArchiTree]
    def go(t: ArchiTree): Unit = { buf += t; t.childTrees.foreach(go) }
    go(this)
    buf.result()
  }

  /** Pre-order positions (paths) of every subtree, paired with the subtree. */
  def positionedSubtrees: Vector[(Vector[Int], ArchiTree)] = {
    val buf = Vector.newBuilder[(Vector[Int], ArchiTree)]
    def go(path: Vector[Int], t: ArchiTree): Unit = {
      buf += ((path, t))
      t.children.zipWithIndex.foreach {
        case (Child.Node(c), i) => go(path :+ i, c)
        case _                  =>
      }
    }
    go(Vector.empty, this)
    buf.result()
  }

  /** NLTK-compatible height: a node over leaves only has height 2. */
  def height: Int =
    1 + (if (children.isEmpty) 0
         else children.map {
           case Child.Leaf(_) => 1
           case Child.Node(t) => t.height
         }.max)

  def hasType(t: NodeType): Boolean = label.hasType(t)
  def isTyped: Boolean = label.isTyped

  /** Entity subtrees in pre-order (tree.py entities()). */
  def entities: Vector[ArchiTree] = subtrees.filter(_.hasType(NodeType.Ent))

  def entityLabels: Set[String] = entities.map(_.label.name).toSet

  /** Group names present in the tree (tree.py groups()). */
  def groups: Set[String] =
    subtrees.collect { case t if t.hasType(NodeType.Group) => t.label.name }.toSet

  def hasDuplicateEntity: Boolean = {
    val ents = entities.map(_.label.name)
    ents.size != ents.distinct.size
  }

  /** Any direct child that is a string leaf or an untyped subtree
    * (architxt/tree.py:753: `any(not has_type(subtree) for subtree in self)`
    * — string children are unlabelled too).
    */
  def hasUnlabelledNodes: Boolean = children.exists {
    case Child.Leaf(_)    => true
    case Child.Node(tree) => !tree.isTyped
  }

  /** Whether any direct child is an entity (tree.py has_entity_child). */
  def hasEntityChild: Boolean = childTrees.exists(_.hasType(NodeType.Ent))

  /** Group instances within this tree: one row per GROUP::name node,
    * columns = entity names, values = space-joined entity leaves
    * (tree.py:622-667). Children rows first, then self — then dedup
    * preserving first occurrence, matching pandas drop_duplicates.
    */
  def groupInstances(groupName: String): Vector[Map[String, String]] = {
    val rows = Vector.newBuilder[Map[String, String]]
    def go(t: ArchiTree): Unit = {
      t.childTrees.foreach(go)
      if (t.hasType(NodeType.Group) && t.label.name == groupName) {
        rows += t.childTrees
          .filter(_.hasType(NodeType.Ent))
          .map(e => e.label.name -> e.leaves.mkString(" "))
          .toMap
      }
    }
    go(this)
    // pandas drop_duplicates aligns heterogeneous rows into one column set
    // with NaN for missing entities, and NaNs compare equal (tree.py:650-667).
    // Normalize every row over the union key set before dedup so {a:1} and
    // {a:1} ∪ {b:missing} collapse the same way.
    val raw = rows.result()
    val allKeys = raw.flatMap(_.keys).distinct
    val seen = scala.collection.mutable.LinkedHashSet.empty[Vector[Option[String]]]
    raw.filter { r =>
      val aligned = allKeys.map(r.get)
      seen.add(aligned)
    }
  }

  /** Merge two trees under one ROOT, preserving subtree levels
    * (tree.py:755-773).
    */
  def merge(other: ArchiTree): ArchiTree = {
    def parts(t: ArchiTree): Vector[Child] =
      if (t.label.render == "ROOT") t.children else Vector(Child.Node(t))
    ArchiTree(Plain("ROOT"), parts(this) ++ parts(other))
  }

  /** Splice out every reducible descendant: a subtree with exactly one
    * child whose type is not in `skipTypes`, replaced by that child in its
    * parent. Runs to fixpoint in one bottom-up pass (tree.py:775-828).
    * The root itself is never reduced.
    */
  def reduceAll(skipTypes: Set[NodeType] = Set.empty): ArchiTree = {
    def keep(t: ArchiTree): Boolean =
      t.label.nodeType.exists(skipTypes.contains)
    def go(t: ArchiTree): ArchiTree = {
      val processed = t.children.map {
        case Child.Node(c) => Child.Node(go(c))
        case leaf          => leaf
      }
      val spliced = processed.flatMap {
        case Child.Node(c) if c.children.size == 1 && !keep(c) => c.children
        case other                                             => Vector(other)
      }
      t.copy(children = spliced)
    }
    go(this)
  }

  /** Replace the subtree at `path` (empty path = the whole tree). */
  def updated(path: Vector[Int], replacement: ArchiTree): ArchiTree =
    if (path.isEmpty) replacement
    else {
      val i = path.head
      children(i) match {
        case Child.Node(c) =>
          copy(children = children.updated(i, Child.Node(c.updated(path.tail, replacement))))
        case _ => throw new IllegalArgumentException(s"path $path hits a leaf")
      }
    }

  def apply(path: Vector[Int]): ArchiTree =
    if (path.isEmpty) this
    else children(path.head) match {
      case Child.Node(c) => c(path.tail)
      case _             => throw new IllegalArgumentException(s"path $path hits a leaf")
    }

  /** Canonical bracket form with oids stripped — for golden comparisons
    * that must ignore the reference's uuid4 nondeterminism (SURVEY §7.5).
    */
  def render: String = SExpr.format(this)

  override def toString: String = render
}

object ArchiTree {
  def apply(label: String, children: Seq[Child]): ArchiTree =
    ArchiTree(Label.parse(label), children.toVector)

  def node(label: String, children: Child*): ArchiTree =
    ArchiTree(Label.parse(label), children.toVector)

  def leafNode(label: String, leafValues: String*): ArchiTree =
    ArchiTree(Label.parse(label), leafValues.map(Child.Leaf(_)).toVector)

  def fromString(s: String): ArchiTree = SExpr.parse(s)

  /** Deterministic oid: hex SHA-1 of the joined parts, analogous to the
    * reference's uuid5 chain (database/loader/sql.py:399-417) without the
    * RFC-4122 formatting.
    */
  def deterministicOid(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val bytes = md.digest(parts.mkString("\u0000").getBytes("UTF-8"))
    bytes.take(16).map(b => f"$b%02x").mkString
  }
}
