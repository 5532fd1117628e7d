package graft.model

import graft.core._
import graft.util.Spark
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** A group (table candidate): name + entity set
  * (reference architxt/schema.py:36-43).
  */
final case class Group(name: String, entities: Set[String])

/** Relation orientation (schema.py:45-60): which side is the "source",
  * i.e. has a member participating in multiple distinct pairs.
  */
sealed trait RelationOrientation
object RelationOrientation {
  case object Left extends RelationOrientation
  case object Right extends RelationOrientation
  case object Both extends RelationOrientation
}

/** A relation between two groups (schema.py:62-71). */
final case class Relation(
    name: String,
    left: String,
    right: String,
    orientation: RelationOrientation = RelationOrientation.Both)

/** One CFG production, labels in rendered string form
  * (`GROUP::g -> ENT::a ENT::b`).
  */
final case class Production(lhs: String, rhs: Seq[String]) {
  override def toString: String = s"$lhs -> ${rhs.mkString(" ")}"
}

/** The induced database schema — a CFG over typed labels plus the
  * group/relation views (reference architxt/schema.py:73-291).
  *
  * Derivation (`fromForest`) runs one kernel per tree, over that tree's
  * node rows, and merges the kernel's rows on the driver or, for a large
  * node set, in Spark; the resulting grammar is tiny, so assembly and
  * verification happen driver-side. Verification re-expresses the ANTLR
  * meta-grammar's semantic predicates (metagrammar.g4:1-129) as direct
  * structural checks.
  */
final case class Schema(
    productions: Seq[Production],
    groups: Set[Group],
    relations: Set[Relation]) {

  def entities: Set[String] = groups.flatMap(_.entities)

  /** Schema union (schema.py:85-93): productions concatenate (the
    * reference keeps duplicates), group and relation views union.
    */
  def |(other: Schema): Schema =
    Schema(productions ++ other.productions, groups | other.groups, relations | other.relations)

  /** `ROOT -> <sorted lhs per production>` header + productions, each
    * terminated by `;` (schema.py:79-85,346-352).
    */
  def asCfg: String = {
    val header = s"ROOT -> ${productions.map(_.lhs).sorted.mkString(" ")};"
    (header +: productions.sortBy(p => (rank(p.lhs), p.lhs)).map(p => s"$p;")).mkString("\n")
  }

  private def rank(lhs: String): Int = Label.parse(lhs).nodeType match {
    case Some(NodeType.Group) => 1
    case Some(NodeType.Rel)   => 2
    case Some(NodeType.Coll)  => 3
    case _                    => 0
  }

  private val NamePat = "[_a-zA-Z0-9]+".r
  private val RelNamePat = "[_a-zA-Z0-9]+(<->[_a-zA-Z0-9]+)?".r

  /** Structural re-expression of metagrammar.g4's predicates: every lhs
    * typed with a lexable name; groups defined once with ≥1 distinct ENT
    * entities; relations defined once joining two distinct defined
    * groups; collections defined once wrapping one defined group or
    * relation.
    */
  def verify: Boolean = {
    val byLhs = productions.groupBy(_.lhs)
    val groupNames = scala.collection.mutable.Set.empty[String]
    val relNames = scala.collection.mutable.Set.empty[String]

    def ok(p: Production): Boolean = Label.parse(p.lhs) match {
      case Typed(NodeType.Group, name) =>
        NamePat.matches(name) &&
        byLhs(p.lhs).size == 1 &&
        p.rhs.nonEmpty &&
        p.rhs.forall(r => Label.parse(r) match {
          case Typed(NodeType.Ent, en) => NamePat.matches(en)
          case _                       => false
        }) &&
        p.rhs.distinct.size == p.rhs.size &&
        groupNames.add(name)
      case Typed(NodeType.Rel, name) =>
        RelNamePat.matches(name) && {
          p.rhs.map(Label.parse) match {
            case Seq(Typed(NodeType.Group, g1), Typed(NodeType.Group, g2)) =>
              g1 != g2 && byLhs(p.lhs).size == 1 && relNames.add(name)
            case _ => false
          }
        }
      case Typed(NodeType.Coll, name) =>
        RelNamePat.matches(name) && byLhs(p.lhs).size == 1 && {
          p.rhs.map(Label.parse) match {
            case Seq(Typed(NodeType.Group, _)) | Seq(Typed(NodeType.Rel, _)) => true
            case _                                                           => false
          }
        }
      case _ => false // untyped lhs cannot lex in the meta-grammar
    }

    // Groups must be defined before relations/collections reference them
    // (grammar is order-sensitive; we check set membership instead).
    val sorted = productions.sortBy(p => (rank(p.lhs), p.lhs))
    val allOk = sorted.forall(ok)
    val definedGroups = sorted.collect { case p if rank(p.lhs) == 1 => Label.parse(p.lhs).name }.toSet
    val definedRels = sorted.collect { case p if rank(p.lhs) == 2 => Label.parse(p.lhs).name }.toSet
    val refsOk = sorted.forall { p =>
      Label.parse(p.lhs) match {
        case Typed(NodeType.Rel, _) =>
          p.rhs.map(Label.parse(_).name).forall(definedGroups.contains)
        case Typed(NodeType.Coll, _) =>
          p.rhs.headOption.map(Label.parse) match {
            case Some(Typed(NodeType.Group, g)) => definedGroups.contains(g)
            case Some(Typed(NodeType.Rel, r))   => definedRels.contains(r)
            case _                              => false
          }
        case _ => true
      }
    }
    allOk && refsOk
  }

  /** Mean pairwise Jaccard of group entity sets (schema.py:293-308). */
  def groupOverlap: Double = {
    val gs = groups.toSeq
    val idx = for { i <- gs.indices; j <- (i + 1) until gs.size } yield {
      val a = gs(i).entities; val b = gs(j).entities
      if (a.isEmpty && b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size.toDouble
    }
    if (idx.isEmpty) 0.0 else idx.sum / idx.size
  }

  /** 1 − σ/μ of per-group entity counts (schema.py:310-344). */
  def groupBalanceScore: Double = {
    if (groups.isEmpty) return 1.0
    val counts = groups.toSeq.map(_.entities.size.toDouble)
    val mean = counts.sum / counts.size
    val variance = counts.map(c => (c - mean) * (c - mean)).sum / counts.size
    val cv = if (mean != 0) math.sqrt(variance) / mean else 1.0
    1 - cv
  }

  /** Groups participating exactly twice on the "one" side of 1-n
    * relations (schema.py:442-501): LEFT adds 3/1, RIGHT 1/3, BOTH 3/3;
    * keep score == 2.
    */
  def findCollapsibleGroups: Set[String] = {
    val count = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    relations.foreach { r =>
      r.orientation match {
        case RelationOrientation.Left  => count(r.left) += 3; count(r.right) += 1
        case RelationOrientation.Right => count(r.left) += 1; count(r.right) += 3
        case RelationOrientation.Both  => count(r.left) += 3; count(r.right) += 3
      }
    }
    count.collect { case (g, 2) => g }.toSet
  }

  /** Expand the CFG into one template tree (schema.py:354-382). */
  def toTree: ArchiTree = {
    val byLhs = productions.groupBy(_.lhs)
    def expand(label: String): ArchiTree = {
      val children = byLhs.getOrElse(label, Seq.empty)
        .flatMap(_.rhs).map(r => Child.Node(expand(r)): Child)
      ArchiTree(Label.parse(label), children.toVector)
    }
    val rootRhs = productions.map(_.lhs).sorted
    ArchiTree(Plain("ROOT"), rootRhs.map(l => Child.Node(expand(l)): Child).toVector)
  }

  /** Filter a tree to schema-valid structure (schema.py:384-417):
    * invalid-label subtrees are spliced (tree children promoted in place,
    * leaf children dropped); an invalid root is relabelled ROOT and its
    * direct leaves/ENTs removed. Returns None if nothing remains.
    */
  def extractValidTree(tree: ArchiTree): Option[ArchiTree] = {
    val valid: Set[String] =
      entities.map(e => s"ENT::$e") ++
        groups.map(g => s"GROUP::${g.name}") ++
        relations.map(r => s"REL::${r.name}")

    def rebuild(t: ArchiTree): ArchiTree = {
      val kids = t.children.flatMap {
        case l @ Child.Leaf(_) => Vector(l)
        case Child.Node(c) =>
          val cc = rebuild(c)
          if (valid.contains(cc.label.render)) Vector(Child.Node(cc))
          else cc.children.collect { case n @ Child.Node(_) => n } // promote trees, drop leaves
      }
      t.copy(children = kids)
    }

    val rebuilt = rebuild(tree)
    val result =
      if (valid.contains(rebuilt.label.render)) rebuilt
      else
        rebuilt.copy(
          label = Plain("ROOT"),
          children = rebuilt.children.filter {
            case Child.Leaf(_) => false
            case Child.Node(c) => !c.hasType(NodeType.Ent)
          })
    Option.when(result.children.nonEmpty)(result)
  }

  def extractValidTrees(forest: Dataset[TreeRow]): Dataset[TreeRow] = {
    import forest.sparkSession.implicits._
    val self = this
    forest.flatMap { row =>
      self.extractValidTree(row.tree).map(t => TreeRow(row.treeId, t))
    }
  }
}

/** One node as the node-set stages (schema, extraction, SQL export) read
  * it: a [[NodeRow]] without its depth and height.
  */
private[graft] final case class PrunedNode(
    treeId: Long,
    nodeId: Int,
    parentId: Int,
    pos: Int,
    nodeType: String,
    name: String,
    value: String,
    oid: String,
    nChildren: Int,
)

object Schema {

  /** Intermediate per-node production row, as `assemble` reads it. */
  private final case class ProdRow(lhsType: String, lhsName: String, rhs: Seq[String])

  /** What the schema kernel gives for one node: its production, and for
    * a 2-GROUP REL its side names and member oids (empty otherwise).
    */
  private[model] final case class Prod(
      treeId: Long,
      nodeId: Int,
      nodeType: String,
      name: String,
      rhs: Seq[String],
      sides: Seq[String],
      oids: Seq[String])

  /** Build a schema from an explicit description (schema.py:102-142):
    * group productions over sorted entities, relation productions
    * (left, right), optional `COLL::<x> -> <x>` per production.
    */
  def fromDescription(
      groups: Set[Group] = Set.empty,
      relations: Set[Relation] = Set.empty,
      collections: Boolean = true,
  ): Schema = {
    val groupProds = groups.toSeq.sortBy(_.name).map(g =>
      Production(s"GROUP::${g.name}", g.entities.toSeq.map(e => s"ENT::$e").sorted))
    val relProds = relations.toSeq.sortBy(_.name).map(r =>
      Production(s"REL::${r.name}", Seq(s"GROUP::${r.left}", s"GROUP::${r.right}")))
    val base = groupProds ++ relProds
    val collProds =
      if (!collections) Seq.empty
      else base.map(p => Production(s"COLL::${Label.parse(p.lhs).name}", Seq(p.lhs)))
    Schema(base ++ collProds, groups, relations)
  }

  /** `nodes`' rows that `keep` selects, as the node-set stages read them. */
  private[graft] def pruned(nodes: Dataset[NodeRow], keep: Column): Dataset[PrunedNode] = {
    val encoder = Encoders.product[PrunedNode]
    nodes.filter(keep).select(encoder.schema.fieldNames.toSeq.map(col): _*).as(encoder)
  }

  /** Apply a per-tree kernel to a node set placed by `Spark.placed`
    * under `localMax`. On the driver the collected rows are grouped by
    * tree, trees in id order, and `onDriver` merges the kernel's output;
    * in Spark the rows are grouped by `treeId`, and `inSpark` merges the
    * output Dataset, then calls the function it is handed once nothing it
    * returns still reads the placed rows. The kernel sees one tree's rows
    * in no particular order.
    */
  private[graft] def perTree[T: Encoder, R](nodes: Dataset[PrunedNode], localMax: Long)(
      kernel: Seq[PrunedNode] => Seq[T])(
      onDriver: Seq[T] => R,
      inSpark: (Dataset[T], () => Unit) => R): R =
    Spark.placed(nodes, localMax) match {
      case Spark.OnDriver(rows) =>
        onDriver(rows.groupBy(_.treeId).toSeq.sortBy(_._1).flatMap { case (_, tree) =>
          kernel(ArraySeq.unsafeWrapArray(tree))
        })
      case spread: Spark.InSpark[PrunedNode] =>
        val out = spread.ds.groupByKey(_.treeId)(Encoders.scalaLong)
          .flatMapGroups((_, tree) => kernel(tree.toSeq))
        inSpark(out, () => spread.release())
    }

  /** Derive the schema from a forest's nodes DataFrame — the Spark
    * re-expression of Schema.from_forest (schema.py:144-218).
    *
    * A kernel walks one tree's nodes (`productions`); the merge takes
    * each production row's first occurrence by (treeId, nodeId), each
    * relation side's multiplicity flag and each relation's side order,
    * and `assemble` builds the schema from them. Through [[perTree]], at
    * most [[LocalMaxNodes]] node rows are collected once and merged on
    * the driver; a larger node set runs the kernel in Spark and merges
    * with three aggregations. Both give equal schemas, productions in the
    * same order.
    */
  def fromForest(
      nodes: Dataset[NodeRow],
      keepUnlabelled: Boolean = true,
      mergeLhs: Boolean = true,
  ): Schema = fromForest(nodes, keepUnlabelled, mergeLhs, LocalMaxNodes)

  /** Node sets of at most this many rows derive their schema on the
    * driver; [[extractDataset]] and `SqlExporter.export` apply the bound
    * to the node rows they read. When it was set, on 4 cores, the driver
    * walk beat the Dataset derivation of the time (a nodes self-join) at
    * every size measured, up to 2.8 million rows (7.0 s against 11.3 s),
    * so the bound is set by driver memory: a collected node row takes
    * about 240 bytes, so a million rows hold about 0.24 GB, the budget
    * `Rewrite.LocalMaxTrees` gives a collected forest.
    */
  val LocalMaxNodes = 1000000L

  /** [[fromForest]] under an explicit driver-path bound; 0 forces the
    * Dataset path.
    */
  private[graft] def fromForest(
      nodes: Dataset[NodeRow],
      keepUnlabelled: Boolean,
      mergeLhs: Boolean,
      localMaxNodes: Long,
  ): Schema = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // `as` keeps the plan a bare checkpoint or local relation, which
    // `Spark.placed` reads in place
    perTree(nodes.as[PrunedNode], localMaxNodes)(productions)(
      merged(_, keepUnlabelled, mergeLhs),
      (prods, release) => {
        val held = Spark.checkpoint(prods)
        try {
          val prodRows = held
            .groupBy(col("nodeType"), col("name"), col("rhs"))
            .agg(min(struct(col("treeId"), col("nodeId"))).as("first"))
            .select(col("nodeType"), col("name"), col("rhs"), col("first.treeId"), col("first.nodeId"))
            .as[(String, String, Seq[String], Long, Int)].collect()
            .sortBy { case (_, _, _, treeId, nodeId) => (treeId, nodeId) }
            .map { case (t, n, rhs, _, _) => ProdRow(t, n, rhs) }.toSeq
          val rels = held.filter(size(col("sides")) === 2)
          val multi = Seq(0, 1)
            .map(i => rels.select(col("name"), col("sides")(i).as("side"), col("oids")(i).as("oid"),
              array_sort(col("oids")).as("pair")))
            .reduce(_ union _)
            .groupBy(col("name"), col("side"), col("oid")).agg((countDistinct(col("pair")) > 1).as("multi"))
            .groupBy(col("name"), col("side")).agg(max(col("multi")))
            .as[(String, String, Boolean)].collect()
            .map { case (r, s, m) => (r, s) -> m }.toMap
          val order = rels
            .groupBy(col("name")).agg(min(struct(col("treeId"), col("nodeId"), col("sides"))).as("first"))
            .select(col("name"), col("first.sides"))
            .as[(String, Seq[String])].collect()
            .map { case (r, s) => r -> (s(0), s(1)) }.toMap
          assemble(prodRows, multi, order, keepUnlabelled, mergeLhs)
        } finally {
          Spark.release(held)
          release()
        }
      })
  }

  /** Local derivation for plain in-memory forests (tests, driver loops):
    * tree `i` is flattened as tree id `i` and derived like a small
    * [[fromForest]] node set.
    */
  def fromTrees(
      trees: Seq[ArchiTree],
      keepUnlabelled: Boolean = true,
      mergeLhs: Boolean = true,
  ): Schema = merged(
    trees.zipWithIndex.flatMap { case (t, i) => productions(prune(Forest.nodeRows(i.toLong, t))) },
    keepUnlabelled, mergeLhs)

  private def prune(rows: Seq[NodeRow]): Seq[PrunedNode] = rows.map(n =>
    PrunedNode(n.treeId, n.nodeId, n.parentId, n.pos, n.nodeType, n.name, n.value, n.oid, n.nChildren))

  /** The schema kernel over one tree's nodes, in nodeId order: a node
    * that is not the ROOT label and whose children are all nodes (none a
    * leaf) gives its production; a REL with two GROUP children also gives
    * their names and oids.
    */
  private def productions(tree: Seq[PrunedNode]): Seq[Prod] = {
    val kids = tree.groupBy(_.parentId)
    def label(n: PrunedNode): String = if (n.nodeType == null) n.name else s"${n.nodeType}::${n.name}"
    tree.filter(n => kids.contains(n.nodeId)).sortBy(_.nodeId).flatMap { n =>
      val cs = kids(n.nodeId).sortBy(_.pos)
      Option.when(cs.size == n.nChildren && !(n.nodeType == null && n.name == "ROOT")) {
        val rel = n.nodeType == "REL" && cs.size == 2 && cs.forall(_.nodeType == "GROUP")
        Prod(n.treeId, n.nodeId, n.nodeType, n.name, cs.map(label),
          if (rel) cs.map(_.name) else Nil, if (rel) cs.map(_.oid) else Nil)
      }
    }
  }

  /** The schema merge on the driver, over the kernel's output in
    * (treeId, nodeId) order: each production row's first occurrence; a
    * relation side is multi when one of its member oids joins more than
    * one distinct member pair; a relation's side order is its first
    * occurrence's.
    */
  private def merged(prods: Seq[Prod], keepUnlabelled: Boolean, mergeLhs: Boolean): Schema = {
    val rels = prods.filter(_.sides.nonEmpty)
    val firstPair = scala.collection.mutable.HashMap.empty[(String, String, String), Set[String]]
    val multi = scala.collection.mutable.HashMap.empty[(String, String), Boolean]
    for (p <- rels; pair = p.oids.toSet; (side, oid) <- p.sides.zip(p.oids)) {
      val first = firstPair.getOrElseUpdate((p.name, side, oid), pair)
      multi((p.name, side)) = multi.getOrElse((p.name, side), false) || first != pair
    }
    val order = rels.groupMapReduce(_.name)(p => (p.sides(0), p.sides(1)))((first, _) => first)
    assemble(prods.map(p => ProdRow(p.nodeType, p.name, p.rhs)).distinct, multi.toMap, order, keepUnlabelled, mergeLhs)
  }

  /** Productions-only derivation straight from the forest's trees,
    * for the schema_only clustering template (similarity.py:296-339):
    * `toTree` consumes only `productions`, so the relation orientation
    * is skipped — one pass and no shuffle, which is the per-epoch fixed
    * cost of the schema-only rewrite lane. The returned schema carries an
    * empty `relations` set; REL productions are still present. Over
    * either [[Trees]] instance: the schema kernel over each tree's node
    * rows, each partition's distinct production rows, then the first
    * occurrence of each across partitions. Rows reach `assemble` in the
    * forest's order, so the template is the same on both instances and at
    * any partition count.
    */
  private[graft] def templateOf(
      trees: Trees, keepUnlabelled: Boolean = true, mergeLhs: Boolean = true): Schema = {
    import trees.spark.implicits._
    val rows = trees.collectPartitions(_.flatMap(r => productions(prune(Forest.nodeRows(r.treeId, r.tree))))
      .map(p => (p.nodeType, p.name, p.rhs)).distinct).distinct
    assemble(rows.map { case (t, n, r) => ProdRow(t, n, r) },
      Map.empty, Map.empty, keepUnlabelled, mergeLhs)
  }
  private def assemble(
      prodRows: Seq[ProdRow],
      multiFlags: Map[(String, String), Boolean],
      sideOrder: Map[String, (String, String)],
      keepUnlabelled: Boolean,
      mergeLhs: Boolean,
  ): Schema = {
    val productions = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Seq[String]]]
    val groups = scala.collection.mutable.Map.empty[String, Set[String]]

    prodRows.foreach { p =>
      val lhsLabel =
        if (p.lhsType == null) p.lhsName else s"${p.lhsType}::${p.lhsName}"
      p.lhsType match {
        case "COLL" =>
          // single-rhs rule (schema.py:166); deterministic pick = min
          val candidate = Seq(p.rhs.head)
          val current = productions.get(lhsLabel).flatMap(_.headOption)
          if (current.forall(c => candidate.head < c.head))
            productions(lhsLabel) = Vector(candidate)
        case "REL" if p.rhs.size == 2 =>
          val rhs = p.rhs.sorted
          val cur = productions.getOrElse(lhsLabel, Vector.empty)
          if (!cur.contains(rhs)) productions(lhsLabel) = cur :+ rhs
        case "GROUP" =>
          if (mergeLhs) {
            val merged = (productions.getOrElse(lhsLabel, Vector.empty).flatten ++ p.rhs).distinct.sorted
            productions(lhsLabel) = Vector(merged)
          } else {
            val rhs = p.rhs.distinct.sorted
            val cur = productions.getOrElse(lhsLabel, Vector.empty)
            if (!cur.contains(rhs)) productions(lhsLabel) = cur :+ rhs
          }
          groups(p.lhsName) = productions(lhsLabel).flatten.map(Label.parse(_).name).toSet
        case _ =>
          if (keepUnlabelled) {
            val rhs = p.rhs.distinct.sorted
            val cur = productions.getOrElse(lhsLabel, Vector.empty)
            if (!cur.contains(rhs)) productions(lhsLabel) = cur :+ rhs
          }
      }
    }

    val relations = multiFlags.keys.groupBy(_._1).flatMap { case (relName, keys) =>
      val sides = keys.map(_._2).toSeq.distinct
      if (sides.size != 2) None
      else {
        val (left, right) = sideOrder.getOrElse(relName, (sides.head, sides(1)))
        val lm = multiFlags.getOrElse((relName, left), false)
        val rm = multiFlags.getOrElse((relName, right), false)
        val orientation =
          if (lm == rm) RelationOrientation.Both
          else if (lm) RelationOrientation.Left
          else RelationOrientation.Right
        Some(Relation(relName, left, right, orientation))
      }
    }.toSet

    Schema(
      productions.toSeq.flatMap { case (lhs, alts) => alts.map(Production(lhs, _)) },
      groups.map { case (n, e) => Group(n, e) }.toSet,
      relations)
  }

  /** Extract the deduplicated tabular dataset of one group
    * (schema.py:419-440 + tree.py:622-667): one row per GROUP-node
    * instance, one column per entity label observed under the group,
    * values = the ENT's space-joined leaves; duplicate entity labels in
    * one instance keep the last by child position; global
    * drop-duplicates.
    *
    * A kernel reads one tree's ENT rows and the group's GROUP rows
    * (`instances`) and gives each kept instance's entity values; the
    * merge takes the sorted union of entity names as columns and keeps
    * the distinct rows. Through [[perTree]], at most [[LocalMaxNodes]]
    * of those rows are collected and merged on the driver into a local
    * DataFrame; a larger set runs the kernel in Spark, and the result is
    * checkpointed. Both give the same columns, in the same order, and
    * the same rows.
    */
  def extractDataset(nodes: Dataset[NodeRow], groupName: String): DataFrame =
    extractDataset(nodes, groupName, LocalMaxNodes)

  /** [[extractDataset]] under an explicit driver-path bound; 0 forces
    * the Dataset path.
    */
  private[model] def extractDataset(nodes: Dataset[NodeRow], groupName: String, localMaxNodes: Long): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val rows = pruned(nodes, col("nodeType") === "ENT" || (col("nodeType") === "GROUP" && col("name") === groupName))
    perTree(rows, localMaxNodes)(instances(groupName))(
      cells => {
        val cols = cells.flatMap(_.keys).distinct.sorted
        val out = cells.map(m => Row.fromSeq(cols.map(m.getOrElse(_, null)))).distinct
        spark.createDataFrame(out.asJava, StructType(cols.map(StructField(_, StringType))))
      },
      (cells, release) => {
        val held = Spark.checkpoint(cells)
        try {
          val cols = held.select(explode(map_keys(col("value")))).distinct().as[String].collect().sorted
          // a map cannot be grouped, so the columns are selected first
          held.select(cols.toSeq.map(c => col("value")(c).as(c)): _*).dropDuplicates().localCheckpoint(true)
        } finally {
          Spark.release(held)
          release()
        }
      })
  }

  /** The extraction kernel over one tree's ENT rows and `groupName`'s
    * GROUP rows. Occurrences of one oid are copies of one row (the loader
    * materializes a group once standalone plus once per REL side), so
    * the min nodeId per oid is kept; an occurrence with a null or empty
    * oid is an instance of its own. The dedup is per tree only: two trees
    * may share an oid yet carry different values, and the reference keeps
    * both. Each kept instance with an ENT child gives its last ENT child
    * by position per entity name, instances in nodeId order.
    */
  private def instances(groupName: String)(tree: Seq[PrunedNode]): Seq[Map[String, String]] = {
    val kept = tree.filter(n => n.nodeType == "GROUP" && n.name == groupName)
      .groupMapReduce(n => Option(n.oid).filter(_.nonEmpty).toLeft(n.nodeId))(_.nodeId)(math.min)
      .values.toSet
    val ents = tree.filter(e => e.nodeType == "ENT" && kept(e.parentId)).groupBy(_.parentId)
    kept.toSeq.sorted.flatMap(id => ents.get(id).map(_.sortBy(_.pos).map(e => e.name -> e.value).toMap))
  }
}
