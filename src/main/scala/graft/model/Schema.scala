package graft.model

import graft.core._
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

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
  * Derivation (`fromForest`) is a distributed aggregation over the nodes
  * DataFrame; the resulting grammar is tiny, so assembly and verification
  * happen driver-side. Verification re-expresses the ANTLR meta-grammar's
  * semantic predicates (metagrammar.g4:1-129) as direct structural checks.
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

object Schema {

  /** Intermediate per-node production row used by both derivation paths. */
  private final case class ProdRow(lhsType: String, lhsName: String, rhs: Seq[String])

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

  /** Derive the schema from a forest's nodes DataFrame — the Spark
    * re-expression of Schema.from_forest (schema.py:144-218).
    *
    * Distributed part: per-node production rows and relation-side
    * multiplicity flags (two aggregations). Driver part: assembling the
    * (tiny) grammar with the reference's merge rules.
    */
  def fromForest(
      nodes: Dataset[NodeRow],
      keepUnlabelled: Boolean = true,
      mergeLhs: Boolean = true,
  ): Schema = {
    val spark = nodes.sparkSession
    import spark.implicits._

    // three collect actions below consume the self-join+aggregate of
    // the nodes input — cache the narrow node rows for the join's two
    // scans (the schema-only rewrite lane passes a fresh per-epoch
    // forest flatten), materialize the JOINED per-node production rows
    // ONCE (bounded by node count, narrow), and release the input
    // cache: without this each collect re-ran the self-join + the
    // collect_list aggregation from scratch
    val cached = nodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val c = cached.select(
      col("treeId").as("cTreeId"), col("parentId").as("cParentId"), col("pos").as("cPos"),
      col("nodeType").as("cType"), col("name").as("cName"), col("oid").as("cOid"))
    val label = (t: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      when(t.isNull, n).otherwise(concat(t, lit("::"), n))

    val joined = graft.util.Spark.checkpoint(cached
      .join(c, col("treeId") === col("cTreeId") && col("nodeId") === col("cParentId"))
      .groupBy(col("treeId"), col("nodeId"), col("nodeType"), col("name"), col("nChildren"))
      .agg(sort_array(collect_list(struct(
        col("cPos"),
        label(col("cType"), col("cName")).as("lbl"),
        col("cType"), col("cName"), col("cOid")))).as("kids"))
      // non-lexical (no leaf children) and not the ROOT label
      .filter(size(col("kids")) === col("nChildren") &&
        !(col("nodeType").isNull && col("name") === "ROOT")))
    cached.unpersist(blocking = false)

    val prodRows: Seq[ProdRow] = graft.util.Spark.timed("schema-profile", "prodRows") { joined
      .select(col("nodeType"), col("name"), col("kids.lbl").as("rhs"))
      .distinct()
      .as[(String, String, Seq[String])]
      .collect()
      .toSeq
      .map { case (t, n, rhs) => ProdRow(t, n, rhs) } }

    // Relation orientation: sides of 2-GROUP RELs, member-oid pair
    // multiplicity (schema.py:187-218,235-266).
    val relNodes = joined.filter(
      col("nodeType") === "REL" && size(col("kids")) === 2 &&
        col("kids").getItem(0).getField("cType") === "GROUP" &&
        col("kids").getItem(1).getField("cType") === "GROUP")
      .select(
        col("treeId"), col("nodeId"), col("name").as("relName"),
        col("kids").getItem(0).getField("cName").as("leftLabel"),
        col("kids").getItem(1).getField("cName").as("rightLabel"),
        col("kids").getItem(0).getField("cOid").as("leftOid"),
        col("kids").getItem(1).getField("cOid").as("rightOid"))
      .withColumn("pairId",
        when(col("leftOid") <= col("rightOid"), concat_ws("|", col("leftOid"), col("rightOid")))
          .otherwise(concat_ws("|", col("rightOid"), col("leftOid"))))

    val sides = relNodes.select(
      col("relName"), col("leftLabel").as("side"), col("leftOid").as("memberOid"), col("pairId"))
      .union(relNodes.select(
        col("relName"), col("rightLabel").as("side"), col("rightOid").as("memberOid"), col("pairId")))

    val multiFlags: Map[(String, String), Boolean] = graft.util.Spark.timed("schema-profile", "multiFlags") { sides
      .groupBy(col("relName"), col("side"), col("memberOid"))
      .agg(countDistinct(col("pairId")).as("pairs"))
      .groupBy(col("relName"), col("side"))
      .agg(max(col("pairs") > 1).as("multi"))
      .as[(String, String, Boolean)]
      .collect()
      .map { case (r, s, m) => (r, s) -> m }
      .toMap }

    // Deterministic left/right side order: the child order of the
    // first REL occurrence by (treeId, nodeId). The reference uses dict
    // insertion order (forest iteration order), which is equivalent for
    // forests where instance child order is consistent.
    val sideOrder: Map[String, (String, String)] = graft.util.Spark.timed("schema-profile", "sideOrder") { relNodes
      .groupBy(col("relName"))
      .agg(min(struct(col("treeId"), col("nodeId"), col("leftLabel"), col("rightLabel"))).as("first"))
      .select(col("relName"), col("first.leftLabel"), col("first.rightLabel"))
      .as[(String, String, String)]
      .collect()
      .map { case (r, l, rr) => r -> (l, rr) }
      .toMap }

    graft.util.Spark.release(joined)
    assemble(prodRows, multiFlags, sideOrder, keepUnlabelled, mergeLhs)
  }

  /** Local derivation for plain in-memory forests (tests, driver loops) —
    * same assembly, production rows computed without Spark.
    */
  def fromTrees(
      trees: Seq[ArchiTree],
      keepUnlabelled: Boolean = true,
      mergeLhs: Boolean = true,
  ): Schema = {
    val prodRows = scala.collection.mutable.LinkedHashSet.empty[ProdRow]
    val examples = scala.collection.mutable.Map.empty[(String, String, String), (String, String)]
    val multi = scala.collection.mutable.Map.empty[(String, String), Boolean].withDefaultValue(false)
    val order = scala.collection.mutable.Map.empty[String, (String, String)]

    trees.foreach { tree =>
      tree.subtrees.foreach { t =>
        prodTupleOf(t).foreach { case (lt, ln, rhs) => prodRows += ProdRow(lt, ln, rhs) }
        if (t.hasType(NodeType.Rel) && t.childTrees.size == 2 && t.children.size == 2 &&
          t.childTrees.forall(_.hasType(NodeType.Group))) {
          val Vector(l, r) = t.childTrees
          val pair = if (l.oid <= r.oid) (l.oid, r.oid) else (r.oid, l.oid)
          order.getOrElseUpdate(t.label.name, (l.label.name, r.label.name))
          Seq(l, r).foreach { child =>
            val key = (t.label.name, child.label.name, child.oid)
            multi.getOrElseUpdate((t.label.name, child.label.name), false)
            examples.get(key) match {
              case Some(existing) if existing != pair =>
                multi((t.label.name, child.label.name)) = true
              case None => examples(key) = pair
              case _    =>
            }
          }
        }
      }
    }
    assemble(prodRows.toSeq, multi.toMap, order.toMap, keepUnlabelled, mergeLhs)
  }

  /** Productions-only derivation straight from the forest's trees,
    * for the schema_only clustering template (similarity.py:296-339):
    * `toTree` consumes only `productions`, so the relation-orientation
    * machinery (a nodes self-join plus two extra aggregation jobs per
    * call) is skipped — one flatMap + distinct + collect, which is the
    * per-epoch fixed cost of the schema-only rewrite lane. The returned
    * schema carries an empty `relations` set; REL productions are still
    * present.
    */
  def templateFromTrees(
      forest: Dataset[TreeRow],
      keepUnlabelled: Boolean = true,
      mergeLhs: Boolean = true,
  ): Schema = {
    import forest.sparkSession.implicits._
    val rows = forest.flatMap { row =>
      row.tree.subtrees.flatMap(prodTupleOf).distinct
    }.distinct().collect().toSeq
    assemble(rows.map { case (t, n, r) => ProdRow(t, n, r) },
      Map.empty, Map.empty, keepUnlabelled, mergeLhs)
  }

  /** The shared production-extraction predicate: non-ROOT, non-lexical
    * (no leaf children), non-empty nodes yield one (lhsType, lhsName,
    * rhs-labels) row. Both local (`fromTrees`) and template
    * (`templateFromTrees`) derivations go through here — the predicate
    * must match `fromForest`'s relational filter exactly, so it lives in
    * one place. Tuple-shaped (not ProdRow) because the template path
    * ships it through a Dataset encoder.
    */
  private def prodTupleOf(t: ArchiTree): Option[(String, String, Seq[String])] = {
    val isRoot = t.label == Plain("ROOT")
    val lexical = t.children.exists(_.isInstanceOf[Child.Leaf])
    Option.when(!isRoot && !lexical && t.children.nonEmpty)(
      (t.label.nodeType.map(_.value).orNull, t.label.name, t.childTrees.map(_.label.render)))
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
    * The deduplicated group-instance keyset — one (treeId, nodeId) pair
    * per logical instance — is hash-broadcast into the ENT join when its
    * MEASURED row count is at most [[BroadcastMaxGroupRows]]. It is
    * usually orders of magnitude smaller than the ENT side it filters,
    * and without the hint Catalyst sees only an unsized aggregate and
    * falls back to shuffling + sorting every ENT row; the count reuses
    * the persisted pruned projection, so it costs one cheap aggregate,
    * not a rescan. A fact-table-sized root group degrades to a shuffled
    * join automatically.
    */
  def extractDataset(nodes: Dataset[NodeRow], groupName: String): org.apache.spark.sql.DataFrame =
    extractDataset(nodes, groupName, BroadcastMaxGroupRows)

  /** Largest group keyset [[extractDataset]] broadcasts: ~32 bytes/row
    * hashed, so the build side stays well under a gigabyte AND under
    * Spark's 512M-row broadcast hard limit, while staying far above any
    * realistic dimension keyset.
    */
  val BroadcastMaxGroupRows = 20000000L

  /** [[extractDataset]] under an explicit broadcast bound; 0 forces the
    * shuffled join.
    */
  private[model] def extractDataset(
      nodes: Dataset[NodeRow],
      groupName: String,
      broadcastMaxGroupRows: Long,
  ): org.apache.spark.sql.DataFrame = {
    // The extraction touches only ENT rows plus the target group's GROUP
    // rows, and only 8 of NodeRow's 11 columns — in particular none of
    // the REL rows with their wide composite-key strings. Persist that
    // pruned projection once: both branches below (occurrence dedup and
    // the ENT join) consume it, so the node view's lineage — which may be
    // a full loader flatten — runs exactly once, and what's cached is an
    // order of magnitude narrower than the full node view.
    @inline def timed[A](label: String)(body: => A): A =
      graft.util.Spark.timed("extract-profile", label)(body)
    // Eager checkpoint, NOT a columnar persist: the pruned projection is
    // consumed by row-shaped scans only (dedup agg, ENT join), and
    // re-encoding 8 columns into the compressed columnar cache measured
    // ~4x the checkpoint's Tungsten-row store at the orders extraction
    // (33.3 s vs 17.9 s to materialize on an identical flatten) for no
    // downstream benefit. Spark.checkpoint honors a configured
    // checkpoint dir on clusters, localCheckpoint otherwise.
    val pruned = timed("pruned+ckpt") { graft.util.Spark.checkpoint(nodes
      .filter(col("nodeType") === "ENT" ||
        (col("nodeType") === "GROUP" && col("name") === groupName))
      .select(col("treeId"), col("nodeId"), col("parentId"), col("pos"),
        col("nodeType"), col("name"), col("value"), col("oid"))) }

    // Within one tree, same-oid occurrences are copies of the same wide
    // row (the loader materializes a group once standalone plus once per
    // REL side), so deduping occurrences by (treeId, oid) BEFORE the
    // pivot shrinks it by the occurrence factor; the final value-level
    // dropDuplicates (reference semantics) still runs. The dedup is NOT
    // global: two trees may share an oid (a non-unique declared pk) yet
    // carry different values — the reference keeps both instances.
    // Occurrences with no oid keep their (treeId, nodeId) identity.
    val occurrences = pruned
      .filter(col("nodeType") === "GROUP" && col("name") === groupName)
      .select(col("treeId").as("gTree"), col("nodeId").as("gNode"), col("oid"))
    // the keyset is consumed twice (count + join), so it is persisted to
    // keep the dedup shuffle from running twice
    val deduped = occurrences
      .withColumn("k",
        when(col("oid").isNull || col("oid") === "",
          concat_ws(":", col("gTree"), col("gNode"))).otherwise(col("oid")))
      .groupBy(col("gTree"), col("k"))
      .agg(min(col("gNode")).as("gNode"))
      .select(col("gTree"), col("gNode"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val doBroadcast = timed("dedupCount") { deduped.count() } <= broadcastMaxGroupRows
    val groupsDf = if (doBroadcast) broadcast(deduped) else deduped
    val ents = pruned
      .filter(col("nodeType") === "ENT")
      .select(col("treeId"), col("parentId"), col("pos"), col("name").as("entName"), col("value"))

    // Materialize the (small) joined projection: both the pivot column
    // discovery and the pivot itself consume it, and without it each
    // pass re-scans the pruned checkpoint + re-runs the join. Same
    // checkpoint-over-columnar-cache choice as `pruned` above.
    val joined = timed("join+ckpt") { graft.util.Spark.checkpoint(ents
      .join(groupsDf, col("treeId") === col("gTree") && col("parentId") === col("gNode"))
      .select(col("gTree"), col("gNode"), col("entName"), col("pos"), col("value"))) }
    try {
      val entCols: Seq[String] = timed("entCols") {
        joined.select(col("entName")).distinct().collect().map(_.getString(0)).toSeq.sorted }

      val pivoted = joined
        .groupBy(col("gTree"), col("gNode"))
        .pivot("entName", entCols)
        .agg(max(struct(col("pos"), col("value"))).getField("value"))
        .drop("gTree", "gNode")

      // materialize before releasing the intermediate caches
      timed("pivot+dedup+ckpt") { pivoted.dropDuplicates().localCheckpoint(true) }
    } finally {
      deduped.unpersist(blocking = false)
      // pruned/joined are checkpointed, not plan-cached — release their
      // block storage explicitly (leaving it to GC + ContextCleaner let
      // orphaned blocks accumulate across a long session and measurably
      // taxed every later query's storage eviction)
      graft.util.Spark.release(joined)
      graft.util.Spark.release(pruned)
    }
  }
}
