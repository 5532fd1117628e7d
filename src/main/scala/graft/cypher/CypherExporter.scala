package graft.cypher

import graft.core._
import graft.model.{Schema, TreeRow}
import org.apache.spark.sql.Dataset

/** Cypher export (reference database/export/cypher.py:17-176) as
  * statement generation: collapsible groups (schema.py:442-501) become
  * attributed edges, every other group a MERGE'd node keyed by
  * `_architxt_oid`, every 2-group REL a MERGE'd edge. The reference
  * writes through a live Neo4j session; here the statements land in a
  * Dataset[String] (distinct — MERGE is idempotent) that a connector or
  * cypher-shell can replay, plus the cleanup statements.
  *
  * Deviation: property literals are rendered as valid Cypher (quoted
  * strings, bare numbers, lowercase booleans) instead of the reference's
  * Python repr interpolation.
  */
object CypherExporter {

  final case class CypherExport(statements: Dataset[String], cleanup: Seq[String])

  def export(forest: Dataset[TreeRow], schema: Schema): CypherExport = {
    import forest.sparkSession.implicits._
    val collapsible = schema.findCollapsibleGroups
    val cb = forest.sparkSession.sparkContext.broadcast(collapsible)

    val statements = forest.flatMap(row =>
      treeStatements(row.tree, cb.value)).distinct()

    CypherExport(statements, Seq(
      "MATCH (n) REMOVE n._architxt_oid",
      "DROP INDEX _architxt_oid_index IF EXISTS"))
  }

  /** export_tree (export/cypher.py:35-69). */
  def treeStatements(tree: ArchiTree, collapsible: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]

    tree.subtrees.foreach { g =>
      if (g.hasType(NodeType.Group) && !collapsible.contains(g.label.name)) {
        out += s"CREATE INDEX _architxt_oid_index IF NOT EXISTS FOR (n:`${g.label.name}`) ON (n._architxt_oid)"
        out += s"MERGE (n:`${g.label.name}` { _architxt_oid: ${literal(g.oid)} }) ON CREATE SET n += ${mapLiteral(properties(g))}"
      }
    }

    // collapsible group instance → its set of neighbor groups across RELs
    val edgeData = scala.collection.mutable.LinkedHashMap.empty[ArchiTree, Vector[ArchiTree]]
    tree.subtrees.foreach { rel =>
      if (rel.hasType(NodeType.Rel) && rel.childTrees.size == 2 && rel.children.size == 2) {
        val Vector(left, right) = rel.childTrees
        if (left.hasType(NodeType.Group) && right.hasType(NodeType.Group)) {
          if (collapsible.contains(left.label.name))
            edgeData(left) = edgeData.getOrElse(left, Vector.empty) :+ right
          else if (collapsible.contains(right.label.name))
            edgeData(right) = edgeData.getOrElse(right, Vector.empty) :+ left
          else out += relationStatement(rel, left, right)
        }
      }
    }

    edgeData.foreach { case (edge, neighbors) =>
      if (neighbors.size >= 2) {
        val Seq(src, dest) = neighbors.sortBy(_.label.render).take(2)
        out += s"MATCH (src:`${src.label.name}` { _architxt_oid: ${literal(src.oid)} }) " +
          s"MATCH (dest:`${dest.label.name}` { _architxt_oid: ${literal(dest.oid)} }) " +
          s"MERGE (src)-[r:`${edge.label.name}` ${mapLiteral(properties(edge))}]->(dest)"
      }
    }

    out.toSeq
  }

  /** export_relation (export/cypher.py:72-94): direction from the
    * `source` metadata, name from `source_column` or `A_B`.
    */
  private def relationStatement(rel: ArchiTree, left: ArchiTree, right: ArchiTree): String = {
    val Seq(a, b) = Seq(left, right).sortBy(_.label.render)
    val (src, dest) =
      if (rel.metadata.get("source").exists(_ != a.label.name)) (b, a) else (a, b)
    val relName = rel.metadata.getOrElse("source_column", rel.label.name.replace("<->", "_"))
    s"MATCH (src:`${src.label.name}` { _architxt_oid: ${literal(src.oid)} }) " +
      s"MATCH (dest:`${dest.label.name}` { _architxt_oid: ${literal(dest.oid)} }) " +
      s"MERGE (src)-[r:`$relName`]->(dest)"
  }

  /** get_properties (export/cypher.py:120-148): bool/int/float casting. */
  def properties(node: ArchiTree): Seq[(String, String)] =
    node.entities.map { e =>
      val raw = e.metadata.getOrElse("value", e.leaves.mkString(" "))
      e.label.name -> castLiteral(raw)
    }

  private def castLiteral(v: String): String = v.toLowerCase match {
    case "true" | "false" => v.toLowerCase
    case _ =>
      v.toLongOption.map(_.toString)
        .orElse(v.toDoubleOption.map(_.toString))
        .getOrElse(literal(v))
  }

  private def literal(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private def mapLiteral(props: Seq[(String, String)]): String =
    props.map { case (k, v) => s"`$k`: $v" }.mkString("{ ", ", ", " }")
}
