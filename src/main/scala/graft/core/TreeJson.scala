package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import scala.jdk.CollectionConverters._

/** JSON codec for trees, matching the reference's per-node dictionary
  * format (architxt/tree.py:1277-1333):
  * `{oid, type, name, metadata, children: [childDict | leafString]}`.
  *
  * Used only at the edges: the JSONL import/export
  * (architxt/forest.py:25-64) and the LLM prompt and response text.
  * Inside the engine a forest row holds the tree itself ([[ArchiTreeUDT]]).
  */
object TreeJson {
  private val mapper = new ObjectMapper()

  def toJson(t: ArchiTree): String = mapper.writeValueAsString(toNode(t))

  private def toNode(t: ArchiTree): ObjectNode = {
    val obj = mapper.createObjectNode()
    if (t.oid.nonEmpty) obj.put("oid", t.oid) else obj.putNull("oid")
    t.label match {
      case Typed(tpe, name) => obj.put("type", tpe.value); obj.put("name", name)
      case Plain(name)      => obj.putNull("type"); obj.put("name", name)
    }
    val meta = obj.putObject("metadata")
    t.metadata.toSeq.sortBy(_._1).foreach { case (k, v) => meta.put(k, v) }
    val arr = obj.putArray("children")
    t.children.foreach {
      case Child.Leaf(v)    => arr.add(v)
      case Child.Node(tree) => arr.add(toNode(tree))
    }
    obj
  }

  def fromJson(json: String): ArchiTree = fromNode(mapper.readTree(json))

  private def fromNode(node: JsonNode): ArchiTree = {
    val name = Option(node.get("name")).filterNot(_.isNull).map(_.asText).getOrElse("")
    val label = Option(node.get("type")).filterNot(_.isNull).map(_.asText) match {
      case Some(t) => NodeType.fromString(t) match {
        case Some(nt) => Typed(nt, name)
        case None     => Plain(name)
      }
      case None => Plain(name) // type:null keeps a plain label (tree.py:1316-1320)
    }
    val oid = Option(node.get("oid")).filterNot(_.isNull).map(_.asText).getOrElse("")
    val metadata = Option(node.get("metadata")).filterNot(_.isNull) match {
      case Some(m: ObjectNode) =>
        m.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      case _ => Map.empty[String, String]
    }
    val children = Option(node.get("children")).filterNot(_.isNull) match {
      case Some(arr: ArrayNode) =>
        arr.asScala.map { c =>
          if (c.isTextual) Child.Leaf(c.asText)
          else Child.Node(fromNode(c)): Child
        }.toVector
      case _ => Vector.empty[Child]
    }
    ArchiTree(label, children, oid, metadata)
  }
}
