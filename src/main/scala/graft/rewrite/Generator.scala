package graft.rewrite

import graft.core._
import graft.model.Schema

/** Synthetic instance generator (reference generator/__init__.py:11-104):
  * N group trees per schema group and N relation trees per relation,
  * optionally wrapped in collections. Used by the property tests and the
  * rewrite benchmarks.
  */
object Generator {

  def genGroup(schema: Schema, name: String): ArchiTree = {
    val group = schema.groups.find(_.name == name).get
    ArchiTree(
      Typed(NodeType.Group, name),
      group.entities.toVector.sorted.map(e =>
        Child.Node(ArchiTree(Typed(NodeType.Ent, e), Vector(Child.Leaf("data"))))))
  }

  def genRelation(schema: Schema, name: String): ArchiTree = {
    val rel = schema.relations.find(_.name == name).get
    ArchiTree(
      Typed(NodeType.Rel, name),
      Vector(Child.Node(genGroup(schema, rel.left)), Child.Node(genGroup(schema, rel.right))))
  }

  def genCollection(name: String, elements: Seq[ArchiTree]): ArchiTree =
    ArchiTree(Typed(NodeType.Coll, name), elements.map(e => Child.Node(e): Child).toVector)

  def genInstance(schema: Schema, size: Int = 200, generateCollections: Boolean = true): Seq[ArchiTree] = {
    val groups = schema.groups.toSeq.sortBy(_.name).flatMap { g =>
      val gen = Seq.fill(size)(genGroup(schema, g.name))
      if (generateCollections) Seq(genCollection(g.name, gen)) else gen
    }
    val rels = schema.relations.toSeq.sortBy(_.name).flatMap { r =>
      val gen = Seq.fill(size)(genRelation(schema, r.name))
      if (generateCollections) Seq(genCollection(r.name, gen)) else gen
    }
    groups ++ rels
  }
}
