package graft.core

import graft.SparkSpec
import graft.model.Forest
import graft.rewrite.{Generator, PropertySpec}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The engine encoding of a tree ([[ArchiTreeUDT]]) must be lossless, and
  * must agree with the JSONL edge codec ([[TreeJson]]).
  */
class ArchiTreeUDTSpec extends AnyFunSuite with SparkSpec {
  import PropertySpec.{samples, schemaGen}

  private val textGen: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(8)),
    1 -> Gen.const(""),
    1 -> Gen.oneOf("Zoë Åström", "東京 タワー", "naïve café", "a b\tc", "🌳 leaf"))

  private val labelGen: Gen[Label] = Gen.frequency(
    3 -> Gen.zip(Gen.oneOf(NodeType.all), textGen).map { case (t, n) => Typed(t, n) },
    2 -> textGen.map(Plain(_)),
    // plain labels that look typed must stay plain
    1 -> Gen.oneOf(Plain("ENT::not typed"), Plain("GROUP"), Plain("X::y::z")))

  private val metadataGen: Gen[Map[String, String]] = Gen.frequency(
    2 -> Gen.const(Map.empty[String, String]),
    1 -> Gen.mapOfN(3, Gen.zip(Gen.alphaStr.map(_.take(5)), textGen)))

  private val oidGen: Gen[String] =
    Gen.oneOf(Gen.const(""), Gen.uuid.map(_.toString), Gen.const("oïd/0.1"))

  /** Leaves interleaved with subtrees at every level; depth 0 yields
    * childless nodes.
    */
  private def treeGen(depth: Int): Gen[ArchiTree] = for {
    label <- labelGen
    n <- Gen.choose(0, if (depth == 0) 0 else 4)
    kids <- Gen.listOfN(n, Gen.oneOf(
      textGen.map(Child.Leaf(_): Child),
      Gen.lzy(treeGen(depth - 1)).map(Child.Node(_): Child)))
    oid <- oidGen
    metadata <- metadataGen
  } yield ArchiTree(label, kids.toVector, oid, metadata)

  private lazy val trees: Seq[ArchiTree] = {
    val fixture = ArchiTree(Plain("ENT::root"), Vector(
      Child.Leaf("première"),
      Child.Node(ArchiTree(Typed(NodeType.Group, "g"), Vector.empty, "oid-1", Map("k" -> "ü"))),
      Child.Leaf(""),
      Child.Node(ArchiTree.leafNode("ENT::name", "Zoë", "東京"))))
    val instances = samples(schemaGen, 5).flatMap(Generator.genInstance(_, size = 2,
      generateCollections = true))
    fixture +: (samples(Gen.choose(0, 4).flatMap(treeGen), 120) ++ instances)
  }

  test("generated trees cover every shape the encoding distinguishes") {
    val all = trees.flatMap(_.subtrees)
    assert(all.exists(_.children.isEmpty), "childless node")
    assert(all.exists(t => t.children.exists(_.isInstanceOf[Child.Leaf]) &&
      t.children.exists(_.isInstanceOf[Child.Node])), "leaves interleaved with subtrees")
    assert(all.exists(_.oid.isEmpty) && all.exists(_.oid.nonEmpty), "empty and non-empty oids")
    assert(all.exists(_.metadata.nonEmpty), "metadata")
    assert(trees.flatMap(_.leaves).exists(_.exists(_ > '\u007f')), "non-ASCII leaf text")
    assert(all.exists(t => !t.isTyped && t.label.name.contains("::")), "plain label with ::")
  }

  test("round trip through Dataset[TreeRow] and localCheckpoint") {
    val forest = Forest.fromTrees(spark, trees).localCheckpoint(true)
    assert(forest.schema("tree").dataType.isInstanceOf[ArchiTreeUDT])
    assert(Forest.collectTrees(forest) == trees)
  }

  test("round trip through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-udt").toString + "/forest"
    Forest.fromTrees(spark, trees).write.parquet(dir)
    assert(Forest.collectTrees(Forest.readParquet(spark, dir)) == trees)
  }

  test("the JSONL codec agrees with the engine encoding") {
    trees.foreach(t => assert(TreeJson.fromJson(TreeJson.toJson(t)) == t, t.render))
  }
}
