package graft.rewrite

import graft.core._
import graft.model.{Group, Relation, RelationOrientation, Schema}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck port of the reference Hypothesis strategies
  * (tests/test_strategies.py:16-264) and the operation invariants
  * (tests/simplification/.../test_operations.py:20-63): generated schemas
  * verify; instances of generated schemas induce valid schemas; every
  * structural operation preserves schema validity.
  */
class PropertySpec extends AnyFunSuite {

  import PropertySpec._

  test("property: generated schemas verify against the meta-grammar") {
    samples(schemaGen, 30).foreach { schema =>
      assert(schema.verify, schema.asCfg)
    }
  }

  test("property: schemas derived from generated instances verify") {
    samples(schemaGen.flatMap(s => Gen.choose(1, 4).map(s -> _)), 20).foreach { case (schema, size) =>
      val trees = Generator.genInstance(schema, size = size, generateCollections = false)
        .map(t => ArchiTree(Plain("ROOT"), Vector(Child.Node(t))))
      val induced = Schema.fromTrees(trees, keepUnlabelled = false)
      assert(induced.verify, induced.asCfg)
      assert(induced.groups.map(_.name) == schema.groups.map(_.name))
    }
  }

  test("property: structural operations preserve schema validity and flag honestly") {
    val ops: Seq[(String, ArchiTree => (ArchiTree, Boolean))] = Seq(
      "reduceBottom" -> TreeOps.reduceBottom,
      "reduceTop" -> TreeOps.reduceTop,
      "findRelations" -> (t => TreeOps.findRelations(t)),
      "findCollections" -> (t => TreeOps.findCollections(t)))
    samples(schemaGen, 15).foreach { schema =>
      val trees = Generator.genInstance(schema, size = 3, generateCollections = true)
        .map(t => ArchiTree(Plain("ROOT"), Vector(Child.Node(t))))
      ops.foreach { case (name, op) =>
        val results = trees.map(op)
        // simplified flag ⇔ the tree actually changed (test_operations.py:40-63)
        results.lazyZip(trees).foreach { case ((out, changed), in) =>
          assert(changed == (out.render != in.render), s"$name flag mismatch")
        }
        val induced = Schema.fromTrees(results.map(_._1), keepUnlabelled = false)
        assert(induced.verify, s"$name broke validity:\n${induced.asCfg}")
      }
    }
  }
}

/** The sampling helper and schema generator, shared with other property
  * suites.
  */
object PropertySpec {

  /** Deterministic sampling (seed 42) — scalatestplus is not on the
    * classpath, so properties run over a fixed sample instead of forAll.
    */
  def samples[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L))

  val labelGen: Gen[String] =
    Gen.choose(1, 4).flatMap(n => Gen.stringOfN(n, Gen.alphaUpperChar))

  val schemaGen: Gen[Schema] = for {
    entityPool <- Gen.choose(4, 10).flatMap(n => Gen.containerOfN[Set, String](n, labelGen))
      .suchThat(_.size >= 4)
    nGroups <- Gen.choose(1, 5)
    groupNames <- Gen.containerOfN[Set, String](nGroups, labelGen).suchThat(_.nonEmpty)
    groups <- Gen.sequence[Seq[Group], Group](groupNames.toSeq.map { name =>
      Gen.choose(2, 5).flatMap(k =>
        Gen.pick(math.min(k, entityPool.size), entityPool).map(es => Group(name, es.toSet)))
    })
    nRels <- Gen.choose(0, 4)
    rels <-
      if (groups.size < 2) Gen.const(Seq.empty[Relation])
      else Gen.listOfN(nRels, for {
        pair <- Gen.pick(2, groups)
        o <- Gen.oneOf(RelationOrientation.Left, RelationOrientation.Right, RelationOrientation.Both)
      } yield {
        // canonical sorted name — FindRelations silently renames RELs to
        // `min<->max` without raising its flag (reference quirk), so the
        // flag⇔changed invariant only holds for canonical names
        val Seq(a, b) = Seq(pair.head.name, pair(1).name).sorted
        Relation(s"$a<->$b", pair.head.name, pair(1).name, o)
      })
  } yield Schema.fromDescription(
    groups = groups.toSet,
    relations = rels.distinctBy(_.name).filter(r => r.left != r.right).toSet,
    collections = false)
}
