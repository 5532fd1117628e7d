package graft.rewrite

import graft.{SparkSpec, TestForests}
import graft.core._
import graft.model.{Forest, Group, Relation, RelationOrientation, Schema, TreeRow, Trees}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Operation goldens ported from tests/simplification/tree_rewriting/…
  * plus generator-based property checks (test_operations.py:20-63).
  */
class RewriteSpec extends AnyFunSuite with SparkSpec {

  private def t(s: String): ArchiTree = SExpr.parse(s)

  // --- reductions (test_reduce.py) ---

  test("reduce_bottom: simple, nested, no-reduction") {
    val (r1, c1) = TreeOps.reduceBottom(t("(SENT (1 (2 (ENT::A aaa) (ENT::B bbb))))"))
    assert(c1 && r1.render == "(SENT (1 (ENT::A aaa) (ENT::B bbb)))")

    val (r2, c2) = TreeOps.reduceBottom(t("(SENT (1 (2 (ENT::A aaa) (ENT::B bbb)) (3 (ENT::C ccc))))"))
    assert(c2 && r2.render == "(SENT (1 (ENT::A aaa) (ENT::B bbb) (ENT::C ccc)))")

    val (r3, c3) = TreeOps.reduceBottom(t("(SENT (ENT::A aaa) (ENT::B bbb))"))
    assert(!c3 && r3.render == "(SENT (ENT::A aaa) (ENT::B bbb))")
  }

  test("reduce_top: simple, nested, no-reduction") {
    val (r1, c1) = TreeOps.reduceTop(t("(SENT (1 (2 (ENT::A aaa) (ENT::B bbb))))"))
    assert(c1 && r1.render == "(SENT (2 (ENT::A aaa) (ENT::B bbb)))")

    val (r2, c2) = TreeOps.reduceTop(t("(SENT (1 (2 (ENT::A aaa) (ENT::B bbb)) (3 (ENT::C ccc))))"))
    assert(c2 && r2.render == "(SENT (2 (ENT::A aaa) (ENT::B bbb)) (3 (ENT::C ccc)))")

    val (r3, c3) = TreeOps.reduceTop(t("(SENT (ENT::A aaa) (ENT::B bbb))"))
    assert(!c3)
    assert(r3.render == "(SENT (ENT::A aaa) (ENT::B bbb))")
  }

  // --- relations (test_find_relations.py) ---

  test("find_relations: GROUP-GROUP relabels the parent") {
    val (r, c) = TreeOps.findRelations(t("(SENT (GROUP::A x) (GROUP::B y))"))
    assert(c && r.render == "(REL::A<->B (GROUP::A x) (GROUP::B y))")
  }

  test("find_relations: GROUP-COLL distributes over members") {
    val (r, c) = TreeOps.findRelations(t("(SENT (GROUP::A x) (COLL::B (GROUP::B 1) (GROUP::B 2)))"))
    assert(c && r.render ==
      "(SENT (REL::A<->B (GROUP::A x) (GROUP::B 1)) (REL::A<->B (GROUP::A x) (GROUP::B 2)))")
  }

  test("find_relations: same-name group/collection is not a relation") {
    val in = "(SENT (GROUP::A x) (COLL::A (GROUP::A 1) (GROUP::A 2)))"
    val (r, c) = TreeOps.findRelations(t(in))
    assert(!c && r.render == in)
  }

  test("find_relations naming-only: labels GROUP-GROUP, skips GROUP-COLL") {
    val (r1, c1) = TreeOps.findRelations(t("(SENT (GROUP::A x) (GROUP::B y))"), namingOnly = true)
    assert(c1 && r1.render == "(REL::A<->B (GROUP::A x) (GROUP::B y))")

    val in = "(SENT (GROUP::A x) (COLL::B (GROUP::B 1) (GROUP::B 2)))"
    val (r2, c2) = TreeOps.findRelations(t(in), namingOnly = true)
    assert(!c2 && r2.render == in)
  }

  // --- collections (test_find_collections.py) ---

  test("find_collections: all-consumed node becomes the collection") {
    val (r, c) = TreeOps.findCollections(t("(SENT (GROUP::A x) (GROUP::A y))"))
    assert(c && r.render == "(COLL::A (GROUP::A x) (GROUP::A y))")
  }

  test("find_collections: multiple labels merge in place") {
    val (r, c) = TreeOps.findCollections(t(
      "(SENT (GROUP::A 1) (GROUP::A 2) (GROUP::B 3) (GROUP::B 4) (GROUP::A 5) (ENT 6) (GROUP::C 7) (GROUP::C 8))"))
    assert(c && r.render ==
      "(SENT (COLL::A (GROUP::A 1) (GROUP::A 2) (GROUP::A 5)) (COLL::B (GROUP::B 3) (GROUP::B 4)) (ENT 6) (COLL::C (GROUP::C 7) (GROUP::C 8)))")
  }

  test("find_collections: nested collections flatten into the merge") {
    val (r, c) = TreeOps.findCollections(t(
      "(SENT (GROUP::A 1) (COLL::A (GROUP::A 2) (GROUP::A 3)) (GROUP::A 4) (COLL::A (GROUP::A 5) (GROUP::A 6)))"))
    assert(c && r.render ==
      "(COLL::A (GROUP::A 1) (GROUP::A 2) (GROUP::A 3) (GROUP::A 4) (GROUP::A 5) (GROUP::A 6))")
  }

  test("find_collections naming-only") {
    val (r1, c1) = TreeOps.findCollections(t("(SENT (GROUP::A x) (GROUP::A y))"), namingOnly = true)
    assert(c1 && r1.render == "(COLL::A (GROUP::A x) (GROUP::A y))")

    val in = "(SENT (GROUP::A x) (GROUP::A y) (GROUP::B z))"
    val (r2, c2) = TreeOps.findCollections(t(in), namingOnly = true)
    assert(!c2 && r2.render == in)
  }

  // --- create_group / find_groups (test_find_groups.py) ---

  test("create_group flattens descendants into entities") {
    assert(TreeOps.createGroup(t("(1 (ENT::X xxx) (ENT::Y yyy))"), "0").render ==
      "(GROUP::0 (ENT::X xxx) (ENT::Y yyy))")
    assert(TreeOps.createGroup(t("(1 (ENT::X xxx) (2 (ENT::Y yyy) (3 (ENT::Z zzz))))"), "0").render ==
      "(GROUP::0 (ENT::X xxx) (ENT::Y yyy) (ENT::Z zzz))")
  }

  test("findGroupsInTree converts assigned qualifying subtrees") {
    val tree = t("(parent (1 (ENT::X xxx) (ENT::Y yyy)))")
    val out = Rewrite.findGroupsInTree(
      tree, 7L, Seq("7/0" -> "grp_0"), Map("grp_0" -> 0))
    assert(out.render == "(parent (GROUP::grp_0 (ENT::X xxx) (ENT::Y yyy)))")

    // parent already a GROUP → skipped
    val nested = t("(GROUP::g (1 (ENT::X xxx) (ENT::Y yyy)))")
    val out2 = Rewrite.findGroupsInTree(nested, 7L, Seq("7/0" -> "c"), Map("c" -> 0))
    assert(out2.render == nested.render)

    // existing GROUP gets renamed only
    val g = t("(parent (GROUP::old (ENT::X xxx) (ENT::Y yyy)))")
    val out3 = Rewrite.findGroupsInTree(g, 7L, Seq("7/0" -> "new"), Map("new" -> 0))
    assert(out3.render == "(parent (GROUP::new (ENT::X xxx) (ENT::Y yyy)))")
  }

  test("find_groups goldens (reference test_find_groups.py): root, largest, frequent, multi") {
    // without_parent: a root whose children are all ENTs converts itself
    val root = Rewrite.findGroupsInTree(
      t("(SENT (ENT::X xxx) (ENT::Y yyy))"), 7L, Seq("7/" -> "0"), Map("0" -> 0))
    assert(root.render == "(GROUP::0 (ENT::X xxx) (ENT::Y yyy))")

    // largest: the root member does NOT qualify (a non-ENT child), so
    // only the inner subtree converts — regardless of cluster order
    val largest = Rewrite.findGroupsInTree(
      t("(1 (2 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz))"), 7L,
      Seq("7/" -> "0", "7/0" -> "1"), Map("0" -> 0, "1" -> 1))
    assert(largest.render == "(1 (GROUP::1 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz))")

    // frequent: same shape, the subtree sits in the higher-support
    // cluster and takes ITS name
    val frequent = Rewrite.findGroupsInTree(
      t("(1 (2 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz))"), 7L,
      Seq("7/0" -> "0", "7/" -> "1"), Map("0" -> 0, "1" -> 1))
    assert(frequent.render == "(1 (GROUP::0 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz))")

    // multi: two qualifying members of two clusters convert in one pass
    val multi = Rewrite.findGroupsInTree(
      t("(SENT (1 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz) (2 (ENT::A aaa) (ENT::B bbb) (ENT::C ccc)))"),
      7L, Seq("7/2" -> "0", "7/0" -> "1"), Map("0" -> 0, "1" -> 1))
    assert(multi.render ==
      "(SENT (GROUP::1 (ENT::X xxx) (ENT::Y yyy)) (ENT::Z zzz) (GROUP::0 (ENT::A aaa) (ENT::B bbb) (ENT::C ccc)))")
  }

  // --- simple_rewrite ---

  test("simple_rewrite collapses unlabelled trees into one group") {
    val forest = Forest.fromTrees(spark, Seq(
      t("(S (X (ENT::a 1) (ENT::b 2)) (ENT::a 3))"),
      t("(S (Y (ENT::a 9) (ENT::b 8)))"),
      t("(S (GROUP::g (ENT::z 0)))"))) // fully labelled → untouched
    val out = Forest.collectTrees(Rewrite.simpleRewrite(forest))
    assert(out(0).render == "(S (GROUP::1 (ENT::a 1) (ENT::b 2)))") // first occurrence per label
    assert(out(1).render == "(S (GROUP::1 (ENT::a 9) (ENT::b 8)))") // same key → same id
    assert(out(2).render == "(S (GROUP::g (ENT::z 0)))")
  }

  // --- generator + property: resulting schema verifies ---

  private val medical = Schema.fromDescription(
    groups = Set(
      Group("SOSY", Set("SOSY", "ANATOMIE", "SUBSTANCE")),
      Group("TREATMENT", Set("SUBSTANCE", "DOSAGE", "ADMINISTRATION", "FREQUENCY")),
      Group("EXAM", Set("DIAGNOSTIC_PROCEDURE", "ANATOMIE"))),
    relations = Set(
      Relation("PRESCRIPTION", "SOSY", "TREATMENT", RelationOrientation.Both),
      Relation("EXAM_RESULT", "EXAM", "SOSY", RelationOrientation.Both)),
    collections = false)

  test("gen_instance produces schema-conformant trees") {
    val trees = Generator.genInstance(medical, size = 3, generateCollections = false)
    assert(trees.size == 3 * 3 + 2 * 3)
    val rooted = trees.map(tr => ArchiTree(Plain("ROOT"), Vector(Child.Node(tr))))
    val schema = Schema.fromTrees(rooted, keepUnlabelled = false)
    assert(schema.verify)
    assert(schema.groups.map(_.name) == Set("SOSY", "TREATMENT", "EXAM"))
  }

  test("property: every operation preserves schema validity on generated instances") {
    val trees = Generator.genInstance(medical, size = 4, generateCollections = true)
      .map(tr => ArchiTree(Plain("ROOT"), Vector(Child.Node(tr))))
    val ops: Seq[ArchiTree => (ArchiTree, Boolean)] = Seq(
      TreeOps.reduceBottom, TreeOps.reduceTop,
      tr => TreeOps.findRelations(tr), tr => TreeOps.findCollections(tr))
    ops.foreach { op =>
      val rewritten = trees.map(tr => op(tr)._1)
      val schema = Schema.fromTrees(rewritten, keepUnlabelled = false)
      assert(schema.verify, s"schema invalid after op")
    }
  }

  test("rewrite fixpoint on noised instances yields a valid schema") {
    // wrap each group under an untyped node to give the loop work; tau
    // must exceed the 0.75 cross-role similarity of this synthetic or the
    // tau-graph (like the reference's epsilon-linkage) merges all roles
    val noised = Generator.genInstance(medical, size = 6, generateCollections = false)
      .map(tr => ArchiTree(Plain("ROOT"), Vector(Child.Node(ArchiTree(Plain("S"), Vector(Child.Node(tr)))))))
    val forest = Forest.fromTrees(spark, noised)
    val out = Rewrite.rewrite(forest, Rewrite.Config(tau = 0.85, epochs = 4, minSupport = Some(2)))
    val schema = Schema.fromForest(Forest.toNodesDF(out), keepUnlabelled = false)
    assert(schema.verify, schema.asCfg)
    assert(schema.groups.nonEmpty)
  }

  test("rewriteWithStats reports natural convergence, cap cutoff, and empty fixpoint") {
    // same-label sibling groups under an untyped node: FindCollections
    // fires in epoch 1, nothing fires in epoch 2 → natural fixpoint at 2
    val working = Forest.fromTrees(spark, Seq(
      t("(ROOT (X (GROUP::A (ENT::a 1) (ENT::b 2)) (GROUP::A (ENT::a 3) (ENT::b 4))))")))
    val cfg = Rewrite.Config(tau = 0.85, minSupport = Some(Int.MaxValue))
    val natural = Rewrite.rewriteWithStats(working, cfg)
    assert(natural.epochsToConverge.contains(2),
      "one op-firing pass then one silent pass = fixpoint at epoch 2")

    // the cap cuts the loop after its single (changing) pass → None
    val capped = Rewrite.rewriteWithStats(working, cfg.copy(epochs = 2))
    assert(capped.epochsToConverge.isEmpty,
      "a cap hit while the forest is still changing must not read as convergence")

    // an empty forest is trivially its own fixpoint
    val empty = Rewrite.rewriteWithStats(Forest.fromTrees(spark, Seq.empty), cfg)
    assert(empty.epochsToConverge.contains(0))
  }

  test("simplifyNames canonicalizes suffixed group names and rel/coll labels") {
    val forest = Forest.fromTrees(spark, Seq(
      t("(ROOT (REL::x (GROUP::Terr_1_5_2 (ENT::a 1)) (GROUP::Other_3 (ENT::b 2))))"),
      t("(ROOT (COLL::c (GROUP::Terr_7 (ENT::a 3)) (GROUP::Terr_7 (ENT::a 4))))")))
    val out = Forest.collectTrees(Rewrite.simplifyNames(Trees(forest)).toDataset)
    // Terr_1_5_2 and Terr_7 share base "Terr" → first (sorted) keeps it
    assert(out(0).render.contains("GROUP::Terr ") || out(0).render.contains("GROUP::Terr_1"))
    val allRendered = out.map(_.render).mkString(" ")
    assert(allRendered.contains("GROUP::Other"))
    // REL renamed from contained groups
    assert(out(0).childTrees.head.label.render.startsWith("REL::"))
    assert(out(0).childTrees.head.label.name.contains("<->"))
    // COLL renamed from contained group
    assert(out(1).childTrees.head.label.name.startsWith("Terr"))
  }

  // --- the epoch loop on a customer-shaped forest ---

  private def customerForest(): Dataset[TreeRow] = TestForests.customers(spark)

  test("rewrite epochs run at most five Spark jobs each") {
    // one epoch: reduce_all checkpoint, the fit's aggregate and top-K
    // passes, the find_groups checkpoint, the fused op trials. Every
    // job counts — AQE query-stage and broadcast jobs included — and
    // the entry (checkpoint + count) and exit (post-process, name
    // collection, final checkpoint) get a fixed allowance
    val forest = customerForest()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try {
        val r = Rewrite.rewriteWithStats(forest, Rewrite.Config(tau = 0.7))
        org.apache.spark.TestListenerBus.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    val epochs = result.epochsToConverge.getOrElse(fail("the customer forest must converge"))
    assert(epochs >= 3, s"the budget needs a multi-epoch run, got $epochs")
    info(s"${jobs.get} jobs over $epochs epochs")
    val entryExit = 8
    assert(jobs.get <= 5 * epochs + entryExit,
      s"${jobs.get} jobs over $epochs epochs, budget ${5 * epochs} + $entryExit")
  }

  test("a forest within LocalMaxTrees is rewritten in at most three Spark jobs") {
    val forest = customerForest()
    val (result, jobs) = jobsDuring(Rewrite.rewriteWithStats(forest, Rewrite.Config(tau = 0.7)))
    assert(result.epochsToConverge.exists(_ >= 3), "the budget needs a multi-epoch run")
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 3, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
  }

  test("customer rewrite matches its pinned golden across partitions and modes") {
    // golden: (treeId, tree) rows and epochsToConverge (-1 = cap hit)
    // of the instance and schema-only rewrites, recorded from the
    // join-based fit this one-pass fit replaced. Schema-only mode does
    // not reach a fixpoint on this forest, so it runs under an 8 cap
    val src = scala.io.Source.fromResource("graft/rewrite/customer_rewrite_golden.tsv")
    val lines = try src.getLines().toVector finally src.close()
    val epochs = lines.collect { case l if l.startsWith("#") =>
      val Array(mode, n) = l.drop(1).split("\t"); mode -> n.toInt
    }.toMap
    val rows = lines.filterNot(_.startsWith("#")).map(_.split("\t", 3))
      .groupMap(_(0))(a => (a(1).toLong, a(2)))
    val runs = Seq(("instance", "1"), ("instance", "7"), ("schema", "1"), ("schema", "7"))
    runs.foreach { case (mode, parts) =>
      withConf("spark.sql.shuffle.partitions" -> parts) {
        val cfg = Rewrite.Config(tau = 0.7)
        val r = Rewrite.rewriteWithStats(customerForest(),
          if (mode == "schema") cfg.copy(schemaOnly = true, epochs = 8) else cfg)
        val what = s"$mode, $parts shuffle partitions"
        assert(r.epochsToConverge.getOrElse(-1) == epochs(mode), what)
        assert(r.forest.collect().map(t => (t.treeId, TreeJson.toJson(t.tree))).sortBy(_._1).toSeq == rows(mode),
          what)
      }
    }
  }

  // --- the Dataset path, forced with a driver-path bound of 0 ---

  private def collected(r: Rewrite.RewriteResult): (Int, Seq[(Long, String)]) =
    (r.epochsToConverge.getOrElse(-1),
      r.forest.collect().map(t => (t.treeId, TreeJson.toJson(t.tree))).sortBy(_._1).toSeq)

  test("Dataset-path rewrite epochs run at most five Spark jobs each") {
    val forest = customerForest()
    val (result, jobs) = jobsDuring(
      Rewrite.rewriteWithStats(forest, Rewrite.Config(tau = 0.7), localMaxTrees = 0))
    val epochs = result.epochsToConverge.getOrElse(fail("the customer forest must converge"))
    assert(epochs >= 3, s"the budget needs a multi-epoch run, got $epochs")
    info(s"${jobs.size} jobs over $epochs epochs")
    val entryExit = 8
    assert(jobs.size <= 5 * epochs + entryExit,
      s"${jobs.size} jobs over $epochs epochs, budget ${5 * epochs} + $entryExit")
  }

  test("Dataset-path customer rewrite matches the pinned golden at 1 and 7 shuffle partitions") {
    val src = scala.io.Source.fromResource("graft/rewrite/customer_rewrite_golden.tsv")
    val lines = try src.getLines().toVector finally src.close()
    val epochs = lines.collect { case l if l.startsWith("#") =>
      val Array(mode, n) = l.drop(1).split("\t"); mode -> n.toInt
    }.toMap
    val rows = lines.filterNot(_.startsWith("#")).map(_.split("\t", 3))
      .groupMap(_(0))(a => (a(1).toLong, a(2)))
    for (mode <- Seq("instance", "schema"); parts <- Seq("1", "7"))
      withConf("spark.sql.shuffle.partitions" -> parts) {
        val cfg = Rewrite.Config(tau = 0.7)
        val r = Rewrite.rewriteWithStats(customerForest(),
          if (mode == "schema") cfg.copy(schemaOnly = true, epochs = 8) else cfg, localMaxTrees = 0)
        assert(collected(r) == (epochs(mode), rows(mode)), s"$mode, $parts shuffle partitions")
      }
  }

  test("property: the driver and Dataset paths give the same rows and epoch count") {
    import org.scalacheck.Gen
    // random customer-shaped forests, typed as loaded and stripped of
    // their typing, plus generated instances of random schemas with each
    // group wrapped under an untyped node; both clustering modes
    val rnd = new scala.util.Random(11)
    val customers = (0 until 4).map { i =>
      val f = TestForests.randomCustomer(spark, rnd)
      if (i % 2 == 0) f else Forest.untypeStructure(f).localCheckpoint(true)
    }
    val generated = PropertySpec.samples(
      PropertySpec.schemaGen.flatMap(s => Gen.choose(2, 4).map(s -> _)), 4)
      .zipWithIndex.map { case ((schema, size), i) =>
        val trees = Generator.genInstance(schema, size = size, generateCollections = i % 2 == 0)
          .map(tr => ArchiTree(Plain("ROOT"), Vector(Child.Node(ArchiTree(Plain("S"), Vector(Child.Node(tr)))))))
        Forest.untypeStructure(Forest.fromTrees(spark, trees)).localCheckpoint(true)
      }
    val epochs = (customers ++ generated).zipWithIndex.map { case (forest, i) =>
      val cfg = Rewrite.Config(tau = 0.7, epochs = 8, schemaOnly = i % 3 == 2)
      val local = collected(Rewrite.rewriteWithStats(forest, cfg))
      val distributed = collected(Rewrite.rewriteWithStats(forest.repartition(3), cfg, localMaxTrees = 0))
      assert(local == distributed, s"forest $i (schemaOnly = ${cfg.schemaOnly})")
      local._1
    }
    info(s"epochs to converge (-1 = cap): ${epochs.mkString(", ")}")
  }

  test("epochHook fires once per epoch on both paths with that epoch's trees") {
    val forest = customerForest()
    Seq(Rewrite.LocalMaxTrees, 0L).foreach { bound =>
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[(Long, String)])]
      val cfg = Rewrite.Config(tau = 0.7, epochHook = Some((epoch, f) =>
        seen += epoch -> f.collect().map(t => (t.treeId, TreeJson.toJson(t.tree))).sortBy(_._1).toSeq))
      val r = Rewrite.rewriteWithStats(forest, cfg, bound)
      val epochs = r.epochsToConverge.getOrElse(fail("the customer forest must converge"))
      assert(seen.map(_._1) == (1 to epochs), s"bound $bound")
      // the fixpoint epoch changes nothing, so its trees are the ones
      // post-processing starts from: every tree id, once
      assert(seen.last._2.map(_._1) == collected(r)._2.map(_._1), s"bound $bound")
    }
  }
}
