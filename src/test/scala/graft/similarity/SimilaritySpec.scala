package graft.similarity

import graft.SparkSpec
import graft.core._
import graft.metrics.Metrics
import graft.model.{Forest, TreeRow}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  test("jaccard doctests (similarity.py:50-60)") {
    assert(SeqMetrics.jaccard(Set("A", "B"), Set("A", "B", "C")) == 2.0 / 3.0)
    assert(SeqMetrics.jaccard(Set("apple", "banana", "cherry"), Set("apple", "cherry", "date")) == 0.5)
    assert(SeqMetrics.jaccard(Set.empty, Set.empty) == 1.0)
  }

  test("levenshtein ratio over sorted label sequences") {
    // indel distance semantics: ratio = 2·LCS/(|a|+|b|)
    assert(SeqMetrics.levenshtein(Set("A", "B"), Set("A", "B", "C")) == 0.8)
    assert(SeqMetrics.levenshtein(Set("A"), Set("B")) == 0.0)
    assert(SeqMetrics.levenshtein(Set("A", "B"), Set("A", "B")) == 1.0)
    assert(SeqMetrics.levenshtein(Set.empty, Set.empty) == 1.0)
  }

  test("jaro-winkler over sorted label sequences") {
    val jw = SeqMetrics.jaro(Set("A", "B"), Set("A", "B", "C"))
    assert(math.abs(jw - 0.9111111111111111) < 1e-12, s"got $jw")
    assert(SeqMetrics.jaro(Set("A", "B"), Set("A", "B")) == 1.0)
    assert(SeqMetrics.jaro(Set("A"), Set("B")) == 0.0)
  }

  /** The Set-based metrics and ancestor similarity that sorted both
    * label sets on every call, kept as the reference for the sorted-array
    * forms.
    */
  private object SetReference {
    def jaccard(x: Set[String], y: Set[String]): Double =
      if (x.isEmpty && y.isEmpty) 1.0
      else (x & y).size.toDouble / (x | y).size.toDouble

    def levenshtein(x: Set[String], y: Set[String]): Double = {
      val a = x.toIndexedSeq.sorted
      val b = y.toIndexedSeq.sorted
      if (a.isEmpty && b.isEmpty) return 1.0
      val dp = Array.ofDim[Int](b.size + 1)
      for (i <- a.indices) {
        var prev = 0
        for (j <- b.indices) {
          val tmp = dp(j + 1)
          dp(j + 1) = if (a(i) == b(j)) prev + 1 else math.max(dp(j + 1), dp(j))
          prev = tmp
        }
      }
      2.0 * dp(b.size) / (a.size + b.size)
    }

    def jaro(x: Set[String], y: Set[String]): Double = {
      val a = x.toIndexedSeq.sorted
      val b = y.toIndexedSeq.sorted
      if (a.isEmpty && b.isEmpty) return 1.0
      if (a.isEmpty || b.isEmpty) return 0.0
      val window = math.max(math.max(a.size, b.size) / 2 - 1, 0)
      val aMatched = Array.fill(a.size)(false)
      val bMatched = Array.fill(b.size)(false)
      var matches = 0
      for (i <- a.indices) {
        var j = math.max(0, i - window)
        var found = false
        while (j <= math.min(b.size - 1, i + window) && !found) {
          if (!bMatched(j) && a(i) == b(j)) {
            aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
          }
          j += 1
        }
      }
      if (matches == 0) return 0.0
      var transpositions = 0
      var k = 0
      for (i <- a.indices if aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a(i) != b(k)) transpositions += 1
        k += 1
      }
      val m = matches.toDouble
      val jaroSim = (m / a.size + m / b.size + (m - transpositions / 2) / m) / 3.0
      if (jaroSim <= 0.7) jaroSim
      else {
        var prefix = 0
        while (prefix < math.min(4, math.min(a.size, b.size)) && a(prefix) == b(prefix)) prefix += 1
        jaroSim + prefix * 0.1 * (1 - jaroSim)
      }
    }

    def similarity(x: SubtreeFeature, y: SubtreeFeature,
                   metric: (Set[String], Set[String]) => Double, decay: Double): Double = {
      if ((x.self.entLabels & y.self.entLabels).isEmpty) return 0.0
      def equivalent(a: LevelFeature, b: LevelFeature) =
        a.id == b.id || (a.isTyped && b.isTyped && a.label == b.label)
      if (equivalent(x.self, y.self)) return 1.0
      var weightSum = 0.0
      var simSum = 0.0
      for (d <- 0 until math.min(math.min(x.levels.size, y.levels.size), Similarity.MaxSimCtxDepth)) {
        val (lx, ly) = (x.levels(d), y.levels(d))
        val sim = if (equivalent(lx, ly)) 1.0 else metric(lx.entLabels, ly.entLabels)
        val w = math.pow(decay, -d)
        weightSum += w
        simSum += w * sim
      }
      math.max(0.0, math.min(1.0, simSum / weightSum))
    }
  }

  test("property: sorted-array metrics and similarity equal the Set reference exactly") {
    import org.scalacheck.Gen
    val labelGen = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h", "B", "aa", "c_name", "n_name")
    val setGen = Gen.choose(0, 8).flatMap(n => Gen.containerOfN[Set, String](n, labelGen))
    val pairs = Gen.listOfN(3000, Gen.zip(setGen, setGen))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(17L))
    val metrics = Seq(
      ("jaccard", SetReference.jaccard _, SeqMetrics.jaccard _),
      ("levenshtein", SetReference.levenshtein _, SeqMetrics.levenshtein _),
      ("jaro", SetReference.jaro _, SeqMetrics.jaro _))
    for ((x, y) <- pairs; (name, reference, now) <- metrics) {
      assert(now(x, y) == reference(x, y), s"$name on $x, $y")
      assert(SeqMetrics.byName(name)(x.toArray.sorted, y.toArray.sorted) == reference(x, y),
        s"$name on $x, $y")
    }

    // ancestor similarity over random level chains: ids collide now and
    // then (the shared-ancestor shortcut), typed labels sometimes match
    val levelGen = for {
      id <- Gen.choose(0, 5).map(i => s"id$i")
      label <- Gen.oneOf("X", "Y", "GROUP::G")
      ents <- setGen
    } yield LevelFeature(id, label, label.contains("::"), ents)
    val featGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, levelGen))
      .map(ls => SubtreeFeature(ls.toVector, 2, ls.size - 1))
    val feats = Gen.listOfN(2000, Gen.zip(featGen, featGen))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(23L))
    for ((x, y) <- feats; (name, reference, _) <- metrics; decay <- Seq(2.0, 1.5)) {
      assert(Similarity.similarity(x, y, SeqMetrics.byName(name), decay) ==
        SetReference.similarity(x, y, reference, decay), s"$name on $x, $y")
    }
  }

  private def featuresOf(treeStr: String): Map[String, SubtreeFeature] =
    Similarity.treeFeatures(SExpr.parse(treeStr), "t").toMap

  test("similarity doctest: siblings under one root = 0.5555… with jaccard") {
    val fs = featuresOf(
      "(S (X (ENT::person Alice) (ENT::fruit apple)) (Y (ENT::person Bob) (ENT::animal rabbit)))")
    val sim = Similarity.similarity(fs("t/0"), fs("t/1"), SeqMetrics.jaccardSorted)
    assert(math.abs(sim - 0.5555555555555555) < 1e-12, s"got $sim")
  }

  test("similarity shortcuts: disjoint → 0, same typed label → 1") {
    val fs = featuresOf("(S (GROUP::A (ENT::x 1)) (GROUP::A (ENT::x 2)) (Z (ENT::q 3)))")
    assert(Similarity.similarity(fs("t/0"), fs("t/1")) == 1.0) // same typed label
    assert(Similarity.similarity(fs("t/0"), fs("t/2")) == 0.0) // disjoint ents
  }

  test("candidate predicate: ENTs, tall and duplicate-entity subtrees excluded") {
    val t = SExpr.parse("(S (ENT::a 1) (X (ENT::b 2) (ENT::b 3)))")
    assert(!Similarity.isCandidate(t(Vector(0)))) // ENT node
    assert(!Similarity.isCandidate(t(Vector(1)))) // duplicate entity labels
    assert(!Similarity.isCandidate(t)) // dup propagates to the root
    val ok = SExpr.parse("(X (ENT::b 2) (ENT::c 3))")
    assert(Similarity.isCandidate(ok))
    assert(!Similarity.isCandidate(ok, maxHeight = 2)) // too tall for cap
  }

  test("clusterer groups equivalent subtrees across trees") {
    def tree(p: String, f: String, a: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)) (Y (ENT::person $p) (ENT::animal $a)))")
    val forest = Forest.fromTrees(spark,
      Seq(tree("Alice", "apple", "rabbit"), tree("Bob", "banana", "dog"), tree("Carol", "cherry", "cat")))
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    val byCluster = result.assignments.collect().groupBy(_.cluster)
    assert(byCluster.size == 2)
    // each cluster holds the three same-role nodes, one per tree
    assert(byCluster.values.map(_.length).toSet == Set(3))
    val keysByCluster = byCluster.values.map(_.map(_.key.split("/")(1)).toSet).toSet
    assert(keysByCluster == Set(Set("0"), Set("1"))) // all X together, all Y together
  }

  test("structural twins with no similar neighbor still cluster, at prob 1.0") {
    // all three X-subtrees are feature-identical (the metric never sees
    // leaf values); the Z-subtree shares no entity label with anything.
    // Exercises the representative-collapse path: the twins form a
    // complete sim-1.0 subgraph with NO cross-feature edge, so the
    // cluster must come from the multiplicity seeding, not edges.
    // the duplicated ENT::a at root level excludes the S-root itself
    // from candidacy (no-duplicate-entities rule), as in the test above
    // tree 3: root excluded by the duplicated ENT::zz, and Z vs W score
    // 0.667 < tau — genuinely nothing tau-similar inside it
    val trees = Seq("v1", "v2", "v3").map(v =>
      SExpr.parse(s"(S (X (ENT::a $v) (ENT::b w)) (Y (ENT::a $v)))")) :+
      SExpr.parse("(S (Z (ENT::zz q)) (W (ENT::zz r) (ENT::ww s)))")
    val forest = Forest.fromTrees(spark, trees)
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    val byCluster = result.assignments.collect().groupBy(_.cluster)
    val xCluster = byCluster.values.find(_.exists(_.key.endsWith("/0"))).get
    assert(xCluster.length == 3)
    assert(xCluster.forall(_.prob == 1.0))
    // the lone Z subtree must NOT appear in any cluster (min size 2)
    assert(!byCluster.values.flatten.exists(a => a.treeId == 3))
  }

  test("entity-free structural twins never cluster (metric scores them 0)") {
    // two identical untyped subtrees over plain string leaves: the
    // similarity shortcut scores entity-free pairs 0 even against
    // themselves, so the representative collapse must NOT seed them
    val trees = Seq.fill(2)(SExpr.parse("(S (X plain leaf) (ENT::a v))"))
    val forest = Forest.fromTrees(spark, trees)
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    val clustered = result.assignments.collect().map(_.key)
    assert(!clustered.exists(_.endsWith("/0")), s"X subtrees clustered: ${clustered.mkString(",")}")
  }

  test("cluster naming uses the modal typed label") {
    def tree(k: String) = SExpr.parse(s"(S (GROUP::Person (ENT::name $k) (ENT::age 1)))")
    val forest = Forest.fromTrees(spark, Seq(tree("a"), tree("b")))
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    assert(result.model.clusters.keySet.exists(_.startsWith("Person_")))
  }

  test("getEquivOf finds the cluster of an equivalent new subtree") {
    def tree(p: String, f: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)))")
    val forest = Forest.fromTrees(spark, Seq(tree("Alice", "apple"), tree("Bob", "banana")))
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    assert(result.model.clusters.size == 1)
    val name = result.model.clusters.keys.head

    // a brand-new equivalent subtree (not a member)
    val fresh = Similarity.treeFeatures(tree("Carol", "cherry"), "fresh").toMap
    assert(result.model.getEquivOf(fresh("fresh/0")) == Some(name))
    // a dissimilar one
    val other = Similarity.treeFeatures(
      SExpr.parse("(S (Z (ENT::qq 1) (ENT::ww 2)))"), "other").toMap
    assert(result.model.getEquivOf(other("other/0")).isEmpty)
  }

  test("memberFeats membership: structural twin matches via StructKey, distinct non-member does not") {
    def tree(p: String, f: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)))")
    val forest = Forest.fromTrees(spark, Seq(tree("Alice", "apple"), tree("Bob", "banana")))
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    assert(result.model.clusters.size == 1)
    val (name, summary) = result.model.clusters.head
    // identity-free: the 4 members (2 S-roots + 2 X-nodes) collapse to
    // 2 structural keys — bounded by schema variety, not data size
    assert(summary.memberFeats.size == 2)
    // a structural twin (same labels/ents, different oids and tree key)
    // is a member by StructKey — the O(1) fast path in getEquivOf
    val twin = Similarity.treeFeatures(tree("Carol", "cherry"), "twin").toMap
    assert(summary.memberFeats.contains(StructKey.of(twin("twin/0"))))
    assert(result.model.getEquivOf(twin("twin/0")) == Some(name))
    // structurally distinct and below tau → not a member, no cluster
    val other = Similarity.treeFeatures(
      SExpr.parse("(S (Z (ENT::qq 1) (ENT::ww 2)))"), "other").toMap
    assert(!summary.memberFeats.contains(StructKey.of(other("other/0"))))
    assert(result.model.getEquivOf(other("other/0")).isEmpty)
  }

  test("buildModel=false yields identical assignments and an empty model") {
    def tree(p: String, f: String, a: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)) (Y (ENT::person $p) (ENT::animal $a)))")
    val trees = Forest.fromTrees(spark,
      Seq(tree("Alice", "apple", "rabbit"), tree("Bob", "banana", "dog"), tree("Carol", "cherry", "cat")))
    val withModel = TreeClusterer.fit(trees, tau = 0.7, metricName = "jaccard")
    val without = TreeClusterer.fit(trees, tau = 0.7, metricName = "jaccard",
      buildModel = false)
    assert(without.model.clusters.isEmpty)
    assert(withModel.model.clusters.nonEmpty)
    assert(without.assignments.collect().toSet == withModel.assignments.collect().toSet)
  }

  test("entityLabels with null metric maps entities to parent labels") {
    val forest = Forest.fromTrees(spark, Seq(
      SExpr.parse("(S (X (ENT::a 1)) (GROUP::G (ENT::b 2)))")))
    val labels = new Metrics(forest, 0.7, metricName = null).origin.clustering
    assert(labels.values.toSet == Set("X", "GROUP::G"))
  }

  test("entityLabels clusters entity parents and labels their children") {
    def tree(p: String, f: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)))")
    val forest = Forest.fromTrees(spark, Seq(tree("Alice", "apple"), tree("Bob", "banana")))
    val labels = new Metrics(forest, 0.7, metricName = "jaccard").origin.clustering
    // 4 entities (2 per tree), all labelled with the single X-cluster
    assert(labels.size == 4)
    assert(labels.values.toSet.size == 1)
  }

  test("entityGroupsAbove matches the inline cluster walk it memoizes") {
    def tree(p: String, f: String, a: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)) (Y (ENT::person $p) (ENT::animal $a)))")
    val forest = Forest.fromTrees(spark,
      Seq(tree("Alice", "apple", "rabbit"), tree("Bob", "banana", "dog"), tree("Carol", "cherry", "cat")))
    val model = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard").model
    assert(model.clusters.nonEmpty)
    for {
      support <- 0 to 4
      labels <- Seq(Set("person"), Set("animal"), Set("fruit", "animal"), Set("zzz"))
    } {
      val expected: Set[Seq[String]] = model.clusters.values.iterator
        .filter(_.support > support)
        .flatMap(_.members.iterator.map(_._1.self.entLabels))
        .filter(ls => ls.exists(labels.contains))
        .map(_.toSeq.sorted)
        .toSet
      assert(model.entityGroupsAbove(support, labels) == expected,
        s"support=$support labels=$labels")
      // memoized second ask returns the same value
      assert(model.entityGroupsAbove(support, labels) == expected)
    }
  }

  // Reference re-implementation of treeFeatures as it stood before the
  // linear-time rewrite: positionedSubtrees + pre-order synthetic-id map
  // + per-candidate ancestor chain via root walks. The production version
  // must emit EXACTLY this (same keys, same order, same level chains) —
  // it only changes the asymptotics, O(n·subtree) → O(n).
  private def referenceTreeFeatures(
      tree: ArchiTree,
      treeKey: String,
      maxHeight: Int = 5,
  ): Vector[(String, SubtreeFeature)] = {
    val positioned = tree.positionedSubtrees
    val idOf: Map[Vector[Int], String] = positioned.zipWithIndex.map {
      case ((path, t), i) => path -> (if (t.oid.nonEmpty) t.oid else s"$treeKey@$i")
    }.toMap
    positioned.collect {
      case (path, t) if Similarity.isCandidate(t, maxHeight) =>
        val chain = Iterator
          .iterate(path)(p => p.dropRight(1))
          .take(path.size + 1)
          .take(Similarity.MaxSimCtxDepth)
          .toVector
        val levels = chain.map { p =>
          val node = tree(p)
          LevelFeature(idOf(p), node.label.render, node.label.isTyped, node.entityLabels)
        }
        s"$treeKey/${path.mkString(".")}" -> SubtreeFeature(levels, t.height, path.size)
    }
  }

  test("property: treeFeatures matches the quadratic reference on random trees") {
    val rnd = new scala.util.Random(42)
    // mixed leaf/node children at varying positions (the candidate path
    // indexes the FULL children vector), depths past maxHeight, duplicate
    // entity labels, and typed/untyped labels — every branch of the
    // candidate predicate and of the ancestor-chain truncation
    def nodeStr(depth: Int): String = {
      val label = Seq("X", "Y", "GROUP::G", "REL::r", "ENT::person", "ENT::fruit",
        "ENT::person")(rnd.nextInt(7))
      val n = 1 + rnd.nextInt(3)
      val kids = (0 until n).map { _ =>
        if (depth >= 7 || rnd.nextInt(3) == 0) "leaf" + rnd.nextInt(5)
        else nodeStr(depth + 1)
      }
      s"($label ${kids.mkString(" ")})"
    }
    // stamp oids on every third pre-order node: both id paths (oid kept,
    // synthetic fallback) appear in the same tree
    def stampOids(t: ArchiTree, counter: Iterator[Int]): ArchiTree = {
      val i = counter.next()
      val kids = t.children.map {
        case Child.Node(c) => Child.Node(stampOids(c, counter)): Child
        case l             => l
      }
      t.copy(children = kids, oid = if (i % 3 == 0) s"oid$i" else "")
    }
    (1 to 200).foreach { _ =>
      val it = Iterator.from(0)
      val tree = stampOids(SExpr.parse(s"(S ${nodeStr(0)} ${nodeStr(0)})"), it)
      assert(Similarity.treeFeatures(tree, "t") == referenceTreeFeatures(tree, "t"))
      assert(Similarity.treeFeatures(tree, "t", maxHeight = 3) ==
        referenceTreeFeatures(tree, "t", maxHeight = 3))
    }
  }

  test("property: tau-graph paths agree on random forests") {
    import org.scalacheck.Gen
    // random small forests over a shared entity alphabet so blocking
    // produces cross-tree edges, twins, and noise in varying mixes
    val entGen = Gen.oneOf("person", "fruit", "animal", "city", "qq")
    val nodeGen: Gen[String] = for {
      label <- Gen.oneOf("X", "Y", "X2", "Z")
      n <- Gen.choose(1, 3)
      ents <- Gen.pick(n, Seq("person", "fruit", "animal", "city", "qq"))
      vals <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => if (s.isEmpty) "v" else s.take(4)))
    } yield ents.zip(vals).map { case (e, v) => s"(ENT::$e $v)" }.mkString(s"($label ", " ", ")")
    val treeGen: Gen[String] = Gen.choose(1, 3)
      .flatMap(k => Gen.listOfN(k, nodeGen))
      .map(_.mkString("(S ", " ", ")"))
    val forestGen: Gen[Seq[String]] = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, treeGen))

    val forests = Gen.listOfN(8, forestGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    forests.foreach { treeStrs =>
      val forest = Forest.fromTrees(spark, treeStrs.map(SExpr.parse))
      def run(f: Dataset[TreeRow]): (Map[String, (String, Double)], Map[String, ClusterSummary]) = {
        val r = TreeClusterer.fit(f, tau = 0.6, metricName = "jaccard")
        (r.assignments.collect().map(a => a.key -> (a.cluster, a.prob)).toMap, r.model.clusters)
      }
      val reference = run(forest)
      def atPartitions(n: Int) = {
        val before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        try run(forest) finally spark.conf.set("spark.sql.shuffle.partitions", before)
      }
      // the fit's aggregate merges partials in task order and the
      // tau-graph is scored on the driver: neither the shuffle width
      // nor how the trees are spread over partitions may change a
      // cluster, a probability or a kept member
      Seq(
        "1 shuffle partition" -> atPartitions(1),
        "7 shuffle partitions" -> atPartitions(7),
        "repartitioned forest" -> run(forest.repartition(3))).foreach { case (what, got) =>
        assert(got == reference, s"$what diverges on forest ${treeStrs.mkString(" | ")}")
      }
    }
  }

  test("assignments are a per-candidate lookup: no exchange, no join") {
    // Plan guardrail: a candidate's cluster and probability are a
    // function of its StructKey, so the assignment set is the candidate
    // extraction plus a map lookup. An Exchange or a join here means the
    // fit re-joins members against a data-sized frame again.
    def tree(p: String, f: String, a: String) =
      SExpr.parse(s"(S (X (ENT::person $p) (ENT::fruit $f)) (Y (ENT::person $p) (ENT::animal $a)))")
    val forest = Forest.fromTrees(spark,
      Seq(tree("Alice", "apple", "rabbit"), tree("Bob", "banana", "dog"), tree("Carol", "cherry", "cat")))
    val result = TreeClusterer.fit(forest, tau = 0.7, metricName = "jaccard")
    val p = result.assignments.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"the assignment plan shuffles:\n$p")
    assert("Join|CartesianProduct".r.findFirstIn(p).isEmpty, s"the assignment plan joins:\n$p")
    assert(result.assignments.count() == 6)
  }
}
