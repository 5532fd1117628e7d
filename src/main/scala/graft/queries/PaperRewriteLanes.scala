package graft.queries

import graft.model.{Forest, Schema, TreeRow}
import graft.queries.Lane.castCols
import graft.queries.PaperSchemaLanes.customerTrees
import org.apache.spark.sql.{Dataset, SparkSession}

/** Paper pipeline, rewrite stage: the simple and full rewrite over the
  * label-stripped customer forest, the LLM rewrite, subtree clustering
  * and its similarity metrics, and the rewrite fixpoint on generator
  * synthetics.
  */
object PaperRewriteLanes {

  /** The customer forest with its typed GROUP/REL labels flattened to
    * plain ones — the "untyped ingestion" input shape the rewrite
    * pipeline exists for.
    */
  private def untypedCustomer(s: SparkSession, d: String): Dataset[TreeRow] =
    Forest.untypeStructure(customerTrees(s, d))

  /** The fully deterministic generator forest behind the two synthetic
    * rewrite lanes: a medical-record schema instance (3 groups, 2
    * relations) wrapped in ROOT/S noise — every leaf is "data", so the
    * rewrite fixpoint must recover exactly the generating schema.
    */
  private def syntheticMedForest(s: SparkSession): Dataset[TreeRow] = {
    import graft.core._
    import graft.model.{Group => SGroup, Relation => SRelation, RelationOrientation => SRO}
    val schema = Schema.fromDescription(
      groups = Set(
        SGroup("SOSY", Set("SOSY", "ANATOMIE", "SUBSTANCE")),
        SGroup("TREATMENT", Set("SUBSTANCE", "DOSAGE", "ADMINISTRATION", "FREQUENCY")),
        SGroup("EXAM", Set("DIAGNOSTIC_PROCEDURE", "ANATOMIE"))),
      relations = Set(
        SRelation("PRESCRIPTION", "SOSY", "TREATMENT", SRO.Both),
        SRelation("EXAM_RESULT", "EXAM", "SOSY", SRO.Both)),
      collections = false)
    val noised = graft.rewrite.Generator.genInstance(schema, size = 10, generateCollections = false)
      .map(tr => ArchiTree(Plain("ROOT"),
        Vector(Child.Node(ArchiTree(Plain("S"), Vector(Child.Node(tr)))))))
    Forest.fromTrees(s, noised)
  }

  /** Sorted (lhs, rhs) production pairs of the schema a forest induces. */
  private def schemaProductions(forest: Dataset[TreeRow]): Seq[(String, String)] =
    Schema.fromForest(Forest.toNodesDF(forest), keepUnlabelled = false)
      .productions.map(p => (p.lhs, p.rhs.mkString(" "))).sorted

  val lanes: Seq[Lane] = Seq(
    // §2.3 simple_rewrite: strip the loader's typed labels (simulating an
    // untyped ingestion), collapse each tree to one GROUP of its distinct
    // entities, then extract the dataset of the single resulting group.
    Lane("simple_rewrite_customer", (s, d) => {
      import graft.rewrite.Rewrite
      val rewritten = Rewrite.simpleRewrite(untypedCustomer(s, d))
      Schema.extractDataset(Forest.toNodesDF(rewritten), "1")
    },
      s"""SELECT DISTINCT ${castCols(Seq(
           "c_acctbal", "c_custkey", "c_mktsegment", "c_name",
           "n_name", "n_nationkey", "r_name", "r_regionkey"))}
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey""".stripMargin),
    // §2.3 THE flagship `architxt simplify` shape at corpus scale: the
    // full rewrite() fixpoint (clusterer + find_groups + group/relation/
    // collection ops per epoch) over the label-stripped customer forest —
    // this is the end-to-end loop a reference user runs on real data, and
    // it load-tests the executor-side cluster-model build each epoch.
    // Output = the recovered schema's productions (deterministic: the
    // clusterer is deterministic on this forest, see cluster_subtrees).
    Lane("rewrite_customer", (s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(untypedCustomer(s, d), Rewrite.Config(tau = 0.7, epochs = 4))
      schemaProductions(out).toDF("lhs", "rhs")
    },
      // Pinned golden (verified identical across independent runs): the
      // fixpoint collapses the stripped forest to one group of the joined
      // row's 8 entity types plus its collection — the same terminal shape
      // simple_rewrite derives, reached through the full epoch loop.
      """SELECT 'COLL::UndefinedGroup' AS lhs, 'GROUP::UndefinedGroup' AS rhs
        |UNION ALL SELECT 'GROUP::UndefinedGroup',
        |  'ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name ENT::n_name ENT::n_nationkey ENT::r_name ENT::r_regionkey'""".stripMargin),
    // §2.3 llm_rewrite (simplification/llm.py), oracle-checked: the full
    // protocol — token-budget batching, numbered-list prompt/parse,
    // sanitize, vocab mining + fuzzy snap, fallback-to-original — driven
    // by the deterministic offline client (GroupifyLlmClient wraps
    // all-entity untyped nodes into GROUPs named after their first
    // entity; a live endpoint plugs in via LlmClient). Output = node
    // counts by (type, name), which the oracle derives from the customer
    // row count (the loader's per-tree multiplicities are fixed).
    Lane("llm_rewrite_customer", (s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val out = graft.llm.LlmRewrite.rewrite(untypedCustomer(s, d),
        new graft.llm.GroupifyLlmClient)
      Forest.toNodesDF(out)
        .groupBy(coalesce(col("nodeType"), lit("PLAIN")).as("node_type"), col("name"))
        .count().withColumnRenamed("count", "n_nodes")
    },
      // SF-proportional identities (verified at sf0.001/sf0.01): per tree
      // the groupified customer nodes appear 2× (standalone + in its REL),
      // nation 3× (pair + inside both RELs), region 2×; ENT counts follow
      // their groups; one ROOT and one node per REL name stay PLAIN
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
        |SELECT 'PLAIN' AS node_type, 'ROOT' AS name, n AS n_nodes FROM c
        |UNION ALL SELECT 'PLAIN', 'customer<->nation', n FROM c
        |UNION ALL SELECT 'PLAIN', 'nation<->region', n FROM c
        |UNION ALL SELECT 'ENT', 'c_acctbal', 2*n FROM c
        |UNION ALL SELECT 'ENT', 'c_custkey', 2*n FROM c
        |UNION ALL SELECT 'ENT', 'c_mktsegment', 2*n FROM c
        |UNION ALL SELECT 'ENT', 'c_name', 2*n FROM c
        |UNION ALL SELECT 'ENT', 'n_name', 3*n FROM c
        |UNION ALL SELECT 'ENT', 'n_nationkey', 3*n FROM c
        |UNION ALL SELECT 'ENT', 'r_name', 2*n FROM c
        |UNION ALL SELECT 'ENT', 'r_regionkey', 2*n FROM c
        |UNION ALL SELECT 'GROUP', 'c_custkey', 2*n FROM c
        |UNION ALL SELECT 'GROUP', 'n_nationkey', 3*n FROM c
        |UNION ALL SELECT 'GROUP', 'r_regionkey', 2*n FROM c""".stripMargin),
    // §2.5 schema_only mode (similarity.py:230,296-339): the cheap
    // clustering lane — the tau-graph runs over the SCHEMA template
    // (bounded by schema variety) and instances map in by self-label.
    // On this forest it recovers a FINER structure than instance mode
    // (two groups + their relation vs one merged group), the documented
    // behavioral difference; deterministic and scale-invariant
    // (identical productions at sf0.001/sf0.01/sf0.1), so the oracle is
    // a pinned literal golden.
    Lane("rewrite_schema_only_customer", (s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(untypedCustomer(s, d),
        Rewrite.Config(tau = 0.7, epochs = 4, schemaOnly = true))
      schemaProductions(out).toDF("lhs", "rhs")
    },
      // Pinned golden (verified identical at sf0.001/sf0.01/sf0.1): the
      // schema-template lane splits the stripped forest into the
      // nation+region group and the customer group joined by a relation
      """SELECT 'GROUP::UndefinedGroup' AS lhs,
        |       'ENT::n_name ENT::n_nationkey ENT::r_name ENT::r_regionkey' AS rhs
        |UNION ALL SELECT 'GROUP::UndefinedGroup_1',
        |  'ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name'
        |UNION ALL SELECT 'REL::UndefinedGroup<->UndefinedGroup_1',
        |  'GROUP::UndefinedGroup GROUP::UndefinedGroup_1'""".stripMargin),
    // §2.5 TreeClusterer at forest scale. The output — the cluster-size
    // histogram — is deterministic for this forest (connected components
    // of the tau-graph + min-label naming over a deterministic loader
    // forest), so the oracle is a pinned literal golden. The scale story:
    // identical-structure collapse bounds the quadratic pair stage by
    // distinct STRUCTURES, so 15k structurally-identical trees cost the
    // same as 5 (pre-collapse this query ran >10 minutes; now ~20 s).
    Lane("cluster_subtrees_customer", (s, d) => {
      // assignments are the only consumed output — skip the three
      // model-build jobs (stats, struct-keys, top-K)
      val result = graft.similarity.TreeClusterer.fit(customerTrees(s, d), tau = 0.7,
        buildModel = false)
      result.assignments.groupBy("cluster").count()
        .groupBy(org.apache.spark.sql.functions.col("count").as("cluster_size")).count()
        .select(org.apache.spark.sql.functions.col("cluster_size"),
          org.apache.spark.sql.functions.col("count").as("n_clusters"))
    },
      // Pinned golden at the driver's correctness scale (sf0.01): the
      // customer forest yields exactly three clusters, of 3000, 4500, and
      // 6000 member subtrees (deterministic — see the query comment above).
      """SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(n_clusters AS BIGINT) AS n_clusters
        |FROM (VALUES (3000, 1), (4500, 1), (6000, 1)) AS t(cluster_size, n_clusters)""".stripMargin),
    // §2 rows 34–35: the similarity metrics under a cross-engine oracle.
    // A fixed six-item candidate set (literal entity-label sets with one
    // ancestor level each, single-character labels) runs the REAL
    // feature path — Similarity.treeFeatures over hand-built trees —
    // then every unordered pair is scored in executors with the
    // decay-weighted ancestor similarity (metric=jaccard, decay=2) and
    // the raw sequence-jaro on the level-0 sets, and thresholded into
    // the tau-graph edge set (reference similarity.py:44-77,92-168).
    // DuckDB recomputes all of it independently: jaccard via
    // list_intersect/list_distinct, the decay formula with the same
    // short-circuits (disjoint level-0 sets → 0 BEFORE the typed-label
    // check; equal typed labels → 1), and sequence-jaro via
    // jaro_winkler_similarity on the sorted label concatenation (label
    // sequences over single-char labels ARE strings, and DuckDB's
    // winkler constants — 0.7 boost threshold, p=0.1, prefix ≤ 4 —
    // match SeqMetrics.jaro). Scores compare at integer ppb. The
    // levenshtein ratio (2·LCS/(m+n), indel-only) is exact too — the
    // inputs are SORTED DISTINCT label sequences, and the LCS of two
    // strictly increasing sequences is their set intersection, so the
    // oracle recomputes the dp's answer as
    // 2·len(list_intersect)/(m+n) without needing an indel distance
    // (DuckDB's levenshtein() is substitution-cost-1 and can't).
    Lane("similarity_tau_edges", (s, d) => {
      import s.implicits._
      import graft.core._
      import graft.similarity.{SeqMetrics, Similarity}
      def ent(l: String) = Child.Node(ArchiTree(Typed(NodeType.Ent, l), Vector(Child.Leaf("v"))))
      val specs: Seq[(Label, Seq[String], Seq[String])] = Seq(
        (Plain("A0"), Seq("a", "b", "c"), Seq("x")),
        (Plain("A1"), Seq("a", "b", "d"), Seq("x")),
        (Plain("A2"), Seq("a", "b", "c"), Seq("y")),
        (Plain("A3"), Seq("p", "q"), Seq("z")),
        (Typed(NodeType.Group, "SAME"), Seq("m", "n"), Seq("w")),
        (Typed(NodeType.Group, "SAME"), Seq("m", "o"), Seq("v")))
      val feats = specs.zipWithIndex.map { case ((lab, inner, extra), i) =>
        val tree = ArchiTree(Plain("ROOT"),
          Child.Node(ArchiTree(lab, inner.map(ent).toVector)) +: extra.map(ent).toVector)
        Similarity.treeFeatures(tree, s"t$i")
          .collectFirst { case (k, f) if k == s"t$i/0" => f }.get
      }
      val featB = s.sparkContext.broadcast(feats.toIndexedSeq)
      val pairs = for { i <- feats.indices; j <- feats.indices if i < j }
        yield (i.toLong, j.toLong)
      val tau = 0.8
      s.createDataset(pairs).map { case (i, j) =>
        val x = featB.value(i.toInt)
        val y = featB.value(j.toInt)
        val sim = Similarity.similarity(x, y, SeqMetrics.jaccard)
        val jaro = SeqMetrics.jaro(x.self.entLabels, y.self.entLabels)
        val lev = SeqMetrics.levenshtein(x.self.entLabels, y.self.entLabels)
        (i, j, math.round(sim * 1e9), math.round(jaro * 1e9),
          math.round(lev * 1e9), sim >= tau)
      }.toDF("left_id", "right_id", "sim_ppb", "jaro_l0_ppb", "lev_l0_ppb", "is_edge")
    },
      // Independent recomputation of the similarity metrics: same literal
      // feature set, jaccard + decay formula + short-circuit order in SQL,
      // sequence-jaro via the string jaro-winkler over sorted single-char
      // labels. Constant shapes (1.0·jac₀ + 0.5·jac₁)/1.5 mirror the
      // Scala loop's evaluation order so the doubles agree bit-for-bit
      // before the ppb rounding.
      """WITH items(id, typed, lab, l0, l1) AS (VALUES
        |  (0, false, 'A0', ['a','b','c'], ['a','b','c','x']),
        |  (1, false, 'A1', ['a','b','d'], ['a','b','d','x']),
        |  (2, false, 'A2', ['a','b','c'], ['a','b','c','y']),
        |  (3, false, 'A3', ['p','q'], ['p','q','z']),
        |  (4, true, 'SAME', ['m','n'], ['m','n','w']),
        |  (5, true, 'SAME', ['m','o'], ['m','o','v'])),
        |pairs AS (
        |  SELECT x.id AS li, y.id AS ri, x.typed AS xt, y.typed AS yt,
        |         x.lab AS xl, y.lab AS yl,
        |         x.l0 AS xl0, y.l0 AS yl0, x.l1 AS xl1, y.l1 AS yl1
        |  FROM items x JOIN items y ON x.id < y.id),
        |sims AS (
        |  SELECT li, ri,
        |    CASE
        |      WHEN len(list_intersect(xl0, yl0)) = 0 THEN 0.0
        |      WHEN xt AND yt AND xl = yl THEN 1.0
        |      ELSE (1.0 * (CAST(len(list_intersect(xl0, yl0)) AS DOUBLE)
        |                   / len(list_distinct(xl0 || yl0)))
        |          + 0.5 * (CAST(len(list_intersect(xl1, yl1)) AS DOUBLE)
        |                   / len(list_distinct(xl1 || yl1)))) / 1.5
        |    END AS sim,
        |    jaro_winkler_similarity(
        |      array_to_string(list_sort(xl0), ''),
        |      array_to_string(list_sort(yl0), '')) AS jaro,
        |    2.0 * len(list_intersect(xl0, yl0)) / (len(xl0) + len(yl0)) AS lev
        |  FROM pairs)
        |SELECT CAST(li AS BIGINT) AS left_id, CAST(ri AS BIGINT) AS right_id,
        |  CAST(round(sim * 1e9) AS BIGINT) AS sim_ppb,
        |  CAST(round(jaro * 1e9) AS BIGINT) AS jaro_l0_ppb,
        |  CAST(round(lev * 1e9) AS BIGINT) AS lev_l0_ppb,
        |  sim >= 0.8 AS is_edge
        |FROM sims""".stripMargin),
    // §2.3 full rewrite fixpoint on generator synthetics (rows-only:
    // approximate clustering has no SQL oracle); output = the resulting
    // schema's productions, deterministic for a fixed generator input.
    Lane("rewrite_fixpoint_synthetic", (s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(syntheticMedForest(s),
        Rewrite.Config(tau = 0.85, epochs = 4, minSupport = Some(2)))
      schemaProductions(out).toDF("lhs", "rhs")
    },
      // Pinned golden: the generator input is fully deterministic (no
      // randomness — every leaf is "data"), and the rewrite fixpoint must
      // recover EXACTLY the generating schema: its 3 groups, 2 relations,
      // and the collections the noise wrapping induced. A literal oracle is
      // the reference's own golden-test style for rewrite semantics
      // (tests/simplification/...), expressed in the driver's oracle lane.
      """SELECT 'COLL::EXAM' AS lhs, 'GROUP::EXAM' AS rhs
        |UNION ALL SELECT 'COLL::SOSY', 'GROUP::SOSY'
        |UNION ALL SELECT 'COLL::TREATMENT', 'GROUP::TREATMENT'
        |UNION ALL SELECT 'GROUP::EXAM', 'ENT::ANATOMIE ENT::DIAGNOSTIC_PROCEDURE'
        |UNION ALL SELECT 'GROUP::SOSY', 'ENT::ANATOMIE ENT::SOSY ENT::SUBSTANCE'
        |UNION ALL SELECT 'GROUP::TREATMENT', 'ENT::ADMINISTRATION ENT::DOSAGE ENT::FREQUENCY ENT::SUBSTANCE'
        |UNION ALL SELECT 'REL::EXAM<->SOSY', 'GROUP::EXAM GROUP::SOSY'
        |UNION ALL SELECT 'REL::SOSY<->TREATMENT', 'GROUP::SOSY GROUP::TREATMENT'""".stripMargin),
    // §2.3 natural convergence: the loop runs under the reference's
    // DEFAULT cap (epochs=100, tree_rewriting/__init__.py:56) and must
    // exit on its own stop condition — an epoch in which no operation
    // fires (:153-155) — not on the cap. The forest is hand-staged so
    // the op early-exit genuinely iterates (one op fires per epoch for
    // several epochs: sibling-collection merge, then group<->collection
    // relation formation, then the induced same-label relation merge …)
    // with the cluster-dependent ops neutralized by an unreachable
    // minSupport, making the whole trajectory closed-form. Stability is
    // asserted by a second full rewrite over the converged forest: it
    // must report immediate convergence (epochs_to_converge=1) and
    // reproduce the productions exactly. Both facts ride the pinned
    // golden as constant columns.
    Lane("rewrite_converge_synthetic", (s, d) => {
      import s.implicits._
      import graft.core._
      import graft.rewrite.Rewrite
      def ent(name: String, v: String) =
        ArchiTree(Typed(NodeType.Ent, name), Vector(Child.Leaf(v)))
      def grp(name: String, ents: (String, String)*) = ArchiTree(
        Typed(NodeType.Group, name),
        ents.toVector.map(e => Child.Node(ent(e._1, e._2))))
      val staged = (0 until 6).map { i =>
        ArchiTree(Plain("ROOT"), Vector(Child.Node(
          ArchiTree(Plain("X"), Vector(
            Child.Node(grp("B", "eb1" -> s"b$i", "eb2" -> s"c$i")),
            Child.Node(ArchiTree(Plain("Y"), Vector(
              Child.Node(grp("A", "ea1" -> s"p$i", "ea2" -> s"q$i")),
              Child.Node(grp("A", "ea1" -> s"r$i", "ea2" -> s"s$i"))))))))))
      }
      val cfg = Rewrite.Config(tau = 0.85, minSupport = Some(Int.MaxValue))
      val first = Rewrite.rewriteWithStats(Forest.fromTrees(s, staged), cfg)
      val again = Rewrite.rewriteWithStats(first.forest, cfg)
      val prods = schemaProductions(first.forest)
      val stable = again.epochsToConverge.contains(1) &&
        schemaProductions(again.forest) == prods
      prods.toDF("lhs", "rhs")
        .withColumn("epochs_to_converge",
          org.apache.spark.sql.functions.lit(first.epochsToConverge
            .getOrElse(sys.error("rewrite hit the epoch cap without converging")).toLong))
        .withColumn("stable_fixpoint", org.apache.spark.sql.functions.lit(stable))
    },
      // Pinned golden for the natural-convergence lane: the staged forest
      // converges in epoch 4 (three op-firing passes — collection merge,
      // relation formation, same-label relation merge — then one silent
      // pass, the reference's stop condition), and a second rewrite over
      // the result converges immediately with identical productions
      // (stable_fixpoint covers both).
      """SELECT 'COLL::A' AS lhs, 'REL::A<->B' AS rhs,
        |  CAST(4 AS BIGINT) AS epochs_to_converge, true AS stable_fixpoint
        |UNION ALL SELECT 'GROUP::A', 'ENT::ea1 ENT::ea2', 4, true
        |UNION ALL SELECT 'GROUP::B', 'ENT::eb1 ENT::eb2', 4, true
        |UNION ALL SELECT 'REL::A<->B', 'GROUP::A GROUP::B', 4, true""".stripMargin),
  )
}
