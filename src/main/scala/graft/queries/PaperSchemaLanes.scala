package graft.queries

import graft.metrics.{FdMetrics, ForestInspector}
import graft.model.{Forest, NodeRow, Schema, TreeRow}
import graft.queries.Lane.castCols
import graft.sources.{RelationalLoader, Testdata}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Paper pipeline, schema stage: group extraction, schema derivation,
  * quality and verification, FD metrics, forest inspection, metric
  * snapshots, LLM labelling and the SQL, Cypher and JSONL exports. The
  * queries run the real metamodel path (loader → forest → nodes DF →
  * schema/pivot/metric), and the oracles re-derive the same answers
  * relationally from the raw parquet tables, so a match certifies the
  * loader and the derivation end to end.
  */
object PaperSchemaLanes {

  // Eager localCheckpoint beats persist(MEMORY_AND_DISK) for the forest
  // memos: it stores the already-Tungsten rows instead of re-encoding
  // 11-column batches into the columnar cache (measured at sf0.1 orders:
  // 19 s vs 30 s build, 5 s vs 10 s per extraction scan). Local mode has
  // no executor loss; a cluster deployment would use reliable
  // checkpointing (graft.util.Spark.checkpoint honors a configured
  // checkpoint dir).

  /** The customer forest's node view (one flatMap over its trees),
    * loaded once per corpus dir, not once per query.
    */
  private def customerNodes(s: SparkSession, d: String): Dataset[NodeRow] =
    Memo(("nodes", d, "customerDb"))(
      RelationalLoader.loadNodes(s, d, Testdata.customerDb).localCheckpoint(true))

  /** Tree-per-row view of the customer forest for the queries that need
    * whole trees (JSONL round trip, valid-tree filtering, the rewrite
    * lanes), loaded once per corpus dir.
    */
  private[queries] def customerTrees(s: SparkSession, d: String): Dataset[TreeRow] =
    Memo(("trees", d, "customerDb"))(
      RelationalLoader.load(s, d, Testdata.customerDb).localCheckpoint(true))

  /** Extracted group datasets, memoized: fd_* queries re-consume the
    * extract_* results, and each extraction is eagerly materialized
    * (Schema.extractDataset local-checkpoints), so the memo holds small
    * final tables, not lineage.
    */
  private def extracted(d: String, cfgName: String, group: String)(build: => DataFrame): DataFrame =
    Memo(("extract", d, cfgName, group))(build)

  private def customerExtract(s: SparkSession, d: String): DataFrame =
    extracted(d, "customerDb", "customer")(
      Schema.extractDataset(customerNodes(s, d), "customer"))

  // The orders node view has exactly one consumer (this extraction;
  // fd_confidence_orders reuses the memoized RESULT), so eagerly
  // checkpointing the full 11-column 74M-row view was pure overhead —
  // extractDataset now persists its own pruned projection (ENT rows +
  // the target GROUP rows, 8 columns, no REL key strings) and the
  // loader flatten runs exactly once.
  private def ordersExtract(s: SparkSession, d: String): DataFrame =
    extracted(d, "ordersDb", "orders")(
      Schema.extractDataset(RelationalLoader.loadNodes(s, d, Testdata.ordersDb), "orders"))

  /** Memoized customer-forest schema: a `Schema` is a small driver-side
    * value and five registered queries consume the same derivation — a
    * real session derives it once per corpus, so the registry does too.
    */
  private def customerSchema(s: SparkSession, d: String): Schema =
    Memo(("schema", d, "customerDb"))(
      Schema.fromForest(customerNodes(s, d), keepUnlabelled = false))

  /** Memoized self-compare Metrics over the customer forest — consumed
    * by BOTH the snapshot lane and the MLflow-bundle log lane (a real
    * session computes a metrics snapshot once and logs it, so the
    * registry does too; the two oracles check disjoint surfaces of the
    * same value).
    */
  private def customerMetrics(s: SparkSession, d: String): graft.metrics.Metrics =
    Memo(("metrics", d)) {
      val forest = customerTrees(s, d)
      // the snapshot's lazy schema (bundle keys schema.*) is the FULL
      // fromForest derivation (keepUnlabelled = true — customerSchema's
      // keepUnlabelled=false variant is a different value); thread a
      // memoized thunk so every consumer of this Metrics instance —
      // and any later same-dir Metrics — shares ONE derivation pass
      val m = new graft.metrics.Metrics(forest, tau = 0.7,
        sourceSchema = Some(() => Memo(("schema", d, "customerDb-full"))(
          Schema.fromForest(customerNodes(s, d)))))
      m.update(forest)
      m
    }

  /** DuckDB SQL for FdMetrics.confidenceTable over `SELECT DISTINCT
    * <casts> FROM <table>` restricted to `cols`.
    */
  private def confidenceOracle(table: String, cols: Seq[String]): String = {
    val sorted = cols.sorted
    val ds = s"SELECT DISTINCT ${castCols(cols)} FROM $table"
    val per = sorted.map { consequent =>
      val ants = sorted.filterNot(_ == consequent)
      s"""SELECT '$consequent' AS consequent,
         | (SELECT CAST(sum(m) AS DOUBLE) / (SELECT count(*) FROM ds)
         |  FROM (SELECT max(cnt) AS m
         |        FROM (SELECT ${sorted.mkString(", ")}, count(*) AS cnt FROM ds GROUP BY ${sorted.mkString(", ")})
         |        GROUP BY ${ants.mkString(", ")})) AS confidence""".stripMargin
    }
    s"WITH ds AS ($ds)\n" + per.mkString("\nUNION ALL\n")
  }

  /** Loader node-count identities (no nulls in this corpus): per tree the
    * customer group materializes once standalone + once per REL; nation
    * 2× per matched pair + 1× inside the nation<->region REL; region 2×
    * per matched chain. ents = groups × their column counts.
    */
  private lazy val inspectCountsCustomerOracle: String =
    """WITH c AS (SELECT CAST(count(*) AS BIGINT) v FROM customer),
      |     m AS (SELECT CAST(count(*) AS BIGINT) v FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |     mr AS (SELECT CAST(count(*) AS BIGINT) v
      |            FROM customer JOIN nation ON c_nationkey = n_nationkey
      |            JOIN region ON n_regionkey = r_regionkey)
      |SELECT 'total_trees' AS stat, (SELECT v FROM c) AS value
      |UNION ALL SELECT 'total_entities',
      |  ((SELECT v FROM c) + (SELECT v FROM m)) * 4
      |  + (2 * (SELECT v FROM m) + (SELECT v FROM mr)) * 2
      |  + 2 * (SELECT v FROM mr) * 2
      |UNION ALL SELECT 'total_groups',
      |  (SELECT v FROM c) + (SELECT v FROM m)
      |  + 2 * (SELECT v FROM m) + (SELECT v FROM mr)
      |  + 2 * (SELECT v FROM mr)
      |UNION ALL SELECT 'total_relations', (SELECT v FROM m) + (SELECT v FROM mr)
      |UNION ALL SELECT 'total_collections', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'total_nodes',
      |  (SELECT v FROM c)
      |  + ((SELECT v FROM c) + (SELECT v FROM m) + 2 * (SELECT v FROM m) + (SELECT v FROM mr) + 2 * (SELECT v FROM mr))
      |  + ((SELECT v FROM m) + (SELECT v FROM mr))
      |  + (((SELECT v FROM c) + (SELECT v FROM m)) * 4
      |     + (2 * (SELECT v FROM m) + (SELECT v FROM mr)) * 2
      |     + 2 * (SELECT v FROM mr) * 2)""".stripMargin

  /** DuckDB form of FdMetrics.redundancyScore over the deduplicated
    * projection of `cols`: fraction of rows duplicated on at least one
    * attribute subset (size ≥ 2) whose dependency score ≥ tau.
    */
  private def redundancyOracle(table: String, cols: Seq[String], tau: Double): String = {
    val sorted = cols.sorted
    val ds = s"SELECT DISTINCT ${castCols(cols)} FROM $table"
    val subsets = (2 to sorted.size).flatMap(k => sorted.combinations(k)).map(_.toSeq)
    def conf(s: Seq[String], consequent: String): String = {
      val ants = s.filterNot(_ == consequent)
      s"""(SELECT CAST(sum(m) AS DOUBLE) / (SELECT count(*) FROM ds)
         | FROM (SELECT max(cnt) AS m
         |       FROM (SELECT ${s.mkString(", ")}, count(*) AS cnt FROM ds GROUP BY ${s.mkString(", ")})
         |       GROUP BY ${ants.mkString(", ")}))""".stripMargin
    }
    def dep(s: Seq[String]): String = s"greatest(${s.map(c => conf(s, c)).mkString(", ")})"
    val winCols = subsets.zipWithIndex.map { case (s, i) =>
      s"count(*) OVER (PARTITION BY ${s.mkString(", ")}) AS c$i"
    }
    val marks = subsets.zipWithIndex.map { case (s, i) => s"(${dep(s)} >= $tau AND c$i > 1)" }
    s"""WITH ds AS ($ds),
       |w AS (SELECT *, ${winCols.mkString(", ")} FROM ds)
       |SELECT CAST((SELECT count(*) FROM w WHERE ${marks.mkString(" OR ")}) AS DOUBLE)
       |       / (SELECT count(*) FROM ds) AS redundancy_score""".stripMargin
  }

  val lanes: Seq[Lane] = Seq(
    // §2.4 extract_datasets. The customer/orders forests run the full
    // metamodel path (loader → node view → oid dedup → pivot); the two
    // tpch fact-scale extractions take the loader's pushdown rewrite
    // (RelationalLoader.extractGroupDataset) — the 100 TB plan, whose
    // equivalence to the generic path is differential-tested.
    Lane("extract_customer", (s, d) => customerExtract(s, d),
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer"),
    Lane("extract_nation_referenced", (s, d) => Schema.extractDataset(customerNodes(s, d), "nation"),
      s"""SELECT DISTINCT ${castCols(Seq("n_name", "n_nationkey"))} FROM nation
         |WHERE n_nationkey IN (SELECT c_nationkey FROM customer)""".stripMargin),
    Lane("extract_region_referenced", (s, d) => Schema.extractDataset(customerNodes(s, d), "region"),
      s"""SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region
         |WHERE r_regionkey IN (SELECT n_regionkey FROM nation
         |                      WHERE n_nationkey IN (SELECT c_nationkey FROM customer))""".stripMargin),
    Lane("extract_orders", (s, d) => ordersExtract(s, d),
      s"SELECT DISTINCT ${castCols(Seq("o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))} FROM orders"),
    Lane("extract_lineitem", (s, d) =>
      extracted(d, "tpch", "lineitem")(
        RelationalLoader.extractGroupDataset(s, d, Testdata.tpch, "lineitem").localCheckpoint(true)),
      s"SELECT DISTINCT ${castCols(Seq("l_discount", "l_extendedprice", "l_linenumber", "l_linestatus", "l_quantity", "l_returnflag", "l_shipdate", "l_tax"))} FROM lineitem"),
    Lane("extract_part_referenced", (s, d) =>
      extracted(d, "tpch", "part")(
        RelationalLoader.extractGroupDataset(s, d, Testdata.tpch, "part").localCheckpoint(true)),
      s"""SELECT DISTINCT ${castCols(Seq("p_brand", "p_name", "p_partkey", "p_retailprice", "p_size", "p_type"))} FROM part
         |WHERE p_partkey IN (SELECT l_partkey FROM lineitem)""".stripMargin),
    // §2.4 schema derivation surface
    Lane("schema_productions_customer", (s, d) => {
      import s.implicits._
      customerSchema(s, d)
        .productions.map(p => (p.lhs, p.rhs.mkString(" "))).toDF("lhs", "rhs")
    },
      """SELECT 'GROUP::customer' AS lhs, 'ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name' AS rhs
        |WHERE EXISTS (SELECT 1 FROM customer)
        |UNION ALL SELECT 'GROUP::nation', 'ENT::n_name ENT::n_nationkey'
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |UNION ALL SELECT 'GROUP::region', 'ENT::r_name ENT::r_regionkey'
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey)
        |UNION ALL SELECT 'REL::customer<->nation', 'GROUP::customer GROUP::nation'
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |UNION ALL SELECT 'REL::nation<->region', 'GROUP::nation GROUP::region'
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey)""".stripMargin),
    Lane("schema_relations_customer", (s, d) => {
      import s.implicits._
      customerSchema(s, d)
        .relations.toSeq.map(r => (r.name, r.left, r.right, r.orientation.toString))
        .toDF("name", "left_group", "right_group", "orientation")
    },
      """WITH cn AS (SELECT c_custkey, n_nationkey FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |     nr AS (SELECT n.n_nationkey, r.r_regionkey
        |            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |            JOIN region r ON n.n_regionkey = r.r_regionkey),
        |     cn_lm AS (SELECT EXISTS (SELECT 1 FROM cn GROUP BY c_custkey HAVING count(DISTINCT n_nationkey) > 1) AS v),
        |     cn_rm AS (SELECT EXISTS (SELECT 1 FROM cn GROUP BY n_nationkey HAVING count(DISTINCT c_custkey) > 1) AS v),
        |     nr_lm AS (SELECT EXISTS (SELECT 1 FROM nr GROUP BY n_nationkey HAVING count(DISTINCT r_regionkey) > 1) AS v),
        |     nr_rm AS (SELECT EXISTS (SELECT 1 FROM nr GROUP BY r_regionkey HAVING count(DISTINCT n_nationkey) > 1) AS v)
        |SELECT 'customer<->nation' AS name, 'customer' AS left_group, 'nation' AS right_group,
        |       CASE WHEN (SELECT v FROM cn_lm) = (SELECT v FROM cn_rm) THEN 'Both'
        |            WHEN (SELECT v FROM cn_lm) THEN 'Left' ELSE 'Right' END AS orientation
        |WHERE EXISTS (SELECT 1 FROM cn)
        |UNION ALL
        |SELECT 'nation<->region', 'nation', 'region',
        |       CASE WHEN (SELECT v FROM nr_lm) = (SELECT v FROM nr_rm) THEN 'Both'
        |            WHEN (SELECT v FROM nr_lm) THEN 'Left' ELSE 'Right' END
        |WHERE EXISTS (SELECT 1 FROM nr)""".stripMargin),
    // §2.4 schema quality scores (group_overlap, group_balance_score) —
    // integer parts-per-billion so the compare is exact (the float
    // formulas round identically on both engines at 9 decimals)
    Lane("schema_quality_customer", (s, d) => {
      import s.implicits._
      val sch = customerSchema(s, d)
      Seq((math.round(sch.groupOverlap * 1e9),
        math.round(sch.groupBalanceScore * 1e9),
        sch.groups.size.toLong))
        .toDF("overlap_ppb", "balance_ppb", "n_groups")
    },
      // overlap: the three groups' entity sets are disjoint (pinned by the
      // productions oracle) → 0. balance: 1 − σ/μ over sizes (4,2,2) —
      // σ/μ = √2/4 exactly; both engines round the same double at ppb.
      """SELECT CAST(0 AS BIGINT) AS overlap_ppb,
        |  CAST(round((1 - sqrt(2.0) / 4) * 1e9) AS BIGINT) AS balance_ppb,
        |  CAST(3 AS BIGINT) AS n_groups
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey)""".stripMargin),
    // §2.3 LLM labelling end-to-end (labelling/__init__.py:71-164):
    // group + relation rename proposals under the deterministic
    // uppercase client, applied over the forest; the per-label node
    // counts follow the loader multiplicities (same identities as the
    // inspector oracle) under the normalized upper-cased names.
    Lane("llm_label_customer", (s, d) => {
      import org.apache.spark.sql.functions.col
      val schema = customerSchema(s, d)
      val client = new graft.llm.Labelling.UppercaseLabelClient
      val gr = graft.llm.Labelling.groupLabelling(schema, client)
      val rr = graft.llm.Labelling.relationLabelling(schema, client, gr)
      val out = graft.llm.Labelling.applyRenaming(customerTrees(s, d), gr ++ rr)
      Forest.toNodesDF(out)
        .filter(col("nodeType").isin("GROUP", "REL"))
        .groupBy(col("nodeType").as("node_type"), col("name"))
        .count().withColumnRenamed("count", "n_nodes")
        .filter(col("n_nodes") > 0)
    },
      // loader multiplicities per label (same identities as the inspector
      // oracle) under the uppercase-client renames; relation names pass
      // through normalize ('<->' → '_')
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) v FROM customer),
        |     m AS (SELECT CAST(count(*) AS BIGINT) v FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |     mr AS (SELECT CAST(count(*) AS BIGINT) v
        |            FROM customer JOIN nation ON c_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey),
        |out AS (
        |  SELECT 'GROUP' AS node_type, 'CUSTOMER' AS name,
        |         (SELECT v FROM c) + (SELECT v FROM m) AS n_nodes
        |  UNION ALL SELECT 'GROUP', 'NATION', 2 * (SELECT v FROM m) + (SELECT v FROM mr)
        |  UNION ALL SELECT 'GROUP', 'REGION', 2 * (SELECT v FROM mr)
        |  UNION ALL SELECT 'REL', 'CUSTOMER_NATION', (SELECT v FROM m)
        |  UNION ALL SELECT 'REL', 'NATION_REGION', (SELECT v FROM mr))
        |SELECT node_type, name, n_nodes FROM out WHERE n_nodes > 0""".stripMargin),
    // §2.2 Tree.merge (tree.py:755-773): self-merge flattens the two
    // ROOTs into one, so every per-type count doubles while the tree
    // count holds — an arithmetic oracle over the loader identities.
    Lane("tree_merge_customer", (s, d) =>
      ForestInspector.inspectTable(
        Forest.toNodesDF(Forest.mapTrees(customerTrees(s, d))(t => t.merge(t))))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_")),
      // self-merge doubles every per-type count, tree count holds, and
      // total_nodes = trees + 2·(groups + relations + entities)
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) v FROM customer),
        |     m AS (SELECT CAST(count(*) AS BIGINT) v FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |     mr AS (SELECT CAST(count(*) AS BIGINT) v
        |            FROM customer JOIN nation ON c_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey),
        |base AS (SELECT
        |  (SELECT v FROM c) AS trees,
        |  ((SELECT v FROM c) + (SELECT v FROM m)) * 4
        |    + (2 * (SELECT v FROM m) + (SELECT v FROM mr)) * 2
        |    + 2 * (SELECT v FROM mr) * 2 AS ents,
        |  (SELECT v FROM c) + (SELECT v FROM m)
        |    + 2 * (SELECT v FROM m) + (SELECT v FROM mr)
        |    + 2 * (SELECT v FROM mr) AS grps,
        |  (SELECT v FROM m) + (SELECT v FROM mr) AS rels)
        |SELECT 'total_trees' AS stat, trees AS value FROM base
        |UNION ALL SELECT 'total_entities', 2 * ents FROM base
        |UNION ALL SELECT 'total_groups', 2 * grps FROM base
        |UNION ALL SELECT 'total_relations', 2 * rels FROM base
        |UNION ALL SELECT 'total_collections', CAST(0 AS BIGINT) FROM base
        |UNION ALL SELECT 'total_nodes', trees + 2 * (ents + grps + rels) FROM base""".stripMargin),
    // §2.6 FD metrics over extracted datasets
    Lane("fd_confidence_orders", (s, d) =>
      FdMetrics.confidenceTable(ordersExtract(s, d)),
      confidenceOracle(
        "orders", Seq("o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))),
    // dropDuplicates after dropping the key: the oracles' dataset is the
    // DISTINCT 3-column projection, and without the dedup the Spark side
    // would only agree when no two customers share those columns — a
    // data-dependent equivalence instead of a structural one
    Lane("fd_confidence_customer_nokey", (s, d) =>
      FdMetrics.confidenceTable(customerExtract(s, d).drop("c_custkey").dropDuplicates()),
      confidenceOracle("customer", Seq("c_acctbal", "c_mktsegment", "c_name"))),
    // §2.6 dependency_score / redundancy_score as query surfaces
    Lane("fd_dependency_customer", (s, d) => {
      import s.implicits._
      val df = customerExtract(s, d).drop("c_custkey").dropDuplicates()
      Seq(FdMetrics.dependencyScore(df, df.columns.toSeq)).toDF("dependency_score")
    },
      s"""SELECT max(confidence) AS dependency_score FROM (
         |${confidenceOracle("customer", Seq("c_acctbal", "c_mktsegment", "c_name"))}
         |)""".stripMargin),
    Lane("fd_redundancy_customer", (s, d) => {
      import s.implicits._
      val df = customerExtract(s, d).drop("c_custkey").dropDuplicates()
      Seq(FdMetrics.redundancyScore(df, tau = 0.5)).toDF("redundancy_score")
    },
      redundancyOracle("customer", Seq("c_acctbal", "c_mktsegment", "c_name"), tau = 0.5)),
    // §2.4 ForestInspector core counts
    Lane("inspect_counts_customer", (s, d) =>
      ForestInspector.inspectTable(customerNodes(s, d))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_")),
      inspectCountsCustomerOracle),
    // §2.7 export_sql: the customer group table after cast-on-export,
    // minus the (sha1) oid PK the oracle cannot recompute
    Lane("export_sql_customer", (s, d) => {
      val nodes = customerNodes(s, d)
      val schema = customerSchema(s, d)
      val ex = graft.sinks.SqlExporter.export(nodes, schema)
      // materialize off the export's persisted frames (localCheckpoint
      // truncates the lineage), then free them — otherwise each run of
      // this query leaks a MEMORY_AND_DISK table for the session's life
      val out = ex.tables("customer").drop(graft.sinks.SqlExporter.pkColumn("customer"))
        .dropDuplicates()
        .localCheckpoint(true)
      ex.release()
      out
    },
      "SELECT DISTINCT c_acctbal, CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment, c_name FROM customer"),
    // §2.7/§2.1 JSONL round trip: write the forest as JSONL, read it
    // back, and emit the inspector counts (same oracle as the direct
    // inspection — the round trip must be lossless)
    Lane("jsonl_roundtrip_customer", (s, d) => {
      val forest = customerTrees(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/forest"
      graft.sinks.Jsonl.write(forest, dir)
      val back = graft.sinks.Jsonl.read(s, dir)
      ForestInspector.inspectTable(Forest.toNodesDF(back))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))
    },
      // lossless round trip ⇒ identical counts
      inspectCountsCustomerOracle),
    // §2.6 Metrics snapshot machinery, oracle-checked via an algebraic
    // identity: comparing the customer forest against itself must yield
    // coverage = AMI = completeness = 1.0 exactly. This drives the whole
    // snapshot comparison — the fused snapshot pass, coverage over the
    // entity-oid sets, entity-parent clustering (TreeClusterer.EntityLabels),
    // and the Contingency math with exact EMI — so a regression anywhere
    // in it breaks an exact oracle.
    Lane("metrics_self_compare_customer", (s, d) => {
      import s.implicits._
      val m = customerMetrics(s, d)
      Seq((m.coverage, m.clusterAmi, m.clusterCompleteness))
        .toDF("coverage", "cluster_ami", "cluster_completeness")
    },
      // identity: a forest compared against itself scores perfectly
      """SELECT CAST(1.0 AS DOUBLE) AS coverage, CAST(1.0 AS DOUBLE) AS cluster_ami,
        |       CAST(1.0 AS DOUBLE) AS cluster_completeness""".stripMargin),
    // The MLflow-shaped metric bundle (metrics.py:429-462) as a query
    // surface: MetricsLog writes the self-compare bundle through the
    // JSONL sink, and the LOGGED FILE — not the in-memory Metrics —
    // is parsed back and emitted as (metric, value_ppb) rows. The
    // oracle recomputes every key relationally from the loader
    // identities (counts via the inspector arithmetic, ratios from
    // fixed label variety, identity scores from self-compare) — the
    // one model-derived key, clustering.cluster_count, follows the
    // three join contexts (customer/nation/region), verified stable
    // across sf0.001 and sf0.01.
    Lane("metrics_log_customer", (s, d) => {
      import s.implicits._
      val m = customerMetrics(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-mlog")
      val file = dir.resolve("metrics.jsonl")
      graft.metrics.MetricsLog.log(m, new graft.metrics.JsonlMetricsSink(file.toString), 0)
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(file))
      val ms = node.get("metrics")
      val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(ms.fieldNames).asScala
        .map(k => (k, math.round(ms.get(k).asDouble * 1e9))).toSeq
      rows.toDF("metric", "value_ppb")
    },
      // every bundle key recomputed relationally: counts via the inspector
      // arithmetic, distinct counts from the loader's fixed label variety
      // (8 ENT / 3 GROUP / 2 REL / 1 plain ROOT), identity scores from
      // self-compare, schema quality from the quality-lane formulas, and
      // clustering.cluster_count = 3 (one entity cluster per join context;
      // measured stable at sf0.001 and sf0.01)
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) v FROM customer),
        |     m AS (SELECT CAST(count(*) AS BIGINT) v FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |     mr AS (SELECT CAST(count(*) AS BIGINT) v
        |            FROM customer JOIN nation ON c_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey),
        |     t AS (SELECT (SELECT v FROM c) AS nc,
        |                  ((SELECT v FROM c) + (SELECT v FROM m)) * 4
        |                    + (2 * (SELECT v FROM m) + (SELECT v FROM mr)) * 2
        |                    + 2 * (SELECT v FROM mr) * 2 AS ents,
        |                  (SELECT v FROM c) + 3 * (SELECT v FROM m)
        |                    + 3 * (SELECT v FROM mr) AS grps,
        |                  (SELECT v FROM m) + (SELECT v FROM mr) AS rels),
        |     v AS (
        |  SELECT 'nodes.count' AS metric, CAST(nc + grps + rels + ents AS DOUBLE) AS value FROM t
        |  UNION ALL SELECT 'unlabeled.count', CAST(nc AS DOUBLE) FROM t
        |  UNION ALL SELECT 'unlabeled.ratio', CAST(nc AS DOUBLE) / (nc + grps + rels + ents) FROM t
        |  UNION ALL SELECT 'clustering.cluster_count', 3.0
        |  UNION ALL SELECT 'clustering.ami', 1.0
        |  UNION ALL SELECT 'clustering.completeness', 1.0
        |  UNION ALL SELECT 'entities.coverage', 1.0
        |  UNION ALL SELECT 'entities.count', CAST(ents AS DOUBLE) FROM t
        |  UNION ALL SELECT 'entities.distinct_count', 8.0
        |  UNION ALL SELECT 'entities.ratio', CAST(ents AS DOUBLE) / 8 FROM t
        |  UNION ALL SELECT 'groups.count', CAST(grps AS DOUBLE) FROM t
        |  UNION ALL SELECT 'groups.distinct_count', 3.0
        |  UNION ALL SELECT 'groups.ratio', CAST(grps AS DOUBLE) / 3 FROM t
        |  UNION ALL SELECT 'relations.count', CAST(rels AS DOUBLE) FROM t
        |  UNION ALL SELECT 'relations.distinct_count', 2.0
        |  UNION ALL SELECT 'relations.ratio', CAST(rels AS DOUBLE) / 2 FROM t
        |  UNION ALL SELECT 'collections.count', 0.0
        |  UNION ALL SELECT 'collections.distinct_count', 0.0
        |  UNION ALL SELECT 'collections.ratio', 0.0
        |  UNION ALL SELECT 'schema.overlap', 0.0
        |  UNION ALL SELECT 'schema.balance', 1 - sqrt(2.0) / 4
        |  UNION ALL SELECT 'schema.productions', 5.0
        |  UNION ALL SELECT 'schema.non_terminal', 14.0)
        |SELECT metric, CAST(round(value * 1e9) AS BIGINT) AS value_ppb FROM v""".stripMargin),
    // §2.4 Schema.verify, oracle-checked: the schema derived from the
    // loader forest must satisfy the structural meta-grammar (groups of
    // distinct entities, relations over two distinct defined groups,
    // collections wrapping one defined group/relation).
    Lane("schema_verify_customer", (s, d) => {
      import s.implicits._
      val schema = customerSchema(s, d)
      Seq(schema.verify).toDF("is_valid")
    },
      "SELECT true AS is_valid"),
    // §2.7 export_cypher, oracle-checked: the MERGE statement stream for
    // the customer forest, classified into node MERGEs (per label), edge
    // MERGEs (per relationship type), and index statements; every count
    // is a relational identity of the base tables. Statement text is
    // produced distributed (one flatMap); only the classification
    // aggregates.
    Lane("export_cypher_customer", (s, d) => {
      import s.implicits._
      val forest = customerTrees(s, d)
      // same forest, same derivation as the memoized customer schema
      // (the nodes view and the tree view flatten identically)
      val schema = customerSchema(s, d)
      val ex = graft.cypher.CypherExporter.export(forest, schema)
      // precompiled patterns: String.replaceAll re-compiles its regex on
      // EVERY call — one compile per statement across the whole export
      // stream; these are the same expressions, compiled once per task
      val nodeRe = java.util.regex.Pattern.compile("(?s)^MERGE \\(n:`([^`]+)`.*")
      val idxRe = java.util.regex.Pattern.compile("(?s).*FOR \\(n:`([^`]+)`\\).*")
      val edgeRe = java.util.regex.Pattern.compile("(?s).*MERGE \\(src\\)-\\[r:`([^`]+)`.*")
      ex.statements.map { st =>
        if (st.startsWith("MERGE (n:"))
          ("node", nodeRe.matcher(st).replaceAll("$1"))
        else if (st.startsWith("CREATE INDEX"))
          ("index", idxRe.matcher(st).replaceAll("$1"))
        else
          ("edge", edgeRe.matcher(st).replaceAll("$1"))
      }.toDF("kind", "name").groupBy("kind", "name").count()
        .withColumnRenamed("count", "n_stmts")
    },
      // node/edge/index statement counts are relational identities: one
      // node per entity instance (dedup by oid), one edge per distinct
      // FK pair, one index per exported label
      """WITH refn AS (SELECT DISTINCT c_nationkey AS k FROM customer),
        |     refr AS (SELECT DISTINCT n_regionkey AS k FROM nation
        |              WHERE n_nationkey IN (SELECT k FROM refn))
        |SELECT 'node' AS kind, 'customer' AS name,
        |       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_stmts
        |UNION ALL SELECT 'node', 'nation', (SELECT count(*) FROM refn)
        |UNION ALL SELECT 'node', 'region', (SELECT count(*) FROM refr)
        |UNION ALL SELECT 'edge', 'c_nationkey', (SELECT count(*) FROM customer)
        |UNION ALL SELECT 'edge', 'n_regionkey', (SELECT count(*) FROM refn)
        |UNION ALL SELECT 'index', 'customer', 1
        |UNION ALL SELECT 'index', 'nation', 1
        |UNION ALL SELECT 'index', 'region', 1""".stripMargin),
    // §2.4 extract_valid_trees: filter the forest to schema-valid
    // structure, then re-inspect — the loader forest is already valid
    // under its own schema, so the counts must be preserved exactly
    Lane("extract_valid_trees_customer", (s, d) => {
      val forest = customerTrees(s, d)
      val schema = customerSchema(s, d)
      val valid = schema.extractValidTrees(forest)
      ForestInspector.inspectTable(Forest.toNodesDF(valid))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))
    },
      // valid-tree filtering on an already-valid forest ⇒ identical counts
      inspectCountsCustomerOracle),
  )
}
