package graft.queries

import graft.metrics.{FdMetrics, ForestInspector}
import graft.model.{Forest, NodeRow, Schema}
import graft.operators.{Ann, Bm25, Decontaminate, Dedup, Hybrid, LmScore, Mixture, Multimodal, Pii, RiffAvi, TextAnalysis, Tokenizer}
import graft.sources.{DbConfig, RelationalLoader, Testdata}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The registered correctness/bench queries and their DuckDB oracles.
  *
  * Every ArchiTXT-pipeline query goes through the real metamodel path
  * (loader → forest → nodes DF → schema/pivot/metric); the oracle SQL
  * re-derives the same answer relationally from the raw parquet tables,
  * so a hash match certifies loader + derivation end to end.
  *
  * Oracle/Spark stringification contract (verified empirically for this
  * corpus): Spark `cast(x as string)` ≡ DuckDB `CAST(x AS VARCHAR)` for
  * int/bigint/double/varchar/timestamp values appearing here.
  */
object GraftQueries {

  // ---- forest memoization (Verify runs many queries per session) ----
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, String), Dataset[NodeRow]]
  private val treeCache = scala.collection.concurrent.TrieMap.empty[(String, String), Dataset[graft.model.TreeRow]]

  // Eager localCheckpoint beats persist(MEMORY_AND_DISK) for these
  // caches: it stores the already-Tungsten rows instead of re-encoding
  // 11-column batches into the columnar cache (measured at sf0.1 orders:
  // 19 s vs 30 s build, 5 s vs 10 s per extraction scan). Local mode has
  // no executor loss; a cluster deployment would use reliable
  // checkpointing (graft.util.Spark.checkpoint honors a configured
  // checkpoint dir).
  private def nodes(spark: SparkSession, dir: String, cfgName: String, cfg: DbConfig): Dataset[NodeRow] =
    cache.getOrElseUpdate((dir, cfgName), {
      // the node view of the loaded forest (one flatMap over its trees)
      RelationalLoader.loadNodes(spark, dir, cfg).localCheckpoint(true)
    })

  /** Tree-per-row view for the queries that need whole trees (JSONL round
    * trip, valid-tree filtering, simple_rewrite) — loaded and persisted
    * once per (dir, config), not once per query.
    */
  private def trees(spark: SparkSession, dir: String, cfgName: String, cfg: DbConfig): Dataset[graft.model.TreeRow] =
    treeCache.getOrElseUpdate((dir, cfgName), {
      RelationalLoader.load(spark, dir, cfg).localCheckpoint(true)
    })

  private def customerTrees(s: SparkSession, d: String) = trees(s, d, "customerDb", Testdata.customerDb)

  /** The customer forest with its typed GROUP/REL labels flattened to
    * plain ones — the "untyped ingestion" input shape the rewrite
    * pipeline exists for.
    */
  private def untypedCustomer(s: SparkSession, d: String): Dataset[graft.model.TreeRow] =
    Forest.untypeStructure(customerTrees(s, d))

  /** Extracted group datasets, memoized: fd_* queries re-consume the
    * extract_* results, and each extraction is eagerly materialized
    * (Schema.extractDataset local-checkpoints), so the memo holds small
    * final tables, not lineage.
    */
  private val extractCache = scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  private def extracted(
      s: SparkSession, d: String, cfgName: String, group: String,
  )(build: => DataFrame): DataFrame =
    extractCache.getOrElseUpdate((d, cfgName, group), build)

  /** Memoized customer-forest schema: a `Schema` is a small driver-side
    * value and five registered queries consume the same derivation — a
    * real session derives it once per corpus, so the registry does too.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap.empty[(String, String), Schema]
  private def customerSchema(s: SparkSession, d: String): Schema =
    schemaCache.getOrElseUpdate((d, "customerDb"),
      Schema.fromForest(customerNodes(s, d), keepUnlabelled = false))

  private def customerNodes(s: SparkSession, d: String) = nodes(s, d, "customerDb", Testdata.customerDb)

  /** Memoized exact 3-gram Jaccard pairs over documents — consumed by
    * BOTH the pair lane and the resolution lane (a real dedup session
    * computes pairs once and resolves them, so the registry does too).
    * ngramJaccardPairs localCheckpoints its (small) verified output, so
    * the memo holds materialized pairs, not lineage.
    */
  /** Memoized 10-merge BPE training table — consumed by BOTH the train
    * lane and the encode lane (a real pipeline trains once and encodes
    * many shards, so the registry does too). The table is a tiny
    * driver-built frame (10 rows), safe to hold.
    */
  private val bpeCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    bpeCache.getOrElseUpdate(d,
      graft.operators.Tokenizer.trainBpeOnCorpus(
        s, s.read.parquet(s"$d/documents.parquet"), numMerges = 10))

  /** Memoized self-compare Metrics over the customer forest — consumed
    * by BOTH the snapshot lane and the MLflow-bundle log lane (a real
    * session computes a metrics snapshot once and logs it, so the
    * registry does too; the two oracles check disjoint surfaces of the
    * same value).
    */
  private val metricsCache = scala.collection.concurrent.TrieMap.empty[String, graft.metrics.Metrics]
  private def customerMetrics(s: SparkSession, d: String): graft.metrics.Metrics =
    metricsCache.getOrElseUpdate(d, {
      val forest = customerTrees(s, d)
      // the snapshot's lazy schema (bundle keys schema.*) is the FULL
      // fromForest derivation (keepUnlabelled = true — customerSchema's
      // keepUnlabelled=false variant is a different value); thread a
      // memoized thunk so every consumer of this Metrics instance —
      // and any later same-dir Metrics — shares ONE derivation pass
      val m = new graft.metrics.Metrics(forest, tau = 0.7,
        sourceSchema = Some(() => schemaCache.getOrElseUpdate((d, "customerDb-full"),
          Schema.fromForest(customerNodes(s, d)))))
      m.update(forest)
      m
    })

  /** Memoized MLlib tagger model (nlp/MlTagger.scala) — a real
    * LBFGS-trained multinomial logistic regression, trained once per
    * session (deterministic fixture, zero-init) and scored locally on
    * executors. A real pipeline trains once and scores many shards, so
    * the registry does too.
    */
  private val mlTagCache = scala.collection.concurrent.TrieMap.empty[String, graft.nlp.MlTagModel]
  private def mlTagModel(s: SparkSession): graft.nlp.MlTagModel =
    mlTagCache.getOrElseUpdate("model", graft.nlp.MlTagger.train(s))

  private val pairsCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate(d,
      Dedup.ngramJaccardPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", n = 3, threshold = 0.8))

  /** Drop every registry memo above, releasing the localCheckpoint/
    * cache storage behind them. The memos model a real session (derive
    * once, consume many times) — but a benchmark measuring the SAME
    * lane twice in one JVM must reset them at the pass boundary, or a
    * second pass times a memo read instead of the operator (extract
    * lanes read 0.08 s against a 28 s calm band when this was missed).
    */
  def resetMemos(spark: SparkSession): Unit = {
    cache.clear(); treeCache.clear(); extractCache.clear()
    schemaCache.clear(); bpeCache.clear(); metricsCache.clear()
    mlTagCache.clear(); pairsCache.clear()
    spark.catalog.clearCache()
  }

  // ---- oracle SQL helpers ----
  /** The MlTagger dictionary as a SQL VALUES list — generated from the
    * same Scala constant the model trains on, so the two sides cannot
    * drift.
    */
  private def mlDictValues: String =
    graft.nlp.MlTagger.Dictionary.map { case (w, t) => s"('$w','$t')" }.mkString(", ")

  private def castCols(cols: Seq[String]): String =
    cols.sorted.map(c => s"CAST($c AS VARCHAR) AS $c").mkString(", ")

  /** Deterministic BRAT (txt, ann) fixture for one document: 7 words per
    * line, every 5th word an entity (pers/freq/moment cycle), chained
    * relations alternating likes/incertain_rel — pure arithmetic in the
    * word sequence so the DuckDB oracle recomputes the counts.
    */
  private def bratFixture(raw: String): (String, String) = {
    val text = raw.trim.replaceAll(" +", " ") // both engines normalize identically
    val words = text.split(" ", -1)
    val starts = words.scanLeft(0)((acc, w) => acc + w.length + 1)
    val txt = words.zipWithIndex.map { case (w, i) =>
      val sep = if (i == words.length - 1) "" else if ((i + 1) % 7 == 0) "\n" else " "
      w + sep
    }.mkString
    val nEnt = (words.length + 4) / 5
    val entLines = (0 until nEnt).map { j =>
      val w = 5 * j
      val tpe = Seq("pers", "freq", "moment")(j % 3)
      s"T${j + 1}\t$tpe ${starts(w)} ${starts(w) + words(w).length}\t${words(w)}"
    }
    val relLines = (0 until nEnt - 1).map { j =>
      val tpe = if (j % 2 == 0) "likes" else "incertain_rel"
      s"R${j + 1}\t$tpe Arg1:T${j + 1} Arg2:T${j + 2}"
    }
    (txt, (entLines ++ relLines).mkString("\n"))
  }

  /** Parse one fixture document under the FREQUENCE filter/mapping and
    * aggregate to the per-doc count row both brat lanes emit.
    */
  private def bratCounts(id: Long, txt: String, ann: String): (Long, Long, Long, Long) = {
    import graft.nlp.Brat
    val (es, rs) = Brat.parseAnn(ann)
    val sentences = Brat.convertExample(Brat.Example(txt, es, rs),
      entitiesFilter = Set("FREQUENCE"),
      entitiesMapping = Map("FREQ" -> "FREQUENCE"))
    (id, sentences.size.toLong,
      sentences.map(_.entities.size.toLong).sum,
      sentences.map(_.rels.size.toLong).sum)
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

  // ---- the registry ----

  private def customerExtract(s: SparkSession, d: String): DataFrame =
    extracted(s, d, "customerDb", "customer")(
      Schema.extractDataset(customerNodes(s, d), "customer"))

  // The orders node view has exactly one consumer (this extraction;
  // fd_confidence_orders reuses the memoized RESULT), so eagerly
  // checkpointing the full 11-column 74M-row view was pure overhead —
  // extractDataset now persists its own pruned projection (ENT rows +
  // the target GROUP rows, 8 columns, no REL key strings) and the
  // loader flatten runs exactly once.
  private def ordersExtract(s: SparkSession, d: String): DataFrame =
    extracted(s, d, "ordersDb", "orders")(
      Schema.extractDataset(RelationalLoader.loadNodes(s, d, Testdata.ordersDb), "orders"))

  /** The fully deterministic generator forest behind the two synthetic
    * rewrite lanes: a medical-record schema instance (3 groups, 2
    * relations) wrapped in ROOT/S noise — every leaf is "data", so the
    * rewrite fixpoint must recover exactly the generating schema.
    */
  private def syntheticMedForest(s: SparkSession): Dataset[graft.model.TreeRow] = {
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
  private def schemaProductions(forest: Dataset[graft.model.TreeRow]): Seq[(String, String)] =
    Schema.fromForest(Forest.toNodesDF(forest), keepUnlabelled = false)
      .productions.map(p => (p.lhs, p.rhs.mkString(" "))).sorted

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 extract_datasets. The customer/orders forests run the full
    // metamodel path (loader → node view → oid dedup → pivot); the two
    // tpch fact-scale extractions take the loader's pushdown rewrite
    // (RelationalLoader.extractGroupDataset) — the 100 TB plan, whose
    // equivalence to the generic path is differential-tested.
    "extract_customer" -> ((s, d) => customerExtract(s, d)),
    "extract_nation_referenced" -> ((s, d) => Schema.extractDataset(customerNodes(s, d), "nation")),
    "extract_region_referenced" -> ((s, d) => Schema.extractDataset(customerNodes(s, d), "region")),
    "extract_orders" -> ((s, d) => ordersExtract(s, d)),
    "extract_lineitem" -> ((s, d) =>
      extracted(s, d, "tpch", "lineitem")(
        RelationalLoader.extractGroupDataset(s, d, Testdata.tpch, "lineitem").localCheckpoint(true))),
    "extract_part_referenced" -> ((s, d) =>
      extracted(s, d, "tpch", "part")(
        RelationalLoader.extractGroupDataset(s, d, Testdata.tpch, "part").localCheckpoint(true))),

    // §2.4 schema derivation surface
    "schema_productions_customer" -> { (s, d) =>
      import s.implicits._
      customerSchema(s, d)
        .productions.map(p => (p.lhs, p.rhs.mkString(" "))).toDF("lhs", "rhs")
    },
    "schema_relations_customer" -> { (s, d) =>
      import s.implicits._
      customerSchema(s, d)
        .relations.toSeq.map(r => (r.name, r.left, r.right, r.orientation.toString))
        .toDF("name", "left_group", "right_group", "orientation")
    },

    // §2.4 schema quality scores (group_overlap, group_balance_score) —
    // integer parts-per-billion so the compare is exact (the float
    // formulas round identically on both engines at 9 decimals)
    "schema_quality_customer" -> { (s, d) =>
      import s.implicits._
      val sch = customerSchema(s, d)
      Seq((math.round(sch.groupOverlap * 1e9),
        math.round(sch.groupBalanceScore * 1e9),
        sch.groups.size.toLong))
        .toDF("overlap_ppb", "balance_ppb", "n_groups")
    },

    // §2.3 LLM labelling end-to-end (labelling/__init__.py:71-164):
    // group + relation rename proposals under the deterministic
    // uppercase client, applied over the forest; the per-label node
    // counts follow the loader multiplicities (same identities as the
    // inspector oracle) under the normalized upper-cased names.
    "llm_label_customer" -> ((s, d) => {
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
    }),

    // §2.2 Tree.merge (tree.py:755-773): self-merge flattens the two
    // ROOTs into one, so every per-type count doubles while the tree
    // count holds — an arithmetic oracle over the loader identities.
    "tree_merge_customer" -> ((s, d) =>
      ForestInspector.inspectTable(
        Forest.toNodesDF(Forest.mapTrees(customerTrees(s, d))(t => t.merge(t))))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))),

    // §2.6 FD metrics over extracted datasets
    "fd_confidence_orders" -> ((s, d) =>
      FdMetrics.confidenceTable(ordersExtract(s, d))),
    // dropDuplicates after dropping the key: the oracles' dataset is the
    // DISTINCT 3-column projection, and without the dedup the Spark side
    // would only agree when no two customers share those columns — a
    // data-dependent equivalence instead of a structural one
    "fd_confidence_customer_nokey" -> ((s, d) =>
      FdMetrics.confidenceTable(customerExtract(s, d).drop("c_custkey").dropDuplicates())),

    // §2.6 dependency_score / redundancy_score as query surfaces
    "fd_dependency_customer" -> ((s, d) => {
      import s.implicits._
      val df = customerExtract(s, d).drop("c_custkey").dropDuplicates()
      Seq(FdMetrics.dependencyScore(df, df.columns.toSeq)).toDF("dependency_score")
    }),
    "fd_redundancy_customer" -> ((s, d) => {
      import s.implicits._
      val df = customerExtract(s, d).drop("c_custkey").dropDuplicates()
      Seq(FdMetrics.redundancyScore(df, tau = 0.5)).toDF("redundancy_score")
    }),

    // §2.4 ForestInspector core counts
    "inspect_counts_customer" -> ((s, d) =>
      ForestInspector.inspectTable(customerNodes(s, d))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))),

    // Training-data pipeline operators over documents/embeddings
    "dedup_exact_documents" -> ((s, d) =>
      Dedup.exact(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    // C4-style corpus-level line dedup: every non-blank line occurring
    // >= 2 times across the corpus is removed from every document, line
    // order preserved. The driver corpus is single-line, so the query
    // builds a deterministic multi-line view — a license line shared by
    // every document (removed everywhere), a cookie line in even docs
    // (removed from those), and the doc's own text and 30-char prefix
    // (corpus-unique, kept) — and the md5 of the reconstructed text pins
    // the order-preserving rebuild bit-exactly against the SQL oracle.
    "dedup_lines_documents" -> ((s, d) => {
      val paged = s.read.parquet(s"$d/documents.parquet").selectExpr(
        "doc_id",
        """concat_ws(chr(10), text,
          |  'LICENSE: corpus-wide boilerplate',
          |  CASE WHEN doc_id % 2 = 0 THEN 'COOKIE: accept our cookies' END,
          |  substring(text, 1, 30)) AS text""".stripMargin)
      val out = Dedup.lineDedup(paged, "doc_id", "text")
      out.selectExpr("doc_id", "lines_total", "lines_removed",
        "md5(cast(clean_text AS binary)) AS clean_md5")
    }),
    // EXACT substring dedup (span excision): every token covered by a
    // 13-gram occurring in >= 2 distinct documents is removed; the
    // sf0.01 corpus naturally carries ~900 such cross-doc grams, so
    // real spans get excised. n_tokens/n_removed plus the md5 of the
    // rebuilt text pin the position-ordered excision bit-exactly.
    "dedup_substring_documents" -> ((s, d) =>
      Dedup.exactSubstringDedup(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    // Incremental near-dup ADMISSION (continuous ingestion): odd doc_ids
    // arrive as the new shard, even doc_ids are the admitted corpus; a
    // new doc survives iff no admitted doc reaches 3-gram Jaccard ≥ 0.8.
    // Candidates come from a NEW×OLD band-bucket equi-join against the
    // old side's reusable LSH index — the corpus never self-joins — and
    // are exact-verified, so the SQL cross-Jaccard oracle is exact.
    "dedup_incremental_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Dedup.incrementalNearDupFilter(
          docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .select("doc_id")
    }),
    "dedup_ngram_documents" -> ((s, d) => ngramPairs(s, d)),
    "dedup_minhash_documents" -> ((s, d) =>
      Dedup.minHashLshPairs(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", n = 3, threshold = 0.8)),
    // pair list → surviving corpus: duplicate clusters = connected
    // components of the pair graph (computed only over paired ids),
    // min id survives per cluster; checked against a recursive-CTE
    // transitive closure over the same exact-Jaccard pair SQL
    "dedup_resolve_documents" -> ((s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      Dedup.resolvePairs(docs, "doc_id", ngramPairs(s, d))
        .select("doc_id")
    }),
    "dedup_simhash_documents" -> ((s, d) =>
      Dedup.simHashPairs(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    // threshold 0.5 and r=4/b=64 are tuned to this corpus: the synthetic
    // embeddings are near-orthogonal (max pairwise cosine 0.513), so a
    // realistic 0.9 threshold has an empty answer; at 0.5 the band miss
    // probability is ~5e-7, so the LSH+verify output equals brute force.
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingCosinePairs(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
        threshold = 0.5, bands = 64, rowsPerBand = 4)),
    // SemDeDup-style semantic dedup: deterministic k-means (init =
    // first 10 ids, 2 Lloyd rounds) + greedy min-id pruning at cosine
    // ≥ 0.5 within each cluster, full (vec_id, cid, kept) verdict
    // table. The oracle replays the IDENTICAL model in SQL — unrolled
    // Lloyd via chained CTEs — so every assignment and every verdict is
    // cross-engine-checked. Double-precision safety measured on this
    // corpus: min argmax margin 1.2e-4, min |cos−τ| 1.1e-3 (sf0.1) —
    // 9+ orders above cross-engine summation-order noise.
    "dedup_semantic_embeddings" -> ((s, d) =>
      Dedup.semanticDedup(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", k = 10, iters = 2, threshold = 0.5)),
    "text_stats_documents" -> ((s, d) =>
      TextAnalysis.stats(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "lang_id_documents" -> ((s, d) =>
      TextAnalysis.langId(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "quality_score_documents" -> ((s, d) =>
      TextAnalysis.qualityScore(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "quality_classifier_documents" -> ((s, d) =>
      graft.operators.QualityClassifier.score(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    // the trained-model swap-in EXECUTED: label rule count("join") >
    // count("scan") is exactly a hashed-BoW linear decision, MLlib LR
    // learns it on the corpus, and the INTEGER milli-weight serving
    // path (same codegen'd projection, weights as one array literal)
    // must reproduce it — the query returns the agreement gate, the
    // same contract as the ANN recall lanes
    "quality_classifier_trained_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = s.read.parquet(s"$d/documents.parquet")
      def cnt(t: String) =
        size(filter(split(coalesce(col("text"), lit("")), " "), x => x === lit(t)))
      val labeled = docs.select(col("doc_id"), col("text"),
        (cnt("join") > cnt("scan")).cast("int").as("label"))
      val w = graft.operators.QualityClassifier.train(labeled, "doc_id", "text", "label")
      val scored = graft.operators.QualityClassifier.scoreWith(docs, "doc_id", "text", w)
      val joined = scored.join(labeled.select("doc_id", "label"), "doc_id")
      // ONE aggregation job for the gate (agree + total were two full
      // scan+join actions); count(when(cond,1)) counts exactly the rows
      // the old filter(cond).count() kept
      val gate = joined.agg(
        count(lit(1)).as("total"),
        count(when(col("is_quality") === (col("label") === 1), 1)).as("agree")).head
      val (total, agree) = (gate.getLong(0), gate.getLong(1))
      Seq(total > 0 && agree.toDouble / total >= 0.9).toDF("accuracy_ge_090")
    }),
    "fingerprint_documents" -> ((s, d) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "token_count_documents" -> ((s, d) =>
      TextAnalysis.bpeTokenCount(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "repetition_stats_documents" -> ((s, d) =>
      TextAnalysis.repetitionStats(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text")),
    "vocabulary_documents" -> ((s, d) =>
      TextAnalysis.vocabulary(s.read.parquet(s"$d/documents.parquet"), "text", topK = 100)),
    // Unicode NFC canonicalization: the corpus is ASCII-clean, so the
    // query injects a deterministic denormalized suffix (combining
    // acute + diaeresis sequences) into every document; after
    // normalization every row must flag changed and the md5 of the
    // canonical text must match DuckDB's independent nfc_normalize.
    "normalize_nfc_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val denorm = s.read.parquet(s"$d/documents.parquet").select(
        col("doc_id"),
        concat(col("text"),
          // decomposed on purpose: e+COMBINING ACUTE (U+0301) and
          // i+COMBINING DIAERESIS (U+0308) — NFC must compose both
          lit(" cafe\u0301 nai\u0308ve")).as("text"))
      TextAnalysis.normalizeNfc(denorm, "doc_id", "text")
        .selectExpr("doc_id", "changed", "md5(cast(norm_text AS binary)) AS norm_md5")
    }),

    // Corpus heavy hitters (boilerplate/template detection): top word
    // bigrams, counted with a map-side-combined aggregation; the
    // (count desc, gram asc) top-k plans as TakeOrderedAndProject — no
    // global sort, k rows to the driver.
    "top_ngrams_documents" -> ((s, d) =>
      TextAnalysis.topNgrams(s.read.parquet(s"$d/documents.parquet"), "text", n = 2, topK = 50)),
    // Distributed BPE tokenizer TRAINING: corpus -> word-frequency table
    // (the only corpus-wide shuffle) -> 10 deterministic pair merges,
    // each a vocab-sized count + TakeOrdered(1) arg-max + broadcast
    // literal replace. The oracle replays the exact loop in chained
    // DuckDB CTEs (same tie-break, same non-overlapping left-to-right
    // `replace` merge semantics), so every learned merge and its
    // weighted count must agree integer-for-integer.
    "bpe_train_documents" -> ((s, d) => bpeMergeTable(s, d)),
    // BPE ENCODING with the lane above's learned merges (train once,
    // encode every shard): the 10-merge chain compiles to ONE nested
    // codegen'd replace projection — identical non-overlapping
    // left-to-right semantics as training — and the only shuffle is the
    // per-document aggregation. The oracle replays training AND encode.
    "bpe_encode_documents" -> ((s, d) => {
      val merges = bpeMergeTable(s, d)
        .orderBy("merge_rank").collect().map(_.getAs[String]("pair")).toSeq
      Tokenizer.encodeBpe(s.read.parquet(s"$d/documents.parquet"), merges)
    }),
    // CCNet-style bigram-LM surprisal filter: unigram/bigram corpus
    // counts + add-one smoothing, per-transition cost rounded to integer
    // tenth-milli-nats BEFORE summation (order-independent totals). The
    // oracle retrains the same model relationally and re-scores every
    // document; sums, counts, and keep-flags must match exactly.
    "lm_surprisal_documents" -> ((s, d) =>
      LmScore.bigramSurprisal(s, s.read.parquet(s"$d/documents.parquet"))),
    // Fixed-SIZE reproducible sampling: the k=25 smallest portable
    // content hashes per language — exactly min(k, |stratum|) rows,
    // stable across runs and (mostly) across corpus versions.
    "sample_fixed_documents" -> ((s, d) =>
      graft.operators.Sampling
        .fixedSizePerStratum(s.read.parquet(s"$d/documents.parquet"), "lang", "doc_id", k = 25)
        .select("doc_id", "lang", "sample_rank")),
    // Integer-rational TF-IDF keywords: score_ppm = tf·10⁶ div df ranks
    // identically to tf·(N/df) within a document — no logarithm, no
    // float, top-3 per doc with a deterministic term tie-break.
    "tfidf_keywords_documents" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(s.read.parquet(s"$d/documents.parquet"), "doc_id", "text", topK = 3)),
    // PII redaction round trip (the masking stage of a pretraining
    // pipeline). The synthetic corpus carries no PII, so the query
    // injects a deterministic email/IP/phone/account quartet derived
    // from (doc_id, source) into every document, counts each category
    // in redaction order, and re-counts on the redacted text —
    // n_residual must be 0 for every row. The oracle replays the same
    // injection and the same RE2-subset patterns through DuckDB's
    // regexp functions, so the two engines must agree match-for-match.
    "pii_redaction_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val injected = s.read.parquet(s"$d/documents.parquet").select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".example.com or call +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".0."),
        ((col("doc_id") * 7) % 250).cast("string"),
        lit(" ref "), (col("doc_id") * 1000003L + 10000000L).cast("string")).as("text"))
      val stats = Pii.stats(injected, "doc_id", "text")
      val residual = injected.select(col("doc_id"),
        Pii.Patterns.map { case (_, p, _) =>
          regexp_count(Pii.redactExpr(col("text")), lit(p))
        }.reduce(_ + _).cast("long").as("n_residual"))
      stats.join(residual, "doc_id")
    }),
    // Benchmark decontamination: flag corpus documents sharing any
    // 13-gram with the (hash-deterministic) held-out fifth of the
    // corpus standing in for a benchmark set. The inverted-index
    // semi-join never materializes doc×doc; the oracle recomputes the
    // same distinct-13-gram overlap with DuckDB list slicing.
    "decontaminate_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      Decontaminate.overlap(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 20 === 0), "text", n = 13)
    }),
    // Mixture rebalance (the data-mixing stage): per-language token
    // totals and the integer-basis-point keep-fractions that level
    // every language to the smallest one's token budget. Bit-exact by
    // construction (integer division only), ready to feed the
    // deterministic sampler.
    "mixture_rebalance_documents" -> ((s, d) =>
      Mixture.uniformRebalance(s.read.parquet(s"$d/documents.parquet"), "lang", "text")),
    // temperature (α = 0.5) mixture over the source strata: the oracle
    // replays the exact-isqrt weight, the integer quota min, and both
    // integer divisions — every intermediate is a BIGINT on both sides
    "mixture_temperature_documents" -> ((s, d) =>
      Mixture.temperatureRebalance(s.read.parquet(s"$d/documents.parquet"), "source", "text")),
    "ann_topk_brute" -> ((s, d) =>
      Ann.bruteForceTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L, k = 5)),
    // hybrid dense+sparse retrieval with reciprocal-rank fusion (RRF,
    // k0=60): cosine ranking over embeddings fused with a word-3-gram
    // Jaccard ranking over documents (inverted shingle join — only
    // nonzero-overlap candidates exist). Only RANKS cross systems and
    // the fusion is integer micro-units, so DuckDB replays the whole
    // chain — both rankings, truncation, fusion, final top-5 — exactly.
    // This is the EXACT-fusion baseline (dense = corpus crossJoin)
    "hybrid_retrieval_documents" -> ((s, d) =>
      Hybrid.retrieve(
        s.read.parquet(s"$d/documents.parquet"),
        s.read.parquet(s"$d/embeddings.parquet"),
        0L to 9L, k = 5, topN = 20)),
    // BM25 term relevance (Robertson/Zaragoza) — the standard sparse
    // system of production hybrid retrieval. Every arithmetic step is
    // IEEE double over exact integer corpus statistics except the IDF
    // log; the per-term contribution is rounded to integer micro-units
    // BEFORE the order-independent long sum, so DuckDB replays the full
    // chain — tokenize, tf/dl/df/N/T, score, rank, top-10 — exactly
    "bm25_rank_documents" -> ((s, d) =>
      Bm25.rank(s.read.parquet(s"$d/documents.parquet"), 0L to 9L, topN = 10)),
    // hybrid fusion with BM25 as the sparse system: same RRF integer
    // fusion, dense cosine replay, BM25 replay — end-to-end exact
    "hybrid_retrieval_bm25" -> ((s, d) =>
      Hybrid.retrieve(
        s.read.parquet(s"$d/documents.parquet"),
        s.read.parquet(s"$d/embeddings.parquet"),
        0L to 9L, k = 5, topN = 20, sparseSystem = "bm25")),
    // IVF at the approximate config (nProbe=4 of 16 lists) cannot match
    // brute force row-for-row by design; the correctness contract is the
    // reference one for ANN indexes — recall vs exhaustive search — so
    // the query RETURNS the recall gate itself (overlap with the brute
    // top-k, both computed in Spark) and the oracle pins it to true.
    "ann_topk_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = ivf.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.9).toDF("recall_ge_090")
    }),
    // probing every list makes IVF exhaustive, so the full index
    // machinery (centroid training, assignment, probe join, ranking)
    // must reproduce brute force exactly — the oracle-checkable IVF lane
    "ann_topk_ivf_full_probe" -> ((s, d) =>
      Ann.ivfTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5, nLists = 16, nProbe = 16)),
    // PQ compressed index (4×16 codebooks = 16-bit codes): the
    // exhaustive integer-ADC ranking is fully deterministic, so the
    // oracle replays the whole machinery — per-subspace Lloyd,
    // encoding, nano-unit distance tables, integer ADC top-k — exactly
    "ann_topk_pq" -> ((s, d) =>
      Ann.pqTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5)),
    // the production PQ layout: the compressed scan only SHORTLISTS,
    // exact similarity re-ranks the candidates — approximate vs brute
    // force by design, so the query RETURNS the recall gate (the same
    // contract as ann_topk_ivf); 1.0 at sf0.01, 0.86 at sf0.1
    "ann_topk_pq_rerank" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val pq = Ann.pqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        subspaces = 8, codebook = 16, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = pq.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.8).toDF("recall_ge_080")
    }),
    // IVFADC at exhaustive probing: with every list probed the candidate
    // set equals the whole corpus, so the full index machinery — coarse
    // Lloyd + native-argmax assignment + probe + PQ encode + integer
    // ADC — must reproduce the exhaustive ADC scan bit-for-bit; the
    // oracle is therefore the SAME DuckDB replay as ann_topk_pq
    "ann_topk_ivfadc_full" -> ((s, d) =>
      Ann.ivfAdcTopK(
        s.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 0L to 9L,
        k = 5, nLists = 16, nProbe = 16)),
    // the production IVFADC config: probe half the lists, ADC-shortlist
    // the compressed codes found there, exact re-rank the candidates —
    // approximate vs brute force by design, so the query RETURNS the
    // recall gate (same contract as ann_topk_ivf / pq_rerank);
    // 0.96 at sf0.01, 0.88 at sf0.1
    "ann_topk_ivfadc" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val a = Ann.ivfAdcTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        nLists = 16, nProbe = 8, subspaces = 8, codebook = 16, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = a.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq(total > 0 && overlap.toDouble / total >= 0.8).toDF("recall_ge_080")
    }),
    // OPQ (Ge et al., CVPR 2013): the learned rotation must LOWER the
    // PQ quantization objective it optimizes (measured ~0.88× on this
    // corpus — gated at a real margin, not noise) and the rotated
    // serving path with exact re-rank must hold the recall gate. Both
    // halves computed Spark-side like the other approximate-ANN gates;
    // the oracle pins the booleans.
    "ann_topk_opq" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val errPq = Ann.pqQuantizationError(emb, "vec_id", "embedding")
      val rot = Ann.opqFit(emb, "vec_id", "embedding", opqIters = 3)
      val errOpq = Ann.pqQuantizationError(emb, "vec_id", "embedding",
        rotation = Some(rot))
      val a = Ann.opqTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5,
        opqIters = 3, rerank = 200)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L to 9L, k = 5)
      val overlap = a.join(brute, Seq("query_id", "neighbor_id")).count()
      val total = brute.count()
      Seq((errOpq < errPq * 0.97,
        total > 0 && overlap.toDouble / total >= 0.8))
        .toDF("opq_err_le_pq", "recall_ge_080")
    }),
    // token-balanced training shards: assignment is a pure integer
    // function of the corpus prefix sums, so the oracle replays it with
    // a window scan; the returned summary is read BACK from the written
    // Hive-partitioned layout, proving the files
    "shard_export_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val base = java.nio.file.Files.createTempDirectory("graft_shard_q").toString
      graft.sinks.ShardedStore.write(
        s.read.parquet(s"$d/documents.parquet"), "doc_id",
        TextAnalysis.tokenCountExpr(col("text")), nShards = 8, path = s"$base/out")
    }),

    // §2.7 export_sql: the customer group table after cast-on-export,
    // minus the (sha1) oid PK the oracle cannot recompute
    "export_sql_customer" -> ((s, d) => {
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
    }),

    // §2.7/§2.1 JSONL round trip: write the forest as JSONL, read it
    // back, and emit the inspector counts (same oracle as the direct
    // inspection — the round trip must be lossless)
    "jsonl_roundtrip_customer" -> ((s, d) => {
      val forest = customerTrees(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/forest"
      graft.sinks.Jsonl.write(forest, dir)
      val back = graft.sinks.Jsonl.read(s, dir)
      ForestInspector.inspectTable(Forest.toNodesDF(back))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))
    }),

    // §2.1 read_document: every events.props JSON document → metamodel
    // forest → dataset of the single discovered group
    "read_document_props" -> ((s, d) => {
      import s.implicits._
      // tolerate either ts encoding the driver has shipped (NANOS needs
      // nanosAsLong just to open the file; only `props` is read here)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val props = s.read.parquet(s"$d/events.parquet").select("props").as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(props)(
        graft.sources.DocumentLoader.fromJsonString)
      Schema.extractDataset(Forest.toNodesDF(forest), "root")
    }),

    // §2.1 read_document XML lane: every customer row rendered as an XML
    // document, parsed through the xmltodict-convention reader into the
    // metamodel, then extracted back — a full round trip certified by
    // the same oracle as the relational extraction
    "read_document_xml" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val xml = s.read.parquet(s"$d/customer.parquet")
        .select(concat(
          lit("<customer>"),
          lit("<c_acctbal>"), col("c_acctbal").cast("string"), lit("</c_acctbal>"),
          lit("<c_custkey>"), col("c_custkey").cast("string"), lit("</c_custkey>"),
          lit("<c_mktsegment>"), col("c_mktsegment"), lit("</c_mktsegment>"),
          lit("<c_name>"), col("c_name"), lit("</c_name>"),
          lit("</customer>")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(xml)(
        graft.sources.DocumentLoader.fromXmlString)
      Schema.extractDataset(Forest.toNodesDF(forest), "customer")
    }),

    // §2.1 read_document YAML lane (nation table; the multi-doc list
    // wrapping is exercised by every document)
    "read_document_yaml" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val yaml = s.read.parquet(s"$d/nation.parquet")
        .select(concat(
          lit("nation:\n  n_name: "), col("n_name"),
          lit("\n  n_nationkey: "), col("n_nationkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(yaml)(
        graft.sources.DocumentLoader.fromYamlString)
      Schema.extractDataset(Forest.toNodesDF(forest), "nation")
    }),

    // §2.1 read_document TOML lane (region table), through the format
    // sniffing chain rather than the direct parser
    "read_document_toml" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val toml = s.read.parquet(s"$d/region.parquet")
        .select(concat(
          lit("[region]\nr_name = \""), col("r_name"),
          lit("\"\nr_regionkey = "), col("r_regionkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(toml)(
        graft.sources.DocumentLoader.fromString)
      Schema.extractDataset(Forest.toNodesDF(forest), "region")
    }),

    // §2.1 read_sql against a LIVE database: the customer tables are
    // copied into an embedded Derby instance, the DbConfig is REFLECTED
    // from the JDBC catalog (no hand declaration), and the forest is
    // loaded over spark.read.jdbc — then extracted back under the same
    // oracle as the parquet-path extraction. Fresh in-memory db name
    // per invocation keeps the lane idempotent across memoized reruns.
    "read_jdbc_customer" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val db = s"graftq${System.nanoTime()}"
      val url = s"jdbc:derby:memory:$db;create=true"
      def quoted(n: String) = s""""$n""""
      for (t <- Seq("region", "nation", "customer"))
        s.read.parquet(s"$d/$t.parquet")
          .write.mode("append").jdbc(url, quoted(t), new java.util.Properties())
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        for ((t, pk) <- Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
            "customer" -> "c_custkey")) {
          st.executeUpdate(s"""ALTER TABLE "$t" ALTER COLUMN "$pk" NOT NULL""")
          st.executeUpdate(s"""ALTER TABLE "$t" ADD PRIMARY KEY ("$pk")""")
        }
        st.executeUpdate("""ALTER TABLE "nation" ADD FOREIGN KEY ("n_regionkey") REFERENCES "region" ("r_regionkey")""")
        st.executeUpdate("""ALTER TABLE "customer" ADD FOREIGN KEY ("c_nationkey") REFERENCES "nation" ("n_nationkey")""")
        st.close()
      } finally conn.close()
      val cfg = graft.sources.JdbcCatalog.reflect(url, "APP")
      val forest = graft.sources.RelationalLoader.loadJdbc(s, url, cfg, dbtable = quoted)
      Schema.extractDataset(Forest.toNodesDF(forest), "customer")
        .select(col("c_acctbal"), col("c_custkey"), col("c_mktsegment"), col("c_name"))
    }),

    // §2.1 read_document Excel lane (region table): each row rendered
    // as a real single-sheet .xlsx (zip + sheet XML, inline strings +
    // numeric cells), parsed back through the Xlsx subset reader into
    // the metamodel and extracted — write→parse→extract round trip
    // under the same oracle as the TOML lane
    "read_document_xlsx" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val rows = s.read.parquet(s"$d/region.parquet")
        .select(col("r_name"), col("r_regionkey").cast("long"))
        .as[(String, Long)]
      val bytes = rows.map { case (name, key) =>
        graft.sources.Xlsx.writeSingleSheet("region",
          Seq("r_name", "r_regionkey"), Seq(Seq(name, key)))
      }
      val forest = graft.sources.DocumentLoader.parseBinaryDocuments(bytes)(
        b => graft.sources.DocumentLoader.fromExcelBytes(b))
      Schema.extractDataset(Forest.toNodesDF(forest), "region")
    }),

    // §2.1 read_document CSV lane (supplier table), through the format
    // sniffing chain — certifies CSV detection ahead of the YAML/TOML
    // lanes and the record-collection shape end-to-end
    "read_document_csv" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, concat, lit}
      val csv = s.read.parquet(s"$d/supplier.parquet")
        .select(concat(
          lit("s_name,s_suppkey\n"),
          col("s_name"), lit(","), col("s_suppkey").cast("string")).as("doc")).as[String]
      val forest = graft.sources.DocumentLoader.parseDocuments(csv)(
        graft.sources.DocumentLoader.fromString)
      Schema.extractDataset(Forest.toNodesDF(forest), "root")
    }),

    // §2.3 simple_rewrite: strip the loader's typed labels (simulating an
    // untyped ingestion), collapse each tree to one GROUP of its distinct
    // entities, then extract the dataset of the single resulting group.
    "simple_rewrite_customer" -> ((s, d) => {
      import graft.rewrite.Rewrite
      val rewritten = Rewrite.simpleRewrite(untypedCustomer(s, d))
      Schema.extractDataset(Forest.toNodesDF(rewritten), "1")
    }),

    // §2.3 THE flagship `architxt simplify` shape at corpus scale: the
    // full rewrite() fixpoint (clusterer + find_groups + group/relation/
    // collection ops per epoch) over the label-stripped customer forest —
    // this is the end-to-end loop a reference user runs on real data, and
    // it load-tests the executor-side cluster-model build each epoch.
    // Output = the recovered schema's productions (deterministic: the
    // clusterer is deterministic on this forest, see cluster_subtrees).
    "rewrite_customer" -> ((s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(untypedCustomer(s, d), Rewrite.Config(tau = 0.7, epochs = 4))
      Schema.fromForest(Forest.toNodesDF(out), keepUnlabelled = false)
        .productions.map(p => (p.lhs, p.rhs.mkString(" "))).sorted.toDF("lhs", "rhs")
    }),

    // §2.6 Metrics snapshot machinery, oracle-checked via an algebraic
    // identity: comparing the customer forest against itself must yield
    // coverage = AMI = completeness = 1.0 exactly. This drives the full
    // distributed path — entity-oid join coverage, entity-parent
    // clustering (entityLabels), and the exact-EMI contingency math —
    // so a regression anywhere in it breaks an exact oracle.
    "metrics_self_compare_customer" -> ((s, d) => {
      import s.implicits._
      val m = customerMetrics(s, d)
      Seq((m.coverage, m.clusterAmi, m.clusterCompleteness))
        .toDF("coverage", "cluster_ami", "cluster_completeness")
    }),

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
    "metrics_log_customer" -> ((s, d) => {
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
    }),

    // §2.4 Schema.verify, oracle-checked: the schema derived from the
    // loader forest must satisfy the structural meta-grammar (groups of
    // distinct entities, relations over two distinct defined groups,
    // collections wrapping one defined group/relation).
    "schema_verify_customer" -> ((s, d) => {
      import s.implicits._
      val schema = customerSchema(s, d)
      Seq(schema.verify).toDF("is_valid")
    }),

    // §2.7 export_cypher, oracle-checked: the MERGE statement stream for
    // the customer forest, classified into node MERGEs (per label), edge
    // MERGEs (per relationship type), and index statements; every count
    // is a relational identity of the base tables. Statement text is
    // produced distributed (one flatMap); only the classification
    // aggregates.
    "export_cypher_customer" -> ((s, d) => {
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
    }),

    // §2.1 read_cypher at table scale, oracle-checked: customers and
    // nations as a property graph (node/edge frames with string-map
    // props — the zero-egress stand-in for a live bolt connection),
    // loaded through the per-component tree builder, then the Customer
    // group dataset extracted back out. A lossless graph→forest→dataset
    // round trip must reproduce the relational projection exactly.
    "read_cypher_customer" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, map}
      val cust = s.read.parquet(s"$d/customer.parquet")
      val nat = s.read.parquet(s"$d/nation.parquet")
      val nodes = cust.select(
          concat(lit("c:"), col("c_custkey")).as("id"), lit("Customer").as("label"),
          map(lit("c_name"), col("c_name").cast("string"),
            lit("c_acctbal"), col("c_acctbal").cast("string"),
            lit("c_mktsegment"), col("c_mktsegment").cast("string")).as("props"))
        .unionByName(nat.select(
          concat(lit("n:"), col("n_nationkey")).as("id"), lit("Nation").as("label"),
          map(lit("n_name"), col("n_name").cast("string")).as("props")))
      val edges = cust.select(
        concat(lit("c:"), col("c_custkey")).as("src"),
        concat(lit("n:"), col("c_nationkey")).as("dst"),
        lit("IN_NATION").as("tpe"), map().cast("map<string,string>").as("props"))
      val forest = graft.cypher.CypherLoader.load(s, nodes, edges)
      Schema.extractDataset(Forest.toNodesDF(forest), "Customer")
    }),

    // §2.1/§2.2 corpus NLP pipeline at corpus scale, oracle-checked: one
    // sentence per document line → regex NER (env-free EntityExtractor
    // seam) → whitespace constituency parse → the full processTree
    // enrichment (coordination fixes, entity insertion, reduce, UNDEF
    // renames). Every extracted entity must survive into the forest, so
    // the oracle is the raw regex match count per type. The patterns are
    // substring-safe in this corpus's vocabulary (no word contains
    // another pattern), which keeps Java and RE2 regex semantics aligned.
    "corpus_pipeline_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, split}
      val lines = s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), "\n")).as("line")).as[String]
      val extractor = new graft.nlp.RegexEntityExtractor(
        Seq("CUST" -> "customer", "SCAN" -> "scan"))
      val sentences = lines.map(l => extractor.extract(l))
      val forest = new graft.nlp.WhitespaceParser().parseBatch(sentences)
      Forest.toNodesDF(forest).filter(col("nodeType") === "ENT")
        .groupBy(col("name")).count().withColumnRenamed("count", "n_ents")
    }),

    // §2.2 the full processTree restructuring surface, oracle-checked:
    // CoordinationParser emits the nested (NP … (COORD (CCONJ the) …))
    // shape, so fix_coord/fix_conj flatten every clean conjunction chain
    // into one CONJ (dropping the CCONJ leaves), ins_ent/unnest_ent wrap
    // the customer/scan tokens, and reduce + UNDEF-rename normalize the
    // rest. Every label class in the output has closed-form counts over
    // the token stream (see the oracleSql derivation comment), so the
    // whole pipeline — not just the ENT tally — is checked bit-exactly.
    "corpus_enrich_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, lit, split, when}
      val lines = s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), "\n")).as("line")).as[String]
      val extractor = new graft.nlp.RegexEntityExtractor(
        Seq("CUST" -> "customer", "SCAN" -> "scan"))
      val sentences = lines.map(l => extractor.extract(l))
      val forest = new graft.nlp.CoordinationParser("the").parseBatch(sentences)
      Forest.toNodesDF(forest)
        .select(when(col("nodeType") === "ENT", col("name"))
          .when(col("name") === "ROOT", lit("ROOT"))
          .otherwise(lit("UNDEF")).as("label"))
        .groupBy(col("label")).count().withColumnRenamed("count", "n_nodes")
    }),

    // REAL-model parser seam (nlp/parser/corenlp.py:19-45 analogue):
    // token tags predicted by the MLlib-trained logistic regression,
    // distributed scoring over every document token. The training vocab
    // is perfectly separable (word-identity features; margin pinned in
    // MlTaggerSpec), so the oracle replays the model's predictions as a
    // dictionary join — an exact check that distributed inference agrees
    // with the trained decision function on the whole corpus.
    "ml_tag_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.{col, explode, split}
      val model = mlTagModel(s)
      val vocab = graft.nlp.MlTagger.Dictionary.map(_._1).toSet
      s.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w")).as[String]
        .filter(w => vocab.contains(w))
        .map(w => model.tag(w)).toDF("tag")
        .groupBy("tag").count().withColumnRenamed("count", "n_tokens")
    }),

    // The full MlTagParser chunker distributed over the corpus: each
    // document parses into (SENT chunk*) where chunks follow the
    // (DET|ADJ)* NOUN+ → NP, VERB+ → VP, else TOK grammar over the
    // model's tags. Because predictions equal the dictionary on this
    // vocabulary, the chunk arithmetic is closed-form over tag runs —
    // the oracle recomputes it with gaps-and-islands windows.
    "ml_parse_documents" -> ((s, d) => {
      import s.implicits._
      val parser = new graft.nlp.MlTagParser(mlTagModel(s))
      // oracle contract: the dictionary join on the DuckDB side drops
      // out-of-vocabulary tokens, while the chunker tags every token —
      // they agree exactly BECAUSE the corpus vocabulary is covered, so
      // a new corpus word must fail loudly here, not desynchronize the
      // two sides silently
      val vocab = graft.nlp.MlTagger.Dictionary.map(_._1).toSet
      val docsDs = s.read.parquet(s"$d/documents.parquet").select("text").as[String]
      // the Spark chunker tokenizes on \s+ runs while the oracle's
      // string_split(text, ' ') splits on single spaces — so guard BOTH
      // divergence classes: any non-space whitespace (the tokenizations
      // would disagree) and any token outside the dictionary (the
      // oracle's dict join would drop it). The guard runs INSIDE the
      // parse scan (it used to be its own full corpus pass): a dirty
      // document fails the job loudly before any result commits, and a
      // clean corpus — the oracle-checked case — pays zero extra scans.
      docsDs
        .flatMap { t =>
          if (t.exists(c => c.isWhitespace && c != ' '))
            throw new IllegalArgumentException(
              s"ml_parse_documents oracle requires space-only whitespace; non-space whitespace in: ${t.take(40)}")
          t.split(" ").iterator.filter(w => w.nonEmpty && !vocab.contains(w)).take(1).foreach { w =>
            throw new IllegalArgumentException(
              s"ml_parse_documents oracle requires full vocabulary coverage; OOV token: $w")
          }
          parser.parse(t, "English").toSeq.flatMap(_.children.collect {
            case graft.core.Child.Node(c) => c.label.name
          })
        }.toDF("label")
        .groupBy("label").count().withColumnRenamed("count", "n_chunks")
    }),

    // §2.3 llm_rewrite (simplification/llm.py), oracle-checked: the full
    // protocol — token-budget batching, numbered-list prompt/parse,
    // sanitize, vocab mining + fuzzy snap, fallback-to-original — driven
    // by the deterministic offline client (GroupifyLlmClient wraps
    // all-entity untyped nodes into GROUPs named after their first
    // entity; a live endpoint plugs in via LlmClient). Output = node
    // counts by (type, name), which the oracle derives from the customer
    // row count (the loader's per-tree multiplicities are fixed).
    "llm_rewrite_customer" -> ((s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val out = graft.llm.LlmRewrite.rewrite(untypedCustomer(s, d),
        new graft.llm.GroupifyLlmClient)
      Forest.toNodesDF(out)
        .groupBy(coalesce(col("nodeType"), lit("PLAIN")).as("node_type"), col("name"))
        .count().withColumnRenamed("count", "n_nodes")
    }),

    // §2.5 schema_only mode (similarity.py:230,296-339): the cheap
    // clustering lane — the tau-graph runs over the SCHEMA template
    // (bounded by schema variety) and instances map in by self-label.
    // On this forest it recovers a FINER structure than instance mode
    // (two groups + their relation vs one merged group), the documented
    // behavioral difference; deterministic and scale-invariant
    // (identical productions at sf0.001/sf0.01/sf0.1), so the oracle is
    // a pinned literal golden.
    "rewrite_schema_only_customer" -> ((s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(untypedCustomer(s, d),
        Rewrite.Config(tau = 0.7, epochs = 4, schemaOnly = true))
      Schema.fromForest(Forest.toNodesDF(out), keepUnlabelled = false)
        .productions.map(p => (p.lhs, p.rhs.mkString(" "))).sorted.toDF("lhs", "rhs")
    }),

    // §2.5 TreeClusterer at forest scale. The output — the cluster-size
    // histogram — is deterministic for this forest (connected components
    // of the tau-graph + min-label naming over a deterministic loader
    // forest), so the oracle is a pinned literal golden. The scale story:
    // identical-structure collapse bounds the quadratic pair stage by
    // distinct STRUCTURES, so 15k structurally-identical trees cost the
    // same as 5 (pre-collapse this query ran >10 minutes; now ~20 s).
    "cluster_subtrees_customer" -> ((s, d) => {
      import s.implicits._
      // assignments are the only consumed output — skip the three
      // model-build jobs (stats, struct-keys, top-K)
      val result = graft.similarity.TreeClusterer.fit(customerTrees(s, d), tau = 0.7,
        buildModel = false)
      result.assignments.groupBy("cluster").count()
        .groupBy(org.apache.spark.sql.functions.col("count").as("cluster_size")).count()
        .select(org.apache.spark.sql.functions.col("cluster_size"),
          org.apache.spark.sql.functions.col("count").as("n_clusters"))
    }),

    // §2 row 4: the BRAT corpus loader under a cross-engine oracle — the
    // last unit-only operator. Each document is turned into a
    // deterministic (txt, .ann) BRAT pair: every 7th word separator
    // becomes a sentence break, every 5th word an entity (types cycling
    // pers/freq/moment, real character offsets), consecutive entities a
    // relation (types alternating likes/incertain_rel). The REAL
    // pipeline then runs end-to-end: parseAnn → convertExample with a
    // FREQ→FREQUENCE rename + FREQUENCE deny-filter (so dropped
    // entities also kill their relations), ascii-fold + sentence split,
    // offset re-anchoring, same-sentence relation assignment, and
    // empty-sentence pruning. The oracle never parses anything: with
    // entities pinned to word index 5j and sentences to 7-word spans,
    // sentence membership is floor(5j/7) and every output count is
    // closed-form integer arithmetic over j — if the parser or the
    // offset re-anchoring drifts by one character, the counts diverge.
    "read_brat_documents" -> ((s, d) => {
      import s.implicits._
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .as[(Long, String)]
      docs.map { case (id, raw) =>
        val (txt, ann) = bratFixture(raw)
        bratCounts(id, txt, ann)
      }.toDF("doc_id", "n_sentences", "n_entities", "n_relations")
    }),

    // §2.1 BRAT ARCHIVE ingestion (nlp/__init__.py:168-231): the same
    // corpus packaged into one .tar.gz per partition (streamed ustar
    // writer), then loaded back through Brat.archiveDocuments — one
    // task per archive, entries streamed, nothing extracted to disk.
    // Same oracle as the directory lane: the container must be
    // invisible in the parsed result.
    "read_brat_archive_documents" -> ((s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-brat").toString
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .as[(Long, String)]
      docs.repartition(8).foreachPartition { (it: Iterator[(Long, String)]) =>
        val entries = it.flatMap { case (id, raw) =>
          val (txt, ann) = bratFixture(raw)
          Seq((s"corpus/$id.txt", txt.getBytes("UTF-8")),
            (s"corpus/$id.ann", ann.getBytes("UTF-8")))
        }.toSeq
        if (entries.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/part$pid.tar.gz"),
            graft.nlp.Archive.writeTarGz(entries))
        }
        ()
      }
      graft.nlp.Brat.archiveDocuments(s, s"$tmp/*.tar.gz")
        .map { case (base, txt, ann) =>
          bratCounts(base.substring(base.lastIndexOf('/') + 1).toLong, txt, ann)
        }.toDF("doc_id", "n_sentences", "n_entities", "n_relations")
    }),

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
    "similarity_tau_edges" -> ((s, d) => {
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
    }),

    // §2.3 full rewrite fixpoint on generator synthetics (rows-only:
    // approximate clustering has no SQL oracle); output = the resulting
    // schema's productions, deterministic for a fixed generator input.
    "rewrite_fixpoint_synthetic" -> ((s, d) => {
      import s.implicits._
      import graft.rewrite.Rewrite
      val out = Rewrite.rewrite(syntheticMedForest(s),
        Rewrite.Config(tau = 0.85, epochs = 4, minSupport = Some(2)))
      schemaProductions(out).toDF("lhs", "rhs")
    }),

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
    "rewrite_converge_synthetic" -> ((s, d) => {
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
    }),

    // §2.4 extract_valid_trees: filter the forest to schema-valid
    // structure, then re-inspect — the loader forest is already valid
    // under its own schema, so the counts must be preserved exactly
    "extract_valid_trees_customer" -> ((s, d) => {
      val forest = customerTrees(s, d)
      val schema = customerSchema(s, d)
      val valid = schema.extractValidTrees(forest)
      ForestInspector.inspectTable(Forest.toNodesDF(valid))
        .filter(org.apache.spark.sql.functions.col("stat").startsWith("total_"))
    }),

    // REAL image decode (JDK ImageIO): per document a
    // deterministic 8-bit gray PNG is encoded (dims and pixels pure
    // functions of doc_id), then decoded back through the real codec
    // and feature-extracted. PNG gray is lossless, so width/height and
    // the exact integer luminance sum are recomputable arithmetically
    // by the oracle — the encode→decode→extract loop is what's tested.
    "image_features_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val pngs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val w = 4 + (id % 13).toInt
          val h = 3 + ((id * 7) % 11).toInt
          (id, Multimodal.ImageIoCodec.encodeGrayPng(w, h, k => ((id * 31 + k) % 256).toInt))
        }
        .toDF("doc_id", "media")
      Multimodal.imageFeatures(pngs, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("n_samples"), col("sum_luma"))
    }),

    // REAL WAV decode (JDK javax.sound.sampled): per document
    // a deterministic PCM-16 WAV is encoded (rate/channels/frames and
    // every sample pure functions of doc_id), then decoded back through
    // the real codec and feature-extracted. WAV PCM is lossless, so the
    // format fields, the exact integer amplitude sum, and the integer
    // duration are recomputable arithmetically by the oracle — the
    // encode→decode→extract loop is what's tested.
    "audio_features_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val wavs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val rate = 8000 * (1 + (id % 3).toInt)
          val ch = 1 + (id % 2).toInt
          val frames = 40 + (id % 25).toInt
          (id, Multimodal.WavCodec.encodePcm16(rate, ch, frames,
            k => (((id * 17 + k * 13) % 2048) - 1024).toInt))
        }
        .toDF("doc_id", "media")
      Multimodal.audioFeatures(wavs, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("n_samples"), col("sum_amplitude"), col("duration_ms"))
    }),

    // REAL video decode (RIFF/AVI container walk + per-frame JDK image
    // decode): per document a deterministic AVI is encoded
    // (frame count/dims and every pixel pure functions of doc_id and
    // the frame index, frames stored as lossless gray PNGs per the
    // container's one-image-per-00dc convention), then the container is
    // walked back, every frame decoded, and the features extracted —
    // all recomputable arithmetically by the oracle.
    "video_features_documents" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val avis = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val w = 4 + (id % 6).toInt
          val h = 3 + (id % 5).toInt
          val nf = 1 + (id % 3).toInt
          val frames = (0 until nf).map(j =>
            Multimodal.ImageIoCodec.encodeGrayPng(w, h,
              k => ((id * 13 + j * 31 + k) % 256).toInt))
          (id, RiffAvi.encode(frames, w, h))
        }
        .toDF("doc_id", "media")
      Multimodal.videoFeatures(avis, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("n_frames"), col("width"),
          col("height"), col("n_samples"), col("sum_luma"))
    }),

    // Sequence packing (pretraining chunk assignment): global token
    // prefix sum in doc_id order via the two-phase parallel scan
    // (range partition → per-partition running sum → partition-count-
    // sized offset join), then chunk = prefix div budget. The output is
    // partitioning-independent, so the single-window SQL oracle checks
    // the distributed path exactly.
    // Sliding-window chunking (the long-document counterpart of budget
    // packing): overlapping maxLen=64/stride=48 token windows per
    // document, emitted by a codegen'd scan-level projection — no
    // shuffle, no UDF. Chunk count, spans, and window text are all
    // closed-form over the whitespace token list, so the SQL oracle
    // recomputes every output column including the chunk text itself.
    "chunk_documents" -> ((s, d) =>
      graft.operators.Chunking.slidingWindows(
        s.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        maxLen = 64, stride = 48)),

    // Curriculum ordering: global contiguous rank over (length, id) via
    // the two-phase parallel scan — never the single-task global window
    // (plan pinned in RankingSpec); output is partitioning-independent,
    // so the one-window SQL oracle checks the distributed path exactly.
    "curriculum_rank_documents" -> ((s, d) =>
      graft.operators.Ranking.globalRank(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", "n_chars")
        .selectExpr("id AS doc_id", "ord AS n_chars", "rank")),

    "pack_sequences_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Packing.packByTokenBudget(
        docs, "doc_id", graft.operators.TextAnalysis.tokenCountExpr(col("text")), budget = 1000L)
    }),

    // Corpus length profile (cutoff calibration): exact nearest-rank
    // length percentiles per language. Integer-only rank arithmetic
    // ((n·p+99) div 100) over one window sort per language — the value
    // at a rank is tie-stable, so the result is bit-reproducible by any
    // SQL engine (no interpolation, no floating point).
    "quantiles_documents" -> ((s, d) =>
      graft.operators.Stats.nearestRankQuantiles(
          s.read.parquet(s"$d/documents.parquet"), "lang", "n_chars", Seq(50, 90, 99))
        .selectExpr("lang", "n_rows AS n_docs", "min_value AS min_chars",
          "max_value AS max_chars", "p50", "p90", "p99")),

    // Count-min-sketch frequency gate (same contract shape as the HLL
    // gate): a fixed-size mergeable counter grid replaces the full
    // token groupBy; the lane checks the CMS invariants on the top-25
    // exact tokens — estimate never under-counts (structural, always
    // true), and stays within ceil(eps*N) of exact. The eps bound is
    // only PROBABILISTIC (>= 1-delta per token); pinning it true is a
    // fixed-seed canary valid for this corpus — a new dataset or scale
    // factor can legitimately flip a row and must re-validate the pin
    // (demote within_eps from the oracle if it ever does).
    "cms_tokens_documents" -> ((s, d) =>
      graft.operators.Sketches.cmsTokenGate(
        s.read.parquet(s"$d/documents.parquet"), "text", topK = 25)),

    // Data-quality validation gate (Deequ-style constraint suite, VLDB'18
    // shape): the whole suite compiles into ONE aggregation pass (plus
    // one expand per exact-distinct check); metrics are integer ppm
    // (truncating div) so every verdict row is bit-reproducible. The
    // o_custkey distinctness threshold is deliberately unreachable so
    // the FAIL path is exercised end to end (passed=false row).
    "validate_orders" -> ((s, d) => {
      import graft.operators.Validation, Validation.Check._
      Validation.validate(
        s.read.parquet(s"$d/orders.parquet"),
        Seq(
          Completeness("o_custkey", 1000000L),
          Distinctness("o_orderkey", 1000000L),
          Distinctness("o_custkey", 500000L),
          Satisfies("totalprice_nonneg", "o_totalprice", "o_totalprice >= 0", 1000000L),
          Satisfies("status_domain", "o_orderstatus",
            "o_orderstatus IN ('O','F','P')", 1000000L),
          Satisfies("priority_shape", "o_orderpriority",
            "o_orderpriority RLIKE '^[1-5]-'", 1000000L),
        ))
    }),

    // Deterministic stratified sampling (corpus rebalancing): keep 40%
    // of the dominant language, 90% of zh, 75% of everything else —
    // membership is a pure function of (lang, doc_id) via the portable
    // md5-prefix hash, so the exact sample is reproducible by any SQL
    // engine and stable across partitioning/retries.
    "sample_stratified_documents" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.operators.Sampling.stratified(
          docs, "lang", "doc_id", Map("en" -> 0.4, "zh" -> 0.9), defaultFraction = 0.75)
        .select(col("doc_id"), col("lang"))
    }),
  )

  /** BPE training-replay CTE chain shared by the bpe_train and
    * bpe_encode oracles. Every CTE is MATERIALIZED: with default
    * inlining the b_i/v_i references expand the v_{i-1} subtree
    * exponentially (≈4^10 parquet scans — "too many open files");
    * materialization makes the replay linear, like the Spark side's
    * per-iteration persist.
    */
  private def bpeTrainCtes(k: Int): Seq[String] = {
    val head =
      """w AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                  t -> regexp_matches(t, '^[a-z]+$'))) AS word
        |        FROM documents)
        |  GROUP BY word),
        |v0 AS MATERIALIZED (SELECT cnt, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq FROM w)""".stripMargin
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT s[i] || ' ' || s[i + 1] AS pair, sum(cnt) AS n
         |  FROM (SELECT string_split(seq, ' ') AS s, cnt FROM v${i - 1})
         |  CROSS JOIN UNNEST(range(1, len(s))) AS r(i)
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pair, n FROM p$i ORDER BY n DESC, pair ASC LIMIT 1),
         |v$i AS MATERIALIZED (SELECT cnt, trim(replace(' ' || seq || ' ',
         |    ' ' || (SELECT pair FROM b$i) || ' ',
         |    ' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ')) AS seq FROM v${i - 1})""".stripMargin
    }
    head +: iters
  }

  val oracleSql: Map[String, String] = Map(
    "extract_customer" ->
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer",
    "extract_nation_referenced" ->
      s"""SELECT DISTINCT ${castCols(Seq("n_name", "n_nationkey"))} FROM nation
         |WHERE n_nationkey IN (SELECT c_nationkey FROM customer)""".stripMargin,
    "extract_region_referenced" ->
      s"""SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region
         |WHERE r_regionkey IN (SELECT n_regionkey FROM nation
         |                      WHERE n_nationkey IN (SELECT c_nationkey FROM customer))""".stripMargin,
    "extract_orders" ->
      s"SELECT DISTINCT ${castCols(Seq("o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))} FROM orders",
    "extract_lineitem" ->
      s"SELECT DISTINCT ${castCols(Seq("l_discount", "l_extendedprice", "l_linenumber", "l_linestatus", "l_quantity", "l_returnflag", "l_shipdate", "l_tax"))} FROM lineitem",
    "extract_part_referenced" ->
      s"""SELECT DISTINCT ${castCols(Seq("p_brand", "p_name", "p_partkey", "p_retailprice", "p_size", "p_type"))} FROM part
         |WHERE p_partkey IN (SELECT l_partkey FROM lineitem)""".stripMargin,

    "schema_productions_customer" ->
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
        |              JOIN region ON n_regionkey = r_regionkey)""".stripMargin,

    "schema_relations_customer" ->
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
        |WHERE EXISTS (SELECT 1 FROM nr)""".stripMargin,

    "fd_confidence_orders" -> confidenceOracle(
      "orders", Seq("o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")),
    "fd_confidence_customer_nokey" -> confidenceOracle(
      "customer", Seq("c_acctbal", "c_mktsegment", "c_name")),
    "fd_dependency_customer" ->
      s"""SELECT max(confidence) AS dependency_score FROM (
         |${confidenceOracle("customer", Seq("c_acctbal", "c_mktsegment", "c_name"))}
         |)""".stripMargin,
    "fd_redundancy_customer" -> redundancyOracle(
      "customer", Seq("c_acctbal", "c_mktsegment", "c_name"), tau = 0.5),

    // Pinned golden: the generator input is fully deterministic (no
    // randomness — every leaf is "data"), and the rewrite fixpoint must
    // recover EXACTLY the generating schema: its 3 groups, 2 relations,
    // and the collections the noise wrapping induced. A literal oracle is
    // the reference's own golden-test style for rewrite semantics
    // (tests/simplification/...), expressed in the driver's oracle lane.
    "rewrite_fixpoint_synthetic" ->
      """SELECT 'COLL::EXAM' AS lhs, 'GROUP::EXAM' AS rhs
        |UNION ALL SELECT 'COLL::SOSY', 'GROUP::SOSY'
        |UNION ALL SELECT 'COLL::TREATMENT', 'GROUP::TREATMENT'
        |UNION ALL SELECT 'GROUP::EXAM', 'ENT::ANATOMIE ENT::DIAGNOSTIC_PROCEDURE'
        |UNION ALL SELECT 'GROUP::SOSY', 'ENT::ANATOMIE ENT::SOSY ENT::SUBSTANCE'
        |UNION ALL SELECT 'GROUP::TREATMENT', 'ENT::ADMINISTRATION ENT::DOSAGE ENT::FREQUENCY ENT::SUBSTANCE'
        |UNION ALL SELECT 'REL::EXAM<->SOSY', 'GROUP::EXAM GROUP::SOSY'
        |UNION ALL SELECT 'REL::SOSY<->TREATMENT', 'GROUP::SOSY GROUP::TREATMENT'""".stripMargin,

    // Closed-form integer arithmetic over entity index j (entities at
    // word 5j, sentences of 7 words → sentence = 5j // 7): kept entity
    // ⟺ j % 3 ≠ 1 (freq dropped after the rename); kept relation ⟺
    // j % 6 = 2 (even j keeps "likes", and both endpoints must dodge
    // the freq slot) with both endpoints in one sentence; annotated
    // sentences = distinct sentence values over kept entities. No
    // parsing, no offsets — the Spark side's real parser must land on
    // these numbers.
    "read_brat_documents" -> bratCountsOracle,
    // the archive round trip must be invisible: same counts either way
    "read_brat_archive_documents" -> bratCountsOracle,

    // Independent recomputation of the similarity metrics: same literal
    // feature set, jaccard + decay formula + short-circuit order in SQL,
    // sequence-jaro via the string jaro-winkler over sorted single-char
    // labels. Constant shapes (1.0·jac₀ + 0.5·jac₁)/1.5 mirror the
    // Scala loop's evaluation order so the doubles agree bit-for-bit
    // before the ppb rounding.
    "similarity_tau_edges" ->
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
        |FROM sims""".stripMargin,

    // Pinned golden for the natural-convergence lane: the staged forest
    // converges in epoch 4 (three op-firing passes — collection merge,
    // relation formation, same-label relation merge — then one silent
    // pass, the reference's stop condition), and a second rewrite over
    // the result converges immediately with identical productions
    // (stable_fixpoint covers both).
    "rewrite_converge_synthetic" ->
      """SELECT 'COLL::A' AS lhs, 'REL::A<->B' AS rhs,
        |  CAST(4 AS BIGINT) AS epochs_to_converge, true AS stable_fixpoint
        |UNION ALL SELECT 'GROUP::A', 'ENT::ea1 ENT::ea2', 4, true
        |UNION ALL SELECT 'GROUP::B', 'ENT::eb1 ENT::eb2', 4, true
        |UNION ALL SELECT 'REL::A<->B', 'GROUP::A GROUP::B', 4, true""".stripMargin,

    // Pinned golden (verified identical across independent runs): the
    // fixpoint collapses the stripped forest to one group of the joined
    // row's 8 entity types plus its collection — the same terminal shape
    // simple_rewrite derives, reached through the full epoch loop.
    "rewrite_customer" ->
      """SELECT 'COLL::UndefinedGroup' AS lhs, 'GROUP::UndefinedGroup' AS rhs
        |UNION ALL SELECT 'GROUP::UndefinedGroup',
        |  'ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name ENT::n_name ENT::n_nationkey ENT::r_name ENT::r_regionkey'""".stripMargin,

    "read_cypher_customer" ->
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_mktsegment", "c_name"))} FROM customer",

    // identity: a forest compared against itself scores perfectly
    "metrics_self_compare_customer" ->
      """SELECT CAST(1.0 AS DOUBLE) AS coverage, CAST(1.0 AS DOUBLE) AS cluster_ami,
        |       CAST(1.0 AS DOUBLE) AS cluster_completeness""".stripMargin,

    // every bundle key recomputed relationally: counts via the inspector
    // arithmetic, distinct counts from the loader's fixed label variety
    // (8 ENT / 3 GROUP / 2 REL / 1 plain ROOT), identity scores from
    // self-compare, schema quality from the quality-lane formulas, and
    // clustering.cluster_count = 3 (one entity cluster per join context;
    // measured stable at sf0.001 and sf0.01)
    "metrics_log_customer" ->
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
        |SELECT metric, CAST(round(value * 1e9) AS BIGINT) AS value_ppb FROM v""".stripMargin,

    "schema_verify_customer" -> "SELECT true AS is_valid",

    // node/edge/index statement counts are relational identities: one
    // node per entity instance (dedup by oid), one edge per distinct
    // FK pair, one index per exported label
    "export_cypher_customer" ->
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
        |UNION ALL SELECT 'index', 'region', 1""".stripMargin,

    // every regex entity must survive the parse+enrich pipeline
    "corpus_pipeline_documents" ->
      """SELECT 'CUST' AS name,
        |       CAST(sum(len(regexp_extract_all(text, 'customer'))) AS BIGINT) AS n_ents
        |FROM documents
        |UNION ALL
        |SELECT 'SCAN', CAST(sum(len(regexp_extract_all(text, 'scan'))) AS BIGINT)
        |FROM documents""".stripMargin,

    // Closed-form processTree output counts. Per line: segments = token
    // runs split on 'the'; "clean" = every segment non-empty (else the
    // parser emits the flat shape, exercising no coordination). ENT
    // counts are the plain token tallies (entity-less lines die, but
    // contribute 0 anyway). Node removal CASCADES (MTree.remove mirrors
    // the reference's recursive=True): an entity-less segment vanishes,
    // a 1-entity segment collapses to a bare ENT (in place via reduce,
    // or hoisted to the CONJ when the entity is the segment's only
    // token), and a ≥2-entity segment survives as one structural node.
    // With m1/m2 = #segments holding exactly-one/two-or-more entities, a
    // clean line keeps a ROOT iff it retains ≥2 children (m1+m2 ≥ 2) or
    // its single survivor is structural (m2 ≥ 1), and its UNDEF count is
    // m2 except in the m2=1, m1=0 case where that node IS the root. Flat
    // lines: ≥2 entities → ROOT over bare ENTs; 1 → the ENT is the whole
    // tree; 0 → dropped. Zero-count labels are filtered because Spark's
    // groupBy cannot emit empty groups.
    "corpus_enrich_documents" ->
      """WITH lined AS (
        |  SELECT doc_id, li,
        |    list_filter(string_split(ls[li], ' '), x -> x <> '') AS toks
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
        |  CROSS JOIN UNNEST(range(1, len(ls) + 1)) AS r(li)),
        |tok AS (
        |  SELECT doc_id, li, i, toks[i] AS t,
        |    sum(CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END) OVER
        |        (PARTITION BY doc_id, li ORDER BY i)
        |      - CASE WHEN toks[i] = 'the' THEN 1 ELSE 0 END AS seg
        |  FROM lined CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)),
        |seg AS (
        |  SELECT doc_id, li, seg,
        |    count(*) FILTER (WHERE t IN ('customer', 'scan')) AS n_ent
        |  FROM tok GROUP BY 1, 2, 3
        |  HAVING count(*) FILTER (WHERE t <> 'the') > 0),
        |line AS (
        |  SELECT l.doc_id, l.li,
        |    len(list_filter(l.toks, x -> x = 'the')) AS k,
        |    len(list_filter(l.toks, x -> x = 'customer')) AS cust,
        |    len(list_filter(l.toks, x -> x = 'scan')) AS scn,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li) AS nsegs,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li AND s.n_ent = 1) AS m1,
        |    (SELECT count(*) FROM seg s
        |     WHERE s.doc_id = l.doc_id AND s.li = l.li AND s.n_ent >= 2) AS m2
        |  FROM lined l),
        |cls AS (SELECT *, (k >= 1 AND nsegs = k + 1) AS clean FROM line),
        |out AS (
        |  SELECT 'CUST' AS label, CAST(sum(cust) AS BIGINT) AS n_nodes FROM cls
        |  UNION ALL SELECT 'SCAN', CAST(sum(scn) AS BIGINT) FROM cls
        |  UNION ALL SELECT 'ROOT', CAST(sum(CASE
        |    WHEN clean AND (m1 + m2 >= 2 OR m2 >= 1) THEN 1
        |    WHEN NOT clean AND cust + scn >= 2 THEN 1
        |    ELSE 0 END) AS BIGINT) FROM cls
        |  UNION ALL SELECT 'UNDEF', CAST(sum(CASE
        |    WHEN clean AND m1 + m2 >= 2 THEN m2
        |    ELSE 0 END) AS BIGINT) FROM cls)
        |SELECT label, n_nodes FROM out WHERE n_nodes > 0""".stripMargin,

    // The model's in-vocabulary predictions ARE the dictionary (margin
    // pinned in MlTaggerSpec), so distributed inference must reproduce
    // the dictionary join exactly.
    "ml_tag_documents" ->
      s"""WITH dict(w, tag) AS (VALUES $mlDictValues),
         |toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT tag, count(*) AS n_tokens
         |FROM toks JOIN dict USING (w) GROUP BY tag""".stripMargin,

    // Chunk arithmetic over tag runs: collapse DET/ADJ into one class
    // 'DA', group maximal same-class runs (gaps-and-islands), then
    // NP = #NOUN runs (a preceding DA run merges INTO the NP),
    // VP = #VERB runs, TOK = tokens of DA runs not followed by a NOUN
    // run. Zero-count labels filtered (Spark groupBy can't emit them).
    "ml_parse_documents" ->
      s"""WITH dict(w, tag) AS (VALUES $mlDictValues),
         |toks AS (
         |  SELECT doc_id, i, ws[i] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  CROSS JOIN UNNEST(range(1, len(ws) + 1)) AS r(i)),
         |tagged AS (
         |  SELECT doc_id, i,
         |         CASE WHEN tag IN ('DET','ADJ') THEN 'DA' ELSE tag END AS cls
         |  FROM toks JOIN dict USING (w)),
         |marks AS (
         |  SELECT doc_id, i, cls,
         |         CASE WHEN lag(cls) OVER (PARTITION BY doc_id ORDER BY i)
         |              IS DISTINCT FROM cls THEN 1 ELSE 0 END AS new_run
         |  FROM tagged),
         |runs0 AS (
         |  SELECT doc_id, i, cls,
         |         sum(new_run) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
         |  FROM marks),
         |runs AS (
         |  SELECT doc_id, run_id, min(cls) AS cls, count(*) AS len, min(i) AS lo
         |  FROM runs0 GROUP BY doc_id, run_id),
         |rn AS (
         |  SELECT *, lead(cls) OVER (PARTITION BY doc_id ORDER BY lo) AS next_cls
         |  FROM runs),
         |out AS (
         |  SELECT 'NP' AS label, CAST(count(*) AS BIGINT) AS n_chunks
         |  FROM rn WHERE cls = 'NOUN'
         |  UNION ALL SELECT 'VP', CAST(count(*) AS BIGINT)
         |  FROM rn WHERE cls = 'VERB'
         |  UNION ALL SELECT 'TOK', CAST(coalesce(sum(len), 0) AS BIGINT)
         |  FROM rn WHERE cls = 'DA' AND (next_cls IS NULL OR next_cls <> 'NOUN'))
         |SELECT label, n_chunks FROM out WHERE n_chunks > 0""".stripMargin,

    // SF-proportional identities (verified at sf0.001/sf0.01): per tree
    // the groupified customer nodes appear 2× (standalone + in its REL),
    // nation 3× (pair + inside both RELs), region 2×; ENT counts follow
    // their groups; one ROOT and one node per REL name stay PLAIN
    "llm_rewrite_customer" ->
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
        |UNION ALL SELECT 'GROUP', 'r_regionkey', 2*n FROM c""".stripMargin,

    // Pinned golden (verified identical at sf0.001/sf0.01/sf0.1): the
    // schema-template lane splits the stripped forest into the
    // nation+region group and the customer group joined by a relation
    "rewrite_schema_only_customer" ->
      """SELECT 'GROUP::UndefinedGroup' AS lhs,
        |       'ENT::n_name ENT::n_nationkey ENT::r_name ENT::r_regionkey' AS rhs
        |UNION ALL SELECT 'GROUP::UndefinedGroup_1',
        |  'ENT::c_acctbal ENT::c_custkey ENT::c_mktsegment ENT::c_name'
        |UNION ALL SELECT 'REL::UndefinedGroup<->UndefinedGroup_1',
        |  'GROUP::UndefinedGroup GROUP::UndefinedGroup_1'""".stripMargin,

    // overlap: the three groups' entity sets are disjoint (pinned by the
    // productions oracle) → 0. balance: 1 − σ/μ over sizes (4,2,2) —
    // σ/μ = √2/4 exactly; both engines round the same double at ppb.
    "schema_quality_customer" ->
      """SELECT CAST(0 AS BIGINT) AS overlap_ppb,
        |  CAST(round((1 - sqrt(2.0) / 4) * 1e9) AS BIGINT) AS balance_ppb,
        |  CAST(3 AS BIGINT) AS n_groups
        |WHERE EXISTS (SELECT 1 FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey)""".stripMargin,

    // loader multiplicities per label (same identities as the inspector
    // oracle) under the uppercase-client renames; relation names pass
    // through normalize ('<->' → '_')
    "llm_label_customer" ->
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
        |SELECT node_type, name, n_nodes FROM out WHERE n_nodes > 0""".stripMargin,

    // self-merge doubles every per-type count, tree count holds, and
    // total_nodes = trees + 2·(groups + relations + entities)
    "tree_merge_customer" ->
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
        |UNION ALL SELECT 'total_nodes', trees + 2 * (ents + grps + rels) FROM base""".stripMargin,

    "inspect_counts_customer" -> inspectCountsCustomerOracle,
    // lossless round trip ⇒ identical counts
    "jsonl_roundtrip_customer" -> inspectCountsCustomerOracle,
    // valid-tree filtering on an already-valid forest ⇒ identical counts
    "extract_valid_trees_customer" -> inspectCountsCustomerOracle,

    "export_sql_customer" ->
      "SELECT DISTINCT c_acctbal, CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment, c_name FROM customer",

    "read_document_props" ->
      "SELECT DISTINCT CAST(props::JSON->>'k' AS VARCHAR) AS k FROM events",

    "read_document_xml" ->
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer",
    // live-db round trip: parquet → Derby → reflect → loadJdbc → extract
    // must land on the same rows as the direct parquet extraction
    "read_jdbc_customer" ->
      s"SELECT DISTINCT ${castCols(Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name"))} FROM customer",
    "read_document_yaml" ->
      s"SELECT DISTINCT ${castCols(Seq("n_name", "n_nationkey"))} FROM nation",
    "read_document_toml" ->
      s"SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region",
    "read_document_xlsx" ->
      s"SELECT DISTINCT ${castCols(Seq("r_name", "r_regionkey"))} FROM region",
    "read_document_csv" ->
      s"SELECT DISTINCT ${castCols(Seq("s_name", "s_suppkey"))} FROM supplier",

    "simple_rewrite_customer" ->
      s"""SELECT DISTINCT ${castCols(Seq(
           "c_acctbal", "c_custkey", "c_mktsegment", "c_name",
           "n_name", "n_nationkey", "r_name", "r_regionkey"))}
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "dedup_exact_documents" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS content_hash,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // same span-excision replay: inverted gram index -> distinct-doc
    // dup set -> covered positions -> ordered rebuild; md5('') for a
    // fully-excised document on both sides
    "dedup_substring_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, i, t[i] AS tok
        |        FROM toks CROSS JOIN UNNEST(range(1, len(t) + 1)) r(i)),
        |grams AS (SELECT doc_id, i, array_to_string(t[i:i+12], ' ') AS g
        |          FROM toks CROSS JOIN UNNEST(range(1, len(t) - 11)) r(i)
        |          WHERE len(t) >= 13),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT grams.doc_id, p
        |        FROM grams JOIN dup USING (g)
        |        CROSS JOIN UNNEST(range(grams.i, grams.i + 13)) rr(p)),
        |flags AS (SELECT pos.doc_id, pos.i, pos.tok, cov.p IS NOT NULL AS removed
        |          FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.i)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN NOT removed THEN tok END, ' ' ORDER BY i), ''))
        |    AS clean_md5
        |FROM flags GROUP BY doc_id""".stripMargin,

    // zipped unnests align positionally in DuckDB, giving each line its
    // 1-based position for the order-preserving string_agg rebuild; the
    // paged CTE mirrors the query's deterministic multi-line view
    "dedup_lines_documents" ->
      """WITH paged AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10), text,
        |           'LICENSE: corpus-wide boilerplate',
        |           CASE WHEN doc_id % 2 = 0 THEN 'COOKIE: accept our cookies' END,
        |           substr(text, 1, 30)) AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, chr(10))) AS line,
        |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM paged
        |), dup AS (
        |  SELECT line, true AS is_dup FROM l
        |  WHERE trim(line) <> '' GROUP BY line HAVING count(*) >= 2
        |), flags AS (
        |  SELECT l.doc_id, l.pos, l.line,
        |         (coalesce(dup.is_dup, false) AND trim(l.line) <> '') AS removed
        |  FROM l LEFT JOIN dup ON l.line = dup.line
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS lines_total,
        |       CAST(count(*) FILTER (WHERE removed) AS BIGINT) AS lines_removed,
        |       md5(coalesce(string_agg(CASE WHEN NOT removed THEN line END,
        |                               chr(10) ORDER BY pos), '')) AS clean_md5
        |FROM flags GROUP BY doc_id""".stripMargin,

    "dedup_ngram_documents" -> ngramJaccardOracle,

    // exact cross-corpus Jaccard: odd (new) ids that no even (old) id
    // matches at >= 0.8
    "dedup_incremental_documents" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
        |       FROM toks WHERE len(ts) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle
        |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |          GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT new_id
        |        FROM pairs JOIN sizes sa ON new_id = sa.doc_id
        |                   JOIN sizes sb ON old_id = sb.doc_id
        |        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_id FROM dup)""".stripMargin,
    "dedup_resolve_documents" -> dedupResolveOracle,
    // MinHash-LSH with b=32, r=4 has miss probability ~5e-8 at j ≥ 0.8,
    // and candidates are verified with exact Jaccard — so the oracle is
    // the same exact-pair SQL as the n-gram query.
    "dedup_minhash_documents" -> ngramJaccardOracle,
    // SimHash is fully SQL-expressible now that the token hash is the
    // portable md5-prefix (TextAnalysis.portableHash).
    "dedup_simhash_documents" -> simhashOracle,
    "dedup_semantic_embeddings" -> semanticDedupOracle,
    "fingerprint_documents" -> fingerprintOracle,
    // sign-LSH + exact-verify ≡ brute force w.h.p. (miss ~5e-7 at the
    // registered band config); NaN (zero-norm) pairs excluded both sides
    // because DuckDB, like Spark, orders NaN above every double.
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.5
        |  AND NOT isnan(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))""".stripMargin,

    "text_stats_documents" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS n_punct,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) < 10 AS is_short
        |FROM documents""".stripMargin,

    // hashed-bag-of-words linear scorer, integer milli-weights: the
    // bucket/weight arithmetic is interpolated from QualityClassifier's
    // own constants so model and oracle cannot desynchronize
    "quality_classifier_documents" -> {
      import graft.operators.QualityClassifier.{DefaultThresholdMilli, Dim, Mix}
      s"""SELECT doc_id, n_tokens, sum_milliweight,
         |  sum_milliweight > $DefaultThresholdMilli * n_tokens AS is_quality
         |FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(list_sum(list_transform(toks, t ->
         |    ((${duckHash("t")} % $Dim) * $Mix) % 2001 - 1000)), 0) AS BIGINT) AS sum_milliweight
         |  FROM (SELECT doc_id,
         |    list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '') AS toks
         |    FROM documents))""".stripMargin
    },

    // the query computes the train→serve agreement gate itself (MLlib
    // training is not SQL-replayable); the oracle pins the gate — the
    // same contract as ann_topk_ivf's recall lane
    "quality_classifier_trained_documents" -> "SELECT true AS accuracy_ge_090",

    "quality_score_documents" ->
      """SELECT doc_id, CAST(
        |  (CASE WHEN nt BETWEEN 10 AND 100000 THEN 25 ELSE 0 END) +
        |  (CASE WHEN np*10 <= nc THEN 20 ELSE 0 END) +
        |  (CASE WHEN nd*5 <= nc THEN 20 ELSE 0 END) +
        |  (CASE WHEN sh >= 2 THEN 20 ELSE 0 END) +
        |  (CASE WHEN ndt*100 >= nt*30 THEN 15 ELSE 0 END) AS INT) AS quality_score
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS nt,
        |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS ndt,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS np,
        |  CAST(len(list_intersect(list_distinct(string_split(lower(trim(text)), ' ')),
        |       ['the','a','and','of','to','in','is','that','it','for'])) AS BIGINT) AS sh
        |FROM documents)""".stripMargin,

    "token_count_documents" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "lang_id_documents" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    list_distinct(string_split(lower(trim(text)), ' ')) AS toks,
         |    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
         |  FROM documents),
         |h AS (SELECT doc_id, text, cjk,
         |    len(list_intersect(toks, [${sqlList("en")}])) AS he,
         |    len(list_intersect(toks, [${sqlList("es")}])) AS hs,
         |    len(list_intersect(toks, [${sqlList("fr")}])) AS hf,
         |    len(list_intersect(toks, [${sqlList("de")}])) AS hd
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN cjk * 10 > length(text) * 3 THEN 'zh'
         |       WHEN he > 0 AND he >= hs AND he >= hf AND he >= hd THEN 'en'
         |       WHEN hs > 0 AND hs >= he AND hs >= hf AND hs >= hd THEN 'es'
         |       WHEN hf > 0 AND hf >= he AND hf >= hs AND hf >= hd THEN 'fr'
         |       WHEN hd > 0 AND hd >= he AND hd >= hs AND hd >= hf THEN 'de'
         |       ELSE 'und' END AS lang_pred
         |FROM h""".stripMargin,

    "ann_topk_ivf_full_probe" -> annBruteOracle,
    "ann_topk_brute" -> annBruteOracle,
    // full RRF replay: dense cosine ranks, sparse 3-gram Jaccard ranks
    // (same shingle formulation as the dedup oracle), per-system top-20
    // truncation, integer micro-unit fusion, fused top-5
    "hybrid_retrieval_documents" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |dsim AS (SELECT qid, vec_id AS id,
        |                list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |         FROM q, embeddings WHERE vec_id <> qid),
        |dr AS (SELECT qid, id,
        |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
        |       FROM dsim),
        |dtop AS (SELECT qid, id, rnk FROM dr WHERE rnk <= 20),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
        |       FROM toks WHERE len(ts) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |qsh AS (SELECT doc_id AS qid, shingle FROM sh WHERE doc_id < 10),
        |inter AS (SELECT qs.qid, s.doc_id AS id, count(*) AS i
        |          FROM qsh qs JOIN sh s ON qs.shingle = s.shingle AND s.doc_id <> qs.qid
        |          GROUP BY 1, 2),
        |sr AS (SELECT i.qid, i.id,
        |              row_number() OVER (PARTITION BY i.qid
        |                ORDER BY CAST(i.i AS DOUBLE) / (sa.n + sq.n - i.i) DESC, i.id ASC) AS rnk
        |       FROM inter i JOIN sizes sa ON i.id = sa.doc_id
        |                    JOIN sizes sq ON i.qid = sq.doc_id),
        |stop AS (SELECT qid, id, rnk FROM sr WHERE rnk <= 20),
        |fused AS (SELECT COALESCE(d.qid, st.qid) AS qid, COALESCE(d.id, st.id) AS id,
        |                 COALESCE(CAST(round(1000000.0 / (60 + d.rnk)) AS BIGINT), 0)
        |                 + COALESCE(CAST(round(1000000.0 / (60 + st.rnk)) AS BIGINT), 0) AS rrf_micro
        |          FROM dtop d FULL OUTER JOIN stop st ON d.qid = st.qid AND d.id = st.id),
        |r AS (SELECT qid, id, rrf_micro,
        |             row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id ASC) AS rk
        |      FROM fused)
        |SELECT qid AS query_id, id AS neighbor_id, rrf_micro FROM r WHERE rk <= 5""".stripMargin,
    // full BM25 replay: tokenize, tf/dl/df and the N/T corpus stats,
    // per-term micro-rounded contributions (rounding BEFORE the sum
    // makes aggregation order irrelevant on both engines), rank, top-10.
    // Arithmetic order mirrors the Spark expression token for token —
    // IEEE doubles make every step but ln() bit-exact, and the micro
    // rounding absorbs a last-ulp ln() difference
    "bm25_rank_documents" -> (bm25Ctes +
      """SELECT qid, id, bm25_micro, CAST(rank AS INT) AS rank
        |FROM br WHERE rank <= 10""".stripMargin),
    // dense cosine replay (as in hybrid_retrieval_documents) fused with
    // the BM25 replay above via the same integer micro-unit RRF
    "hybrid_retrieval_bm25" -> (bm25Ctes +
      """, q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |dsim AS (SELECT qid, vec_id AS id,
        |                list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |         FROM q, embeddings WHERE vec_id <> qid),
        |dr AS (SELECT qid, id,
        |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
        |       FROM dsim),
        |dtop AS (SELECT qid, id, rnk FROM dr WHERE rnk <= 20),
        |stop AS (SELECT qid, id, rank AS rnk FROM br WHERE rank <= 20),
        |fused AS (SELECT COALESCE(d.qid, st.qid) AS qid, COALESCE(d.id, st.id) AS id,
        |                 COALESCE(CAST(round(1000000.0 / (60 + d.rnk)) AS BIGINT), 0)
        |                 + COALESCE(CAST(round(1000000.0 / (60 + st.rnk)) AS BIGINT), 0) AS rrf_micro
        |          FROM dtop d FULL OUTER JOIN stop st ON d.qid = st.qid AND d.id = st.id),
        |r AS (SELECT qid, id, rrf_micro,
        |             row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id ASC) AS rk
        |      FROM fused)
        |SELECT qid AS query_id, id AS neighbor_id, rrf_micro FROM r WHERE rk <= 5""".stripMargin),
    "ann_topk_pq" -> pqAdcOracle,
    // exhaustive probing ≡ the exhaustive ADC scan — same replay
    "ann_topk_ivfadc_full" -> pqAdcOracle,
    "ann_topk_ivfadc" -> "SELECT true AS recall_ge_080",
    "ann_topk_opq" -> "SELECT true AS opq_err_le_pq, true AS recall_ge_080",
    "ann_topk_pq_rerank" -> "SELECT true AS recall_ge_080",
    // the query computes the recall gate itself (IVF@nProbe=4 vs brute
    // top-5, both Spark-side); the oracle pins the gate
    "ann_topk_ivf" -> "SELECT true AS recall_ge_090",

    // Pinned golden at the driver's correctness scale (sf0.01): the
    // customer forest yields exactly three clusters, of 3000, 4500, and
    // 6000 member subtrees (deterministic — see the registry comment).
    "cluster_subtrees_customer" ->
      """SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(n_clusters AS BIGINT) AS n_clusters
        |FROM (VALUES (3000, 1), (4500, 1), (6000, 1)) AS t(cluster_size, n_clusters)""".stripMargin,

    // the gray-PNG fixture is pure arithmetic in doc_id: dims from the
    // same formulas, luminance sum = sum over row-major pixel index k of
    // (doc_id*31 + k) mod 256 — exact because PNG gray is lossless.
    // Max dims are 16x13 = 208 px, so a constant range cross-join
    // (DuckDB's range() can't take lateral parameters) covers every k.
    "image_features_documents" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |         CAST(3 + (doc_id * 7) % 11 AS INTEGER) AS height
        |  FROM documents)
        |SELECT g.doc_id, g.width, g.height,
        |       CAST(g.width * g.height AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 31 + t.k) % 256) AS BIGINT) AS sum_luma
        |FROM g, range(0, 208) t(k)
        |WHERE t.k < g.width * g.height
        |GROUP BY g.doc_id, g.width, g.height""".stripMargin,

    // the PCM-16 fixture is pure arithmetic in doc_id: format fields
    // from the same formulas, amplitude sum = sum over interleaved
    // sample index k of ((doc_id*17 + k*13) mod 2048) - 1024 — exact
    // because WAV PCM is lossless. Max samples are 64 frames × 2
    // channels = 128, so a constant range cross-join covers every k;
    // duration is integer millisecond arithmetic on both sides.
    "audio_features_documents" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
        |         CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |         CAST(40 + doc_id % 25 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT g.doc_id, g.sample_rate, g.channels, g.n_frames,
        |       CAST(g.n_frames * g.channels AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 17 + t.k * 13) % 2048 - 1024) AS BIGINT) AS sum_amplitude,
        |       CAST(g.n_frames * 1000 // g.sample_rate AS BIGINT) AS duration_ms
        |FROM g, range(0, 128) t(k)
        |WHERE t.k < g.n_frames * g.channels
        |GROUP BY g.doc_id, g.sample_rate, g.channels, g.n_frames""".stripMargin,

    // the AVI fixture is pure arithmetic in (doc_id, frame j, pixel k):
    // dims/frame-count from the same formulas, luminance sum =
    // sum over j < n_frames, k < width*height of
    // (doc_id*13 + j*31 + k) mod 256 — exact because the frames are
    // lossless gray PNGs. Max 3 frames × 63 px, so constant range
    // cross-joins cover every (j, k).
    "video_features_documents" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(1 + doc_id % 3 AS INTEGER) AS n_frames,
        |         CAST(4 + doc_id % 6 AS INTEGER) AS width,
        |         CAST(3 + doc_id % 5 AS INTEGER) AS height
        |  FROM documents)
        |SELECT g.doc_id, g.n_frames, g.width, g.height,
        |       CAST(g.n_frames * g.width * g.height AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 13 + f.j * 31 + t.k) % 256) AS BIGINT) AS sum_luma
        |FROM g, range(0, 3) f(j), range(0, 63) t(k)
        |WHERE f.j < g.n_frames AND t.k < g.width * g.height
        |GROUP BY g.doc_id, g.n_frames, g.width, g.height""".stripMargin,

    // shard = min(((excl + max(n,1) − 1) · 8) div T, 7) — the document's
    // last-token position over the corpus prefix sum, all-BIGINT
    "shard_export_documents" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |  sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS excl
        |  FROM t),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS T FROM t)
        |SELECT CAST(shard AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM (SELECT n, least(((excl + greatest(n, 1) - 1) * 8) // T, 7) AS shard FROM c, tot)
        |GROUP BY 1""".stripMargin,

    "curriculum_rank_documents" ->
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank
        |FROM documents""".stripMargin,

    // exact top-25 recomputed relationally; the sketch gates pinned
    // true — `overestimates` is a structural CMS invariant, but
    // `within_eps` is a fixed-seed canary (probabilistic bound that
    // happens to hold on this corpus; re-validate on new datasets)
    "cms_tokens_documents" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |top AS (
        |  SELECT token, count(*) AS exact_count FROM toks
        |  WHERE len(token) > 0 GROUP BY token
        |  ORDER BY exact_count DESC, token ASC LIMIT 25)
        |SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
        |       true AS overestimates, true AS within_eps
        |FROM top""".stripMargin,

    // same one-pass metrics, same truncating-integer ppm arithmetic;
    // passed recomputed independently from the oracle's own metric
    "validate_orders" ->
      """WITH t AS (SELECT
        |    count(*) AS total,
        |    count(o_custkey) AS m0,
        |    count(DISTINCT o_orderkey) AS m1,
        |    count(DISTINCT o_custkey) AS m2,
        |    count(CASE WHEN o_totalprice >= 0 THEN 1 END) AS m3,
        |    count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS m4,
        |    count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END) AS m5
        |  FROM orders),
        |v AS (
        |  SELECT 'completeness(o_custkey)' AS chk, 'o_custkey' AS col,
        |         m0 * 1000000 // total AS metric_ppm, 1000000 AS threshold_ppm FROM t
        |  UNION ALL
        |  SELECT 'distinctness(o_orderkey)', 'o_orderkey', m1 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'distinctness(o_custkey)', 'o_custkey', m2 * 1000000 // total, 500000 FROM t
        |  UNION ALL
        |  SELECT 'totalprice_nonneg', 'o_totalprice', m3 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'status_domain', 'o_orderstatus', m4 * 1000000 // total, 1000000 FROM t
        |  UNION ALL
        |  SELECT 'priority_shape', 'o_orderpriority', m5 * 1000000 // total, 1000000 FROM t)
        |SELECT chk AS "check", col AS "column",
        |       CAST(metric_ppm AS BIGINT) AS metric_ppm,
        |       CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
        |       metric_ppm >= threshold_ppm AS passed
        |FROM v""".stripMargin,

    // same nearest-rank definition, same integer rank arithmetic
    "quantiles_documents" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN n_chars END) AS p50,
        |       max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN n_chars END) AS p90,
        |       max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY lang""".stripMargin,

    "sample_fixed_documents" -> {
      val h = duckHash("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY $h ASC, doc_id ASC) AS INT)
         |      AS sample_rank
         |  FROM documents)
         |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 25""".stripMargin
    },

    "tfidf_keywords_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |        FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |s AS (SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
        |        CAST((tfc.tf * 1000000) // dfc.df AS BIGINT) AS score_ppm,
        |        CAST(row_number() OVER (PARTITION BY tfc.doc_id
        |             ORDER BY (tfc.tf * 1000000) // dfc.df DESC, tfc.term ASC) AS INT) AS rank
        |      FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, rank, term, tf, df, score_ppm FROM s WHERE rank <= 3""".stripMargin,

    "repetition_stats_documents" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines,
        |  CAST(len(string_split(text, chr(10))) - len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_dup_lines,
        |  (len(string_split(text, chr(10))) - len(list_distinct(string_split(text, chr(10))))) * 10
        |    > len(string_split(text, chr(10))) * 3 AS is_repetitive
        |FROM documents""".stripMargin,

    "vocabulary_documents" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token ASC
        |LIMIT 100""".stripMargin,

    // same single-space tokenization; bigrams via positionally-aligned
    // zipped unnests over the filtered token list
    // independent NFC via DuckDB's ICU-backed nfc_normalize over the
    // same decomposed injection (chr(769)=U+0301, chr(776)=U+0308)
    "normalize_nfc_documents" ->
      """WITH denorm AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS text
        |  FROM documents)
        |SELECT doc_id,
        |       nfc_normalize(text) <> text AS changed,
        |       md5(nfc_normalize(text)) AS norm_md5
        |FROM denorm""".stripMargin,

    "top_ngrams_documents" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(trim(text), ' '), t -> length(t) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |                               i -> t[i] || ' ' || t[i + 1])) AS ngram
        |  FROM toks WHERE len(t) >= 2)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM grams GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram ASC
        |LIMIT 50""".stripMargin,

    // replays the full BPE training loop: v0 = char-split word-frequency
    // table, then per merge i: pair counts (p_i) -> deterministic
    // arg-max (b_i) -> left-to-right non-overlapping merge (v_i) via
    // the same literal `replace` over the space-padded symbol string
    "bpe_train_documents" -> {
      val k = 10
      val sel = (1 to k)
        .map(i => s"SELECT $i AS merge_rank, pair, replace(pair, ' ', '') AS merged, " +
          s"CAST(n AS BIGINT) AS n_occurrences FROM b$i")
        .mkString("\nUNION ALL\n")
      bpeTrainCtes(k).mkString("WITH ", ",\n", "\n") + sel
    },

    // replays training (shared CTE chain), then re-encodes every
    // document word through the same 10 replace steps
    "bpe_encode_documents" -> {
      val k = 10
      val encodeHead =
        """dw AS MATERIALIZED (
          |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |                                    t -> regexp_matches(t, '^[a-z]+$'))) AS word
          |  FROM documents),
          |e0 AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq FROM dw)""".stripMargin
      // coalesce the pattern to an unmatchable NUL so a degenerate corpus
      // with < k learnable merges (empty b_i -> NULL scalar subquery)
      // leaves seq untouched, exactly like encodeBpe applying only the
      // merges actually learned — instead of replace(seq, NULL, NULL)
      // nullifying every row
      val encodeIters = (1 to k).map { i =>
        s"""e$i AS MATERIALIZED (SELECT doc_id, trim(replace(' ' || seq || ' ',
           |    coalesce(' ' || (SELECT pair FROM b$i) || ' ', chr(0)),
           |    coalesce(' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ', chr(0)))) AS seq FROM e${i - 1})""".stripMargin
      }
      (bpeTrainCtes(k) ++ (encodeHead +: encodeIters)).mkString("WITH ", ",\n", "\n") +
        s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |       CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe_tokens
           |FROM e$k GROUP BY doc_id""".stripMargin
    },

    // retrains the bigram model relationally: same tokenization, same
    // add-one smoothing, same ×10⁴ per-transition rounding before any sum
    "lm_surprisal_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                             t -> regexp_matches(t, '^[a-z]+$')) AS t
        |  FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |       FROM toks CROSS JOIN UNNEST(range(1, len(t))) AS r(i)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
        |ts AS (SELECT w1, w2,
        |         CAST(round(ln(CAST(c1 + v AS DOUBLE) / CAST(cb + 1 AS DOUBLE)) * 10000) AS BIGINT) AS s_e4
        |       FROM bc JOIN uni ON uni.w = bc.w1 CROSS JOIN v),
        |per AS (SELECT bg.doc_id, CAST(sum(ts.s_e4) AS BIGINT) AS sum_e4,
        |               CAST(count(*) AS BIGINT) AS n_bigrams
        |        FROM bg JOIN ts ON ts.w1 = bg.w1 AND ts.w2 = bg.w2
        |        GROUP BY bg.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(p.sum_e4, 0) AS BIGINT) AS surprisal_e4_sum,
        |  coalesce(p.sum_e4, 0) <= 50000 * coalesce(p.n_bigrams, 0) AS kept
        |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""".stripMargin,

    // the same injection + the same patterns as the Spark side, staged
    // through one CTE per category so counts honor the redaction order
    "pii_redaction_documents" -> {
      val inj =
        """inj AS (SELECT doc_id,
          |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source ||
          |  '.example.com or call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
          |  ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 250 AS VARCHAR) ||
          |  ' ref ' || CAST(doc_id * 1000003 + 10000000 AS VARCHAR) AS t
          |FROM documents)""".stripMargin
      val stages = graft.operators.Pii.Patterns.zipWithIndex.map { case ((name, p, r), i) =>
        val prev = if (i == 0) "inj" else s"s$i"
        s"s${i + 1} AS (SELECT * EXCLUDE (t), " +
          s"CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_$name, " +
          s"regexp_replace(t, '$p', '$r', 'g') AS t FROM $prev)"
      }
      val residual = graft.operators.Pii.Patterns
        .map { case (_, p, _) => s"len(regexp_extract_all(t, '$p'))" }
        .mkString(" + ")
      (inj +: stages).mkString("WITH ", ",\n", "\n") +
        s"SELECT * EXCLUDE (t), CAST($residual AS BIGINT) AS n_residual " +
        s"FROM s${graft.operators.Pii.Patterns.size}"
    },

    "decontaminate_documents" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g
        |  FROM toks CROSS JOIN UNNEST(range(1, len(t) - 11)) AS r(i)
        |  WHERE len(t) >= 13),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
        |SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_matched_ngrams
        |FROM corp JOIN bench USING (g)
        |GROUP BY 1""".stripMargin,

    "mixture_rebalance_documents" ->
      """WITH s AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1)
        |SELECT stratum, n_docs, n_tokens,
        |  CAST(10000 * (SELECT min(n_tokens) FROM s) // n_tokens AS BIGINT) AS keep_bp
        |FROM s""".stripMargin,

    // temperature mixture: same share CTE, then the exact integer sqrt
    // (double seed + the two ±1 corrections — identical to the Spark
    // expression, so libm rounding can't diverge the engines), the
    // per-weight quota min, and the two integer divisions
    "mixture_temperature_documents" ->
      """WITH s AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w0 AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS x0 FROM s),
        |w1 AS (SELECT *, x0 - (CASE WHEN x0 * x0 > n_tokens THEN 1 ELSE 0 END) AS x1 FROM w0),
        |w2 AS (SELECT *, x1 + (CASE WHEN (x1 + 1) * (x1 + 1) <= n_tokens THEN 1 ELSE 0 END) AS wgt FROM w1),
        |q AS (SELECT min(n_tokens // wgt) AS quota FROM w2 WHERE n_tokens > 0)
        |SELECT stratum, n_docs, n_tokens,
        |  CAST(CASE WHEN n_tokens > 0 THEN wgt * (SELECT quota FROM q) ELSE 0 END AS BIGINT) AS target_tokens,
        |  CAST(CASE WHEN n_tokens > 0 THEN (10000 * wgt * (SELECT quota FROM q)) // n_tokens
        |       ELSE 10000 END AS BIGINT) AS keep_bp
        |FROM w2""".stripMargin,

    // window starts at multiples of the stride; count is
    // ceil(max(n - maxLen, 0) / stride) + 1; list slicing rebuilds the
    // exact chunk text
    "chunk_documents" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    ((greatest(len(toks) - 64, 0) + 47) // 48 + 1) AS n_chunks
        |  FROM docs)
        |SELECT doc_id,
        |  CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS start_token,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
        |FROM base CROSS JOIN UNNEST(range(n_chunks)) AS r(i)""".stripMargin,

    "pack_sequences_documents" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS excl
        |  FROM t)
        |SELECT doc_id AS id, n_tokens,
        |  CAST(coalesce(excl, 0) // 1000 AS BIGINT) AS chunk
        |FROM s""".stripMargin,

    "sample_stratified_documents" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckHash("coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 9000 ELSE 7500 END""".stripMargin,
  )

  /** Loader node-count identities (no nulls in this corpus): per tree the
    * customer group materializes once standalone + once per REL; nation
    * 2× per matched pair + 1× inside the nation<->region REL; region 2×
    * per matched chain. ents = groups × their column counts.
    */
  /** Closed-form recomputation of the BRAT fixture's per-doc counts —
    * shared by the directory and archive lanes (the container must not
    * change the parse).
    */
  private lazy val bratCountsOracle: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    (len(string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ')) + 4) // 5 AS n_ent
      |  FROM documents),
      |js AS (
      |  SELECT doc_id, n_ent, unnest(range(n_ent)) AS j FROM docs),
      |kept AS (
      |  SELECT doc_id, j, (5 * j) // 7 AS sent FROM js WHERE j % 3 <> 1),
      |rels AS (
      |  SELECT doc_id FROM js
      |  WHERE j % 6 = 2 AND j + 1 < n_ent AND (5 * j) // 7 = (5 * j + 5) // 7)
      |SELECT d.doc_id,
      |  CAST(coalesce(s.n_sent, 0) AS BIGINT) AS n_sentences,
      |  CAST(coalesce(s.n_ent_kept, 0) AS BIGINT) AS n_entities,
      |  CAST(coalesce(r.n_rel, 0) AS BIGINT) AS n_relations
      |FROM docs d
      |LEFT JOIN (SELECT doc_id, count(DISTINCT sent) AS n_sent, count(*) AS n_ent_kept
      |           FROM kept GROUP BY 1) s USING (doc_id)
      |LEFT JOIN (SELECT doc_id, count(*) AS n_rel FROM rels GROUP BY 1) r USING (doc_id)""".stripMargin

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

  /** DuckDB replay of Dedup.semanticDedup's exact model: deterministic
    * Lloyd (init = first 10 ids, 2 rounds) unrolled into chained CTEs —
    * assignment = argmax cosine with the larger-cid tie-break, means per
    * (cid, dim) via positionally-zipped unnests — then the greedy
    * min-id verdict at cosine ≥ 0.5. Clusters that lose all members
    * drop out of the next round's centroid set, as in the Scala model.
    */
  private lazy val semanticDedupOracle: String = {
    // closest-centroid assignment of `e` against centroid CTE `c`
    def assign(from: String, cents: String): String =
      s"""SELECT vec_id, v, cid FROM (
         |  SELECT $from.vec_id, $from.v, $cents.cid,
         |         row_number() OVER (PARTITION BY $from.vec_id
         |           ORDER BY list_cosine_similarity($from.v, $cents.cv) DESC,
         |                    $cents.cid DESC) AS rn
         |  FROM $from, $cents) t WHERE rn = 1""".stripMargin
    // per-cid dimension means of assignment CTE `a` as the next
    // centroids — the ORDER-INDEPENDENT integer formulation
    // lloydCentroids uses (nano-quantized sums, then sum/count/1e9),
    // so Spark's partial-aggregation order can never drift the replay
    def means(a: String): String =
      s"""SELECT cid, list(mv ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos,
         |         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS mv
         |  FROM (
         |    SELECT cid, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos
         |    FROM $a) u
         |  GROUP BY cid, pos) m GROUP BY cid""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |              v AS cv
       |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 10)),
       |a0 AS (${assign("e", "c0")}),
       |c1 AS (${means("a0")}),
       |a1 AS (${assign("e", "c1")}),
       |c2 AS (${means("a1")}),
       |a2 AS (${assign("e", "c2")})
       |SELECT a.vec_id, a.cid,
       |       NOT EXISTS (SELECT 1 FROM a2 b
       |                   WHERE b.cid = a.cid AND b.vec_id < a.vec_id
       |                     AND list_cosine_similarity(a.v, b.v) >= 0.5) AS kept
       |FROM a2 a""".stripMargin
  }

  /** Exact 3-gram-shingle Jaccard pairs at threshold 0.8 — DuckDB form of
    * Dedup.ngramJaccardPairs (1-based inclusive list slicing).
    */
  private lazy val ngramJaccardOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id,
      |       unnest(list_distinct([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)])) AS shingle
      |       FROM toks WHERE len(ts) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id
      |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""".stripMargin

  /** Survivors of Dedup.resolvePairs over the ngram pair list: the
    * recursive CTE enumerates (node, reachable-start) pairs of the
    * undirected pair graph — bounded by component sizes, which are tiny
    * for this corpus — so min(start) per node is the component's min id,
    * exactly the representative the Spark side keeps.
    */
  private lazy val dedupResolveOracle: String =
    s"""WITH RECURSIVE p AS ($ngramJaccardOracle),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(node, lab) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
       |comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)""".stripMargin

  private def sqlList(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")

  /** Exact top-5 cosine neighbors for query ids 0-9 — oracle for both
    * the brute-force query and the full-probe IVF query (probing every
    * list is exhaustive search, so both must match this exactly).
    */
  /** The BM25 replay CTE chain (ends at `br` = ranked scores) shared by
    * the bm25 lane and the bm25-hybrid fusion lane. Arithmetic order
    * mirrors [[graft.operators.Bm25.rank]] token for token — the
    * contribution is micro-rounded per (query, candidate, term) BEFORE
    * the sum, so aggregation order cannot move a bit on either engine.
    */
  private lazy val bm25Ctes: String =
    """WITH btoks AS (SELECT doc_id AS id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      |  FROM documents),
      |btf AS MATERIALIZED (SELECT id, token, count(*) AS tf FROM btoks GROUP BY 1, 2),
      |bdl AS MATERIALIZED (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
      |bst AS MATERIALIZED (SELECT
      |    CAST((SELECT count(DISTINCT doc_id) FROM documents) AS DOUBLE) AS n,
      |    CAST((SELECT sum(dl) FROM bdl) AS DOUBLE) AS t),
      |bdf AS MATERIALIZED (SELECT token, count(*) AS df FROM btf GROUP BY 1),
      |bq AS (SELECT id AS qid, token FROM btf WHERE id < 10),
      |bsc AS MATERIALIZED (
      |  SELECT bq.qid, c.id,
      |         CAST(sum(CAST(round(
      |           ln((n - df + 0.5) / (df + 0.5) + 1.0)
      |           * ((CAST(c.tf AS DOUBLE) * 2.2) /
      |              (CAST(c.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n / t))))
      |           * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
      |  FROM bq JOIN btf c ON bq.token = c.token AND c.id <> bq.qid
      |       JOIN bdf ON bdf.token = c.token JOIN bdl ON bdl.id = c.id, bst
      |  GROUP BY 1, 2),
      |br AS (SELECT qid, id, bm25_micro,
      |              row_number() OVER (PARTITION BY qid
      |                ORDER BY bm25_micro DESC, id ASC) AS rank
      |       FROM bsc)
      |""".stripMargin

  private lazy val annBruteOracle: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT qid, vec_id AS neighbor_id,
      |             list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
      |      FROM q, embeddings WHERE vec_id <> qid),
      |r AS (SELECT qid AS query_id, neighbor_id,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id ASC) AS rk
      |      FROM s)
      |SELECT query_id, neighbor_id FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB replay of Ann.pqTopK's exhaustive integer ADC at the
    * default 4×16 config: per-subspace Lloyd with the same init (first
    * 16 vectors by id, sliced), the same argmin tie-break (distance
    * ASC, code DESC), and the same EXPLICIT left-to-right summation the
    * Spark fold uses — so the per-subspace distances are bit-identical,
    * the nano-unit rounding lands on the same integers, and the
    * integer-ADC top-k is exact, not merely similar.
    */
  private lazy val pqAdcOracle: String = {
    val subspaces = 4; val sub = 16; val cb = 16
    def dist(a: String, b: String): String =
      (1 to sub).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")
    def assign(from: String, cents: String): String =
      s"""SELECT vec_id, sv, cid FROM (
         |  SELECT s.vec_id, s.sv, c.cid,
         |         row_number() OVER (PARTITION BY s.vec_id
         |           ORDER BY ${dist("s.sv", "c.cv")} ASC, c.cid DESC) AS rn
         |  FROM $from s, $cents c) t WHERE rn = 1""".stripMargin
    // centroid means replay the Spark side's ORDER-INDEPENDENT integer
    // formulation (operators/Ann.scala pqTrain): nano-quantized member
    // coordinates summed as BIGINT, then the one fixed double expression
    // sumNanos/count/1e9 — float avg would expose partial-aggregation
    // summation order, where an ulp of centroid drift can flip the
    // 1e9-rounded ADC integers
    def means(a: String): String =
      s"""SELECT cid, list(mv ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos,
         |         CAST(sum(CAST(round(val * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS mv
         |  FROM (
         |    SELECT cid, unnest(sv) AS val, unnest(range(1, len(sv) + 1)) AS pos
         |    FROM $a) u
         |  GROUP BY cid, pos) g GROUP BY cid""".stripMargin
    val perSub = (0 until subspaces).flatMap { m =>
      val lo = m * sub + 1; val hi = (m + 1) * sub
      Seq(
        s"s$m AS (SELECT vec_id, v[$lo:$hi] AS sv FROM e)",
        s"""c0_$m AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
           |                 sv AS cv
           |  FROM (SELECT vec_id, sv FROM s$m ORDER BY vec_id LIMIT $cb))""".stripMargin,
        s"a0_$m AS (${assign(s"s$m", s"c0_$m")})",
        s"c1_$m AS (${means(s"a0_$m")})",
        s"a1_$m AS (${assign(s"s$m", s"c1_$m")})",
        s"c2_$m AS (${means(s"a1_$m")})",
        s"a2_$m AS (${assign(s"s$m", s"c2_$m")})",
        s"q$m AS (SELECT vec_id AS qid, sv AS qv FROM s$m WHERE vec_id < 10)",
        s"""d$m AS (SELECT q.qid, a.vec_id,
           |  CAST(round((${dist("q.qv", "c.cv")}) * 1e9) AS BIGINT) AS dd
           |  FROM a2_$m a JOIN c2_$m c USING (cid) CROSS JOIN q$m q)""".stripMargin)
    }
    val adcJoins = (1 until subspaces)
      .map(m => s"JOIN d$m ON d$m.qid = d0.qid AND d$m.vec_id = d0.vec_id")
      .mkString(" ")
    val adcSum = (0 until subspaces).map(m => s"d$m.dd").mkString(" + ")
    (Seq("e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)") ++ perSub)
      .mkString("WITH ", ",\n", ",\n") +
      s"""adc AS (SELECT d0.qid AS query_id, d0.vec_id AS neighbor_id, $adcSum AS adc
         |        FROM d0 $adcJoins WHERE d0.vec_id <> d0.qid),
         |r AS (SELECT query_id, neighbor_id,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY adc ASC, neighbor_id ASC) AS rk
         |      FROM adc)
         |SELECT query_id, neighbor_id FROM r WHERE rk <= 5""".stripMargin
  }

  /** The portable 60-bit hash (TextAnalysis.portableHash) in DuckDB. */
  private def duckHash(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** DuckDB form of Dedup.simHash + simHashPairs: 60-bit simhash over
    * all whitespace tokens, 15-bit chunk banding, hamming ≤ 3.
    */
  private lazy val simhashOracle: String = {
    val bits = graft.operators.Dedup.SimHashBits
    val bsums = (0 until bits)
      .map(j => s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until bits)
      .map(j => s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, ${duckHash("tok")} AS h FROM toks WHERE length(tok) > 0),
       |bits AS (SELECT doc_id, $bsums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM bits),
       |chunks AS (
       |  SELECT doc_id, simhash, c AS chunk, (simhash >> (c * 15)) & 32767 AS v
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** DuckDB form of TextAnalysis.fingerprint (window=4, k=8): k-min
    * sketch of portable-hashed distinct 4-token shingles, re-hashed.
    */
  private lazy val fingerprintOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT doc_id,
       |       unnest(list_distinct([array_to_string(ts[i:i+3], ' ') for i in range(1, len(ts) - 2)])) AS shingle
       |       FROM toks WHERE len(ts) >= 4),
       |h AS (SELECT doc_id, ${duckHash("shingle")} AS h FROM sh),
       |sk AS (SELECT doc_id, list_sort(list(DISTINCT h))[1:8] AS sketch FROM h GROUP BY doc_id)
       |SELECT doc_id, ${duckHash("array_to_string(sketch, ',')")} AS fingerprint
       |FROM sk""".stripMargin

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
}
