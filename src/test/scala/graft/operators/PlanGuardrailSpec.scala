package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guardrails for the scale-critical operator entry points.
  *
  * These cases assert on the *planned* shape (no execution beyond the
  * bounded collects some builders do for dim/centroid inference): a
  * cartesian product or an accidental nested-loop join in any pair
  * generator would still pass a row-count oracle at test SF while being
  * unrunnable at 100 TB, so the plan itself is the contract worth
  * pinning. Each assertion was taken from the current (good) plan; a
  * failure here means a refactor changed the join strategy, not just
  * the numbers.
  */
class PlanGuardrailSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def assertNoUnbounded(name: String, p: String): Unit = {
    assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
  }

  test("every near-dup pair generator joins on keys, never all-pairs") {
    assertNoUnbounded("ngramJaccardPairs", plan(Dedup.ngramJaccardPairs(docs, "doc_id", "text")))
    assertNoUnbounded("minHashLshPairs", plan(Dedup.minHashLshPairs(docs, "doc_id", "text")))
    assertNoUnbounded("simHashPairs", plan(Dedup.simHashPairs(docs, "doc_id", "text")))
    assertNoUnbounded("embeddingCosinePairs", plan(Dedup.embeddingCosinePairs(embs, "vec_id", "embedding")))
    assertNoUnbounded("exactSubstringDedup", plan(Dedup.exactSubstringDedup(docs, "doc_id", "text")))
  }

  test("IVF ANN probes via an equi-join; only the brute baseline broadcasts all-pairs") {
    val ivf = plan(Ann.ivfTopK(embs, "vec_id", "embedding", Seq(0L, 1L, 2L)))
    assertNoUnbounded("ivfTopK", ivf)

    // the brute-force baseline IS an all-pairs scan by definition — the
    // guardrail is that the query side (bounded by queryIds) is the
    // broadcast side, so the corpus never shuffles or collects
    val brute = plan(Ann.bruteForceTopK(embs, "vec_id", "embedding", Seq(0L, 1L, 2L)))
    assert(!brute.contains("CartesianProduct"), "bruteForceTopK plans an unbroadcast cartesian")
    assert(brute.contains("BroadcastNestedLoopJoin"), "bruteForceTopK should broadcast the query side")
  }

  test("large-nLists IVF assignment is a pure per-row expression: no join, no shuffle") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = embs.selectExpr(
      "vec_id as id", "cast(embedding as array<double>) as v")
    val cents = Array.tabulate(4)(i => (i, Seq.tabulate(8)(d => (i + d).toDouble)))
    val assigned = Ann.assignToCentroids(corpus, cents)
    val p = plan(assigned)
    // the centroid set is embedded in one literal; assignment must stay
    // a map-side projection — a join or exchange here means the
    // formulation regressed to something with retry/scale hazards
    assert(!p.contains("Join"), s"assignment must not join: $p")
    assert(!p.contains("CartesianProduct"), "assignment plans a cartesian")
    assert(!p.contains("Exchange"), s"assignment must not shuffle: $p")
    assert(!p.contains("HashAggregate"), "assignment must not aggregate")
    // ... and fully codegen'd: the old array_max(transform(...)) argmax
    // was CodegenFallback in this corpus-wide scan
    val fallbacks = assigned.queryExecution.executedPlan.collect { case sp =>
      sp.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    }.flatten
    assert(fallbacks.isEmpty,
      s"IVF assignment contains CodegenFallback expressions: ${fallbacks.map(_.prettyName)}")
  }

  test("semanticDedup's assignment widens vectors by one cast and is fully codegen'd") {
    graft.functions.GraftFunctions.register(spark)
    val cents = Array.tabulate(4)(i => (i, Seq.tabulate(64)(d => (i + d).toDouble)))
    val assigned = Ann.assignToCentroids(Dedup.semanticCorpus(embs, "vec_id", "embedding"), cents)
    val p = plan(assigned)
    assert(!p.contains("Join") && !p.contains("Exchange"), s"assignment must stay map-side: $p")
    // a transform(_.cast(...)) widening is CodegenFallback in this
    // corpus-wide scan; the single array cast is not
    val fallbacks = assigned.queryExecution.executedPlan.collect { case sp =>
      sp.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    }.flatten
    assert(fallbacks.isEmpty,
      s"semanticDedup assignment contains CodegenFallback expressions: ${fallbacks.map(_.prettyName)}")
  }

  test("PQ encode/scoring stages are map-side and fully codegen'd (no CodegenFallback)") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = embs.selectExpr(
      "vec_id as id", "cast(embedding as array<double>) as v")
    val cb = Array.tabulate(4)(i => (i, Seq.tabulate(8)(d => (i + d).toDouble)))
    // the encode scan: one code column per subspace over the codebook
    // literal — the corpus-wide stage that must not pay interpreted
    // lambda dispatch (the old array_max(transform(...)) formulation was
    // CodegenFallback; graft_pq_assign is the native replacement)
    val encoded = corpus.withColumn("codes",
      org.apache.spark.sql.functions.array(
        (0 until 2).map(m => Ann.pqCodeExpr(m, 8, cb)): _*))
    val p = plan(encoded)
    assert(!p.contains("Join"), s"PQ encode must not join: $p")
    assert(!p.contains("Exchange"), s"PQ encode must not shuffle: $p")
    val exec = encoded.queryExecution.executedPlan
    val fallbacks = exec.collect { case sp =>
      sp.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    }.flatten
    assert(fallbacks.isEmpty,
      s"PQ encode contains CodegenFallback expressions: ${fallbacks.map(_.prettyName)}")
  }

  test("OPQ rotation scan is map-side and fully codegen'd (no CodegenFallback)") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = embs.selectExpr(
      "vec_id as id", "cast(embedding as array<double>) as v")
    val rot = Array.tabulate(64, 64)((i, j) => if (i == j) 1.0 else 0.0)
    val rLit = org.apache.spark.sql.functions.typedLit(rot.map(_.toSeq).toSeq)
      .cast("array<array<double>>")
    // the corpus-wide stage OPQ adds in front of the PQ encode: one
    // matrix-vector product per row — must stay a pure projection with
    // the native graft_matvec kernel, never a higher-order-function
    // chain paying interpreted lambda dispatch
    val rotated = corpus.withColumn("v",
      graft.functions.GraftFunctions.matVec(rLit, org.apache.spark.sql.functions.col("v")))
    val p = plan(rotated)
    assert(!p.contains("Join"), s"rotation must not join: $p")
    assert(!p.contains("Exchange"), s"rotation must not shuffle: $p")
    val exec = rotated.queryExecution.executedPlan
    val fallbacks = exec.collect { case sp =>
      sp.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    }.flatten
    assert(fallbacks.isEmpty,
      s"rotation scan contains CodegenFallback expressions: ${fallbacks.map(_.prettyName)}")
  }

  test("quality classifier stays a scan-level projection") {
    val p = plan(QualityClassifier.score(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), s"classifier scoring must not shuffle: $p")
    assert(!p.contains("Join"), "classifier scoring must not join")
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("struct<doc_id:bigint,text:string>")),
      s"classifier scan reads more than its two columns: $scans")
  }

  test("sliding-window chunking stays a scan-level projection") {
    val p = plan(Chunking.slidingWindows(docs, "doc_id", "text", maxLen = 64, stride = 48))
    assert(!p.contains("Exchange"), s"chunking must not shuffle: $p")
    assert(!p.contains("Join"), "chunking must not join")
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("struct<doc_id:bigint,text:string>")),
      s"chunking scan reads more than its two columns: $scans")
  }

  test("column pruning reaches the parquet scan through dedup and extraction") {
    // the pair generators cache their shingle/signature frames, which
    // hides the file scan inside an InMemoryRelation — so pruning is
    // pinned at each lane's ingestion stage, where the scan is visible
    val ingest = Seq(
      "exact" -> Dedup.exact(docs, "doc_id", "text"),
      "shingles" -> Dedup.shingles(docs, "doc_id", "text", 3),
      "simHash" -> Dedup.simHash(docs, "doc_id", "text"),
      "qualityScore" -> TextAnalysis.qualityScore(docs, "doc_id", "text"))
    for ((name, df) <- ingest) {
      val scans = plan(df).linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(scans.nonEmpty, s"$name shows no file scan")
      scans.foreach { l =>
        assert(l.contains("struct<doc_id:bigint,text:string>"),
          s"$name scan reads more than its two columns: $l")
      }
    }

    val extract = plan(graft.sources.RelationalLoader.extractGroupDataset(
      spark, dir, graft.sources.Testdata.customerDb, "customer"))
    assertNoUnbounded("extractGroupDataset", extract)
    val extractScans = extract.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(extractScans.size == 1,
      s"customer-group extraction should scan exactly one table, got: $extractScans")
    assert(!extractScans.head.contains("c_address") && !extractScans.head.contains("c_phone"),
      s"extraction scan reads columns the group never uses: ${extractScans.head}")
  }

  test("fixed-size sampling is one stratum exchange; tf-idf joins on keys only") {
    val fixed = plan(Sampling.fixedSizePerStratum(docs, "lang", "doc_id", 5))
    assertNoUnbounded("fixedSizePerStratum", fixed)
    assert(!fixed.contains("Join"), "fixedSizePerStratum must not join")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(fixed).length
    assert(exchanges == 1, s"fixedSizePerStratum plans $exchanges exchanges, expected 1:\n$fixed")

    assertNoUnbounded("tfidfKeywords", plan(TextAnalysis.tfidfKeywords(docs, "doc_id", "text", 3)))
  }

  test("LM surprisal scoring joins on keys only") {
    assertNoUnbounded("bigramSurprisal",
      plan(LmScore.bigramSurprisal(spark, docs)))
  }

  test("deterministic sampling stays a scan-level filter") {
    // projected like the registered query — the filter keeps whole rows,
    // so pruning is only observable once a consumer selects its columns
    val p = plan(Sampling.stratified(docs, "lang", "doc_id", Map("en" -> 0.5), 0.1)
      .select("doc_id", "lang"))
    assert(!p.contains("Exchange"), "sampling should not shuffle")
    assert(!p.contains("Join"), "sampling should not join")
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(!_.contains("text")),
      s"sampling scan should prune the text column: $scans")
  }

  test("sequence packing never plans a global single-task window") {
    import org.apache.spark.sql.functions.col
    val packed = Packing.packByTokenBudget(
      docs, "doc_id", TextAnalysis.tokenCountExpr(col("text")), budget = 1000)
    val p = plan(packed)
    assertNoUnbounded("packByTokenBudget", p)
    // the prefix sum must come from the two-phase scan, not WindowExec
    // with "No Partition Defined" funneling the corpus into one task
    assert(!p.contains("Window"), s"packing plans a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the partition-offset join should broadcast the offsets side")
  }

  test("the relational loader spreads root rows before the joins, never the finished trees") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val para = spark.sparkContext.defaultParallelism
    for (sample <- Seq(0, 150)) {
      val forest = graft.sources.RelationalLoader.load(
        spark, dir, graft.sources.Testdata.customerDb, sample)
      // a round-robin over tree rows sorts every partition by the trees'
      // binary form first: the loader may shuffle root rows, not trees
      val treeShuffles = helper.collect(forest.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "tree") => e
      }
      assert(treeShuffles.isEmpty,
        s"sample=$sample: the loader shuffles finished trees:\n${forest.queryExecution.executedPlan}")
      assert(forest.rdd.getNumPartitions >= para,
        s"sample=$sample: forest has ${forest.rdd.getNumPartitions} partitions, want at least $para")
    }
  }

  test("forest rows stay columnar: the tree column is the tree type, stored as a struct") {
    import graft.core.{ArchiTree, ArchiTreeUDT}
    import graft.model.{Forest, ForestStore}
    val forest = Forest.fromTrees(spark, Seq(
      "(ROOT (X (ENT::a 1) (ENT::b 2)))", "(ROOT (X (ENT::a 3) (ENT::b 4)))",
      "(ROOT (X (ENT::a 5) (ENT::b 6)))").map(ArchiTree.fromString))
    val out = graft.rewrite.Rewrite.rewriteWithStats(forest,
      graft.rewrite.Rewrite.Config(tau = 0.7, epochs = 3)).forest
    assert(out.schema("tree").dataType.isInstanceOf[ArchiTreeUDT], out.schema.treeString)

    val store = new ForestStore(spark,
      java.nio.file.Files.createTempDirectory("graft-store").toString + "/store")
    store.commit("s", out)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(store.root, "snapshots/s")
    val file = dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val schema = try reader.getFileMetaData.getSchema finally reader.close()
    val tree = schema.getType(schema.getFieldIndex("tree"))
    assert(!tree.isPrimitive, s"stored tree column is not a struct: $tree")
  }
}
