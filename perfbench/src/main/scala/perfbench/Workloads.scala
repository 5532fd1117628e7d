package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.{FdMetrics, Metrics}
import graft.model.{Forest, Schema}
import graft.operators.{Ann, Bm25, Dedup}
import graft.rewrite.Rewrite
import graft.sources.{RelationalLoader, Testdata}

/** What one pass of a workload leaves behind: per-layer counts, and the
  * facts the output checks and the trace-identity check compare.
  */
final class PassOutput {
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val facts = mutable.LinkedHashMap.empty[String, Any]
}

/** One workload: `pass` is the timed flow; `finish` runs once after the
  * last pass, outside the timed region, and writes what the checks read.
  * Everything a pass persists is released before the next pass starts.
  */
trait Workload {
  def pass(tr: Tracer, out: PassOutput): Unit
  def finish(out: PassOutput): Unit = ()
}

object Workloads {
  def apply(name: String, spark: SparkSession, data: String, outDir: String, qids: Seq[Long]): Workload =
    name match {
      case "simplify-customer" => new SimplifyCustomer(spark, data, outDir)
      case "export-search"     => new ExportSearch(spark, data, outDir, qids)
      case other               => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The CLI `simplify --metrics --out` flow over the typed customer forest.
  * `Metrics.clusterAmi` is left out: at sf0.1 it does not finish within a
  * run (see the README).
  */
final class SimplifyCustomer(spark: SparkSession, data: String, outDir: String) extends Workload {
  private var last: Option[Metrics] = None

  def pass(tr: Tracer, out: PassOutput): Unit = {
    val forest = tr.span("sources.load") {
      RelationalLoader.load(spark, data, Testdata.customerDb).localCheckpoint(true)
    }
    val result = tr.span("rewrite.rewrite") {
      Rewrite.rewriteWithStats(forest, Rewrite.Config(tau = 0.7))
    }
    val schema = tr.span("model.schema") {
      Schema.fromForest(Forest.toNodesDF(result.forest), keepUnlabelled = false)
    }
    val (metrics, coverage, completeness) = tr.span("metrics.compare") {
      val m = new Metrics(forest, 0.7)
      m.update(result.forest)
      (m, m.coverage, m.clusterCompleteness)
    }
    tr.span("sinks.jsonl") { graft.sinks.Jsonl.write(result.forest, s"$outDir/simplified") }

    out.counts("rewrite.epochs") = result.epochsToConverge.getOrElse(-1).toDouble
    out.facts("epochs_to_converge") = result.epochsToConverge.getOrElse(-1)
    out.facts("productions") = schema.productions.map(p => s"${p.lhs} -> ${p.rhs.mkString(" ")}").sorted
    out.facts("coverage") = coverage
    out.facts("cluster_completeness") = completeness
    last = Some(metrics)
  }

  /** The entity-key counts behind coverage: origin keys, keys after the
    * rewrite, and the keys both share. Counted once, untimed.
    */
  override def finish(out: PassOutput): Unit = last.foreach { m =>
    val origin = m.origin.entityOids.toDF("k")
    val current = m.current.entityOids.toDF("k")
    out.facts("origin_keys") = origin.count()
    out.facts("current_keys") = current.count()
    out.facts("shared_keys") = origin.join(current, "k").count()
  }
}

/** Structuring without rewriting, then the corpus operators: the orders
  * export followed by the corpus search, in one JVM.
  */
final class ExportSearch(spark: SparkSession, data: String, outDir: String, qids: Seq[Long]) extends Workload {
  private val export = new ExportOrders(spark, data, outDir)
  private val search = new CorpusSearch(spark, data, qids)

  def pass(tr: Tracer, out: PassOutput): Unit = {
    export.pass(tr, out)
    search.pass(tr, out)
  }

  override def finish(out: PassOutput): Unit = export.finish(out)
}

/** Structuring without rewriting over the orders database: node load,
  * schema, every group's dataset, FD confidences, SQL and Cypher export.
  */
final class ExportOrders(spark: SparkSession, data: String, outDir: String) extends Workload {
  private var extracted: Map[String, DataFrame] = Map.empty

  def pass(tr: Tracer, out: PassOutput): Unit = {
    val nodes = tr.span("sources.load_nodes") {
      RelationalLoader.loadNodes(spark, data, Testdata.ordersDb).localCheckpoint(true)
    }
    val schema = tr.span("model.schema") { Schema.fromForest(nodes, keepUnlabelled = false) }
    extracted = tr.span("model.extract") {
      schema.groups.toSeq.map(_.name)
        .map(g => g -> Schema.extractDataset(nodes, g).localCheckpoint(true)).toMap
    }
    val rows = extracted.map { case (g, df) => g -> df.count() }
    val confidences = tr.span("metrics.fd") {
      FdMetrics.confidenceTable(extracted("orders")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    }
    tr.span("sinks.sql") {
      graft.sinks.SqlExporter.writeParquet(nodes, schema, s"$outDir/sql").release()
    }
    tr.span("cypher.export") {
      val forest = RelationalLoader.load(spark, data, Testdata.ordersDb)
      graft.cypher.CypherExporter.export(forest, schema)
        .statements.write.mode("overwrite").text(s"$outDir/cypher")
    }

    out.counts("model.extract.rows") = rows.values.sum.toDouble
    out.facts("extract_rows") = rows.toSeq.sorted
    out.facts("fd_confidence") = confidences
    out.facts("collapsible_groups") = schema.findCollapsibleGroups.toSeq.sorted
    out.facts("relations") = schema.relations.toSeq.map(r => s"${r.name}:${r.orientation}").sorted
  }

  /** Every extracted dataset as parquet, for the DuckDB replay. */
  override def finish(out: PassOutput): Unit = extracted.foreach { case (g, df) =>
    df.write.mode("overwrite").parquet(s"$outDir/extract/$g")
  }
}

/** The in-scope corpus operators: regex NER and coordination parsing
  * with the node-label tally of the parsed forest,
  * MinHash-LSH dedup with pair resolution, BM25 ranking, and exact, IVF
  * and PQ-with-rerank nearest neighbours for seeded query ids.
  */
final class CorpusSearch(spark: SparkSession, data: String, qids: Seq[Long]) extends Workload {
  import spark.implicits._

  def pass(tr: Tracer, out: PassOutput): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")

    val labels = tr.span("nlp.parse") {
      val extractor = new graft.nlp.RegexEntityExtractor(Seq("CUST" -> "customer", "SCAN" -> "scan"))
      val sentences = docs.select(explode(split(col("text"), "\n")).as("line")).as[String]
        .map(l => extractor.extract(l))
      Forest.toNodesDF(new graft.nlp.CoordinationParser("the").parseBatch(sentences))
        .select(
          when(col("nodeType") === "ENT", col("name")).when(col("name") === "ROOT", lit("ROOT"))
            .otherwise(lit("UNDEF")).as("label"),
          (col("parentId") === -1).cast("long").as("root"))
        .groupBy("label").agg(count(lit(1)), sum("root")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    }
    val trees = labels.map(_._3).sum
    val (pairs, survivors) = tr.span("operators.dedup") {
      val p = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, threshold = 0.8).cache()
      val n = p.count()
      val s = Dedup.resolvePairs(docs, "doc_id", p).count()
      p.unpersist()
      (n, s)
    }
    val bm25 = tr.span("operators.bm25") {
      Bm25.rank(docs, qids, topN = 10).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Long]("bm25_micro"), r.getAs[Int]("rank")))
        .sorted.toSeq
    }
    val (brute, ivf, pq) = tr.span("operators.ann") {
      def pairsOf(df: DataFrame) =
        df.select(col("query_id").cast("long"), col("neighbor_id").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      (pairsOf(Ann.bruteForceTopK(emb, "vec_id", "embedding", qids, k = 5)),
        pairsOf(Ann.ivfTopK(emb, "vec_id", "embedding", qids, k = 5)),
        pairsOf(Ann.pqTopK(emb, "vec_id", "embedding", qids, k = 5, subspaces = 8, codebook = 16, rerank = 200)))
    }
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    val pqRecall = (pq & brute).size.toDouble / brute.size

    out.counts("nlp.trees") = trees.toDouble
    out.counts("operators.dedup.pairs") = pairs.toDouble
    out.counts("operators.ann.recall") = (ivfRecall + pqRecall) / 2
    out.facts("nlp_labels") = labels.map { case (l, n, _) => (l, n) }
    out.facts("dedup_survivors") = survivors
    out.facts("bm25_top10") = bm25.map(_.productIterator.mkString(","))
    out.facts("ann_brute") = brute.toSeq.sorted.map(_.productIterator.mkString(","))
    out.facts("ann_ivf_recall") = ivfRecall
    out.facts("ann_pq_rerank_recall") = pqRecall
  }
}
