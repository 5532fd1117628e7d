package graft

import graft.metrics.Metrics
import graft.model.{Forest, Schema, TreeRow}
import graft.rewrite.Rewrite
import graft.sinks.Jsonl
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** The size thresholds together in one flow: the `simplify --metrics
  * --out` calls over a checkpointed small forest, as the CLI and the
  * benchmark make them.
  */
class FlowBudgetSpec extends AnyFunSuite with SparkSpec {

  /** The flow under driver-path bounds on trees and node rows, its
    * JSONL written to `dir`: the schema, coverage, completeness and the
    * two snapshots' label counts.
    */
  private def flow(forest: Dataset[TreeRow], trees: Long, nodes: Long, dir: String) = {
    val out = Rewrite.rewriteWithStats(forest, Rewrite.Config(tau = 0.7), trees).forest
    val schema = Schema.fromForest(Forest.toNodesDF(out, nodes),
      keepUnlabelled = false, mergeLhs = true, nodes)
    val m = new Metrics(forest, 0.7, 2.0, "jaro", None, trees)
    m.update(out)
    val scores = (m.coverage, m.clusterCompleteness, m.origin.labelCounts, m.current.labelCounts)
    Jsonl.write(out, dir)
    (schema, scores)
  }

  private def lines(dir: String): Seq[String] = spark.read.textFile(dir).collect().sorted.toSeq

  test("the simplify flow over a small checkpointed forest runs at most five Spark jobs") {
    val forest = TestForests.customers(spark)
    val dir = java.nio.file.Files.createTempDirectory("flow-budget").toString
    val ((schema, scores), jobs) = jobsDuring(
      flow(forest, Rewrite.LocalMaxTrees, Schema.LocalMaxNodes, s"$dir/driver"))
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    // the rewrite and the origin snapshot each count and collect the
    // caller's checkpoint; the JSONL write is the fifth
    assert(jobs.size <= 5, s"${jobs.size} jobs: ${jobs.mkString(", ")}")

    val (forcedSchema, forcedScores) = flow(forest, 0L, 0L, s"$dir/forced")
    assert(forcedSchema == schema, "schema with every bound forced to 0")
    assert(math.abs(forcedScores._1 - scores._1) <= 1e-12, "coverage")
    assert(math.abs(forcedScores._2 - scores._2) <= 1e-12, "completeness")
    assert((forcedScores._3, forcedScores._4) == (scores._3, scores._4), "label counts")
    assert(lines(s"$dir/driver").size == 24)
    assert(lines(s"$dir/forced") == lines(s"$dir/driver"), "JSONL lines")
  }
}
