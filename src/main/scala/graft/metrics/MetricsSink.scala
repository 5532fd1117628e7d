package graft.metrics

import graft.core.NodeType
import graft.model.NodeRow
import org.apache.spark.sql.Dataset

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Metric-tracking seam mirroring the reference's MLflow logging surface
  * (architxt/metrics.py:414-473 `log_to_mlflow`): per-step scalar
  * metrics plus named text artifacts. The MLflow client itself is
  * env-absent here (like the model backends), so the contract is the
  * deliverable — a deployment drops an MLflow-backed `MetricsSink` in
  * without touching the pipeline, the same way `LlmClient` seams the
  * LLM protocol.
  */
trait MetricsSink {

  /** Record scalar metrics for one iteration (mlflow.log_metrics with
    * `step=iteration`).
    */
  def logMetrics(step: Int, metrics: Map[String, Double]): Unit

  /** Record a text artifact (mlflow.log_text). Default: ignore. */
  def logText(path: String, text: String): Unit = ()
}

/** Durable local sink: one JSON line per step appended to `file`,
  * artifacts as plain files under `file`'s directory. Keys and layout
  * follow the reference's metric names so a downstream dashboard reads
  * either source.
  */
final class JsonlMetricsSink(file: String) extends MetricsSink {
  private val path = Paths.get(file)

  override def logMetrics(step: Int, metrics: Map[String, Double]): Unit = {
    val body = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => graft.util.Json.quote(k) + ":" + (
        if (v.isNaN || v.isInfinite) graft.util.Json.quote(v.toString) else v.toString)
      }
      .mkString("{", ",", "}")
    val line = s"""{"step":$step,"metrics":$body}""" + "\n"
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.writeString(path, line, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  override def logText(artifact: String, text: String): Unit = {
    val base = Option(path.getParent).getOrElse(Paths.get("."))
    val p = base.resolve(artifact)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text, StandardCharsets.UTF_8)
  }
}

/** The reference's metric bundle over a [[Metrics]] instance —
  * metrics.py:429-462's exact key set (minus `redundancy` unless the
  * caller supplies the nodes view it needs, and minus the SVG debug
  * artifact, which serves the env-absent web UI).
  */
object MetricsLog {

  def log(
      m: Metrics,
      sink: MetricsSink,
      iteration: Int,
      nodes: Option[Dataset[NodeRow]] = None,
      debug: Boolean = false,
  ): Unit = {
    def typed(prefix: String, t: NodeType): Map[String, Double] = Map(
      s"$prefix.count" -> m.numType(t).toDouble,
      s"$prefix.distinct_count" -> m.numDistinctType(t).toDouble,
      s"$prefix.ratio" -> m.ratioType(t))

    val base = Map(
      "nodes.count" -> m.numNodes.toDouble,
      "unlabeled.count" -> m.numUnlabeledNodes.toDouble,
      "unlabeled.ratio" -> m.ratioUnlabeledNodes,
      "clustering.cluster_count" -> m.current.clustering.values.toSet.size.toDouble,
      "clustering.ami" -> m.clusterAmi,
      "clustering.completeness" -> m.clusterCompleteness,
      "entities.coverage" -> m.coverage,
      "schema.overlap" -> m.groupOverlap,
      "schema.balance" -> m.groupBalanceScore,
      "schema.productions" -> m.numProductions.toDouble,
      "schema.non_terminal" -> m.numNonTerminal.toDouble) ++
      typed("entities", NodeType.Ent) ++
      typed("groups", NodeType.Group) ++
      typed("relations", NodeType.Rel) ++
      typed("collections", NodeType.Coll) ++
      nodes.map(n => "redundancy" -> m.redundancy(n)).toMap

    sink.logMetrics(iteration, base)

    if (debug)
      sink.logText(s"debug/$iteration/schema.txt", m.current.schema.asCfg)
  }
}
