package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph utilities shared by the Cypher loader and
  * near-duplicate resolution.
  */
object Graph {

  /** Above this many nodes OR edges the component computation runs
    * distributed; at or below it, one collect + driver union-find
    * replaces the ~10 jobs plus iterative pointer-jumping rounds that
    * are pure scheduler latency on a provably-small graph.
    * Near-dup resolution and test-scale property graphs have graphs
    * bounded by PAIRED items (a small fraction of any corpus), while
    * corpus-scale loads blow past the threshold and keep the unbounded
    * path. The bound keeps driver memory at a few MB.
    */
  val LocalCcMaxRows = 100000L

  /** Undirected connected components. `nodes` has one column `node`;
    * `edges` has `src`/`dst` (one row per undirected edge, either
    * orientation). Returns `(node, comp)` where `comp` is the minimum
    * node id of the component.
    *
    * Min-label propagation with POINTER JUMPING: each round a node
    * takes the least of its own label, its neighbors' labels, and its
    * label's label (path doubling). Plain propagation needs O(diameter)
    * rounds — a chain-shaped graph would exhaust any fixed cap and
    * silently split components; the hop makes convergence O(log
    * diameter), so the cap is a true backstop, and hitting it throws
    * rather than returning split components.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 60): DataFrame =
    connectedComponents(nodes, edges, maxIter, LocalCcMaxRows)

  /** [[connectedComponents]] under an explicit local-path bound; 0
    * forces the distributed path.
    */
  private[util] def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIter: Int, localMaxRows: Long): DataFrame = {
    if (localMaxRows <= 0) return distributedComponents(nodes, edges, maxIter)
    // both frames may carry expensive lineage (near-dup pair joins), so
    // cache before the size probe: the probe materializes the cache and
    // whichever path runs reads it instead of recomputing
    val n = nodes.select(col("node")).persist()
    val e = edges.select(col("src"), col("dst")).persist()
    if (n.count() <= localMaxRows && e.count() <= localMaxRows) localComponents(n, e)
    else {
      // by return time the labels are localCheckpointed and bidir has
      // its own cache, so the probe caches can be released
      val out = distributedComponents(n, e, maxIter)
      n.unpersist()
      e.unpersist()
      out
    }
  }

  /** Driver-side union-find for a provably-small graph. Node ordering
    * comes from Spark's own sort (collected ascending), so the minimum
    * INDEX of a component is the same node the distributed min-label
    * propagation elects — identical output, one job.
    */
  private def localComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val nodeRows = nodes.orderBy(col("node")).collect().map(_.get(0))
    val idx: Map[Any, Int] = nodeRows.zipWithIndex.toMap
    val parent = Array.tabulate(nodeRows.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.collect().foreach { row =>
      (idx.get(row.get(0)), idx.get(row.get(1))) match {
        case (Some(a), Some(b)) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        case _ => () // endpoint outside `nodes`: same as the join drop distributed
      }
    }
    nodes.unpersist()
    edges.unpersist()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      nodes.schema.fields.head,
      nodes.schema.fields.head.copy(name = "comp")))
    val out = nodeRows.indices.map { i =>
      org.apache.spark.sql.Row(nodeRows(i), nodeRows(find(i)))
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(out).asJava), schema)
  }

  private def distributedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var labels = nodes.select(col("node")).withColumn("comp", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = bidir
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("comp").as("nComp"))
      // comp values are always node ids, so `comp`'s own label exists
      val hop = labels
        .join(labels.select(col("node").as("comp"), col("comp").as("hComp")), Seq("comp"))
        .select(col("node"), col("hComp"))
      val updated = labels
        .join(neighborMin, Seq("node"), "left")
        .join(hop, Seq("node"), "left")
        .select(col("node"), col("comp").as("oldComp"),
          least(col("comp"), col("nComp"), col("hComp")).as("comp"))
        .localCheckpoint(true)
      changed = updated.filter(col("comp") =!= col("oldComp")).count()
      labels = updated.select("node", "comp")
      iter += 1
    }
    bidir.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds")
    labels
  }
}
