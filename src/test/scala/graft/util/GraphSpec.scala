package graft.util

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkSpec {

  test("components: two clumps and an isolated node") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c", "x", "y", "lone").toDF("node")
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val comp = Graph.connectedComponents(nodes, edges)
      .as[(String, String)].collect().toMap
    assert(comp("a") == "a" && comp("b") == "a" && comp("c") == "a")
    assert(comp("x") == "x" && comp("y") == "x")
    assert(comp("lone") == "lone")
  }

  test("a 200-node chain converges (pointer jumping, not O(diameter))") {
    import spark.implicits._
    val n = 200
    val nodes = (0 until n).map(i => f"n$i%04d").toDF("node")
    val edges = (0 until n - 1).map(i => (f"n$i%04d", f"n${i + 1}%04d")).toDF("src", "dst")
    val comp = Graph.connectedComponents(nodes, edges, maxIter = 25)
      .as[(String, String)].collect()
    assert(comp.length == n)
    assert(comp.forall(_._2 == "n0000"))
  }

  test("property: local and distributed component paths agree on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (round <- 1 to 5) {
      val n = 20 + rnd.nextInt(60)
      val ids = (0 until n).map(i => f"v$i%03d")
      val edges = Seq.fill(rnd.nextInt(2 * n))((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      def run(localMaxRows: Long): Map[String, String] =
        Graph.connectedComponents(ids.toDF("node"), edges.toDF("src", "dst"), 60, localMaxRows)
          .as[(String, String)].collect().toMap
      val local = run(Graph.LocalCcMaxRows)
      val dist = run(0L) // force distributed
      assert(local == dist, s"round $round: CC paths diverge (n=$n, e=${edges.size})")
    }
  }

  test("local path ignores edge endpoints outside the node set, like the join drop") {
    import spark.implicits._
    val nodes = Seq("a", "b").toDF("node")
    val edges = Seq(("a", "ghost"), ("ghost", "b")).toDF("src", "dst")
    val comp = Graph.connectedComponents(nodes, edges).as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "b"))
  }
}
