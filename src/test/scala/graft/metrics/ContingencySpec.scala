package graft.metrics

import org.scalatest.funsuite.AnyFunSuite

/** The compressed [[Contingency]] against the table it replaced, kept
  * here as the reference: one synthetic label per one-sided item, and
  * the scores summed over every cell of that table.
  */
class ContingencySpec extends AnyFunSuite {

  /** The replaced table: each one-sided item a cell of its own, under a
    * NUL-prefixed label no real cluster name takes.
    */
  private def expanded(c: Contingency): Map[(String, String), Long] =
    c.matched ++
      c.onlyA.iterator.flatMap { case (l, n) => (0L until n).map(i => (l, s"\u0000a:$l:$i") -> 1L) } ++
      c.onlyB.iterator.flatMap { case (l, n) => (0L until n).map(i => (s"\u0000b:$l:$i", l) -> 1L) }

  private def margins(cont: Map[(String, String), Long]) = (
    cont.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum },
    cont.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum })

  private def entropy(counts: Iterable[Long], n: Long): Double =
    if (n == 0) 0.0
    else counts.filter(_ > 0).map { c =>
      val p = c.toDouble / n
      -p * math.log(p)
    }.sum

  private def refMutualInfo(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 0.0
    val (ca, cb) = margins(cont)
    cont.map { case ((x, y), nij) =>
      val pij = nij.toDouble / n
      pij * math.log(n.toDouble * nij / (ca(x).toDouble * cb(y)))
    }.sum
  }

  private def refAmi(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 1.0
    val (ca, cb) = margins(cont)
    if ((ca.size == 1 && cb.size == 1) || (ca.size == n && cb.size == n)) return 1.0
    def hist(m: Map[String, Long]) = m.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    val mi = refMutualInfo(cont)
    val emi = ClusterComparison.expectedMutualInfo(hist(ca), hist(cb), n)
    val denom = (entropy(ca.values, n) + entropy(cb.values, n)) / 2.0 - emi
    if (denom == 0.0) 0.0 else (mi - emi) / denom
  }

  private def refCompleteness(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 1.0
    val (cTrue, cPred) = margins(cont)
    val hPred = entropy(cPred.values, n)
    if (hPred == 0.0) return 1.0
    val hPredGivenTrue = cont.map { case ((t, _), nck) =>
      -(nck.toDouble / n) * math.log(nck.toDouble / cTrue(t))
    }.sum
    1.0 - hPredGivenTrue / hPred
  }

  private def check(c: Contingency, tol: Double, what: String): Unit = {
    val table = expanded(c)
    assert(c.n == table.values.sum, what)
    Seq(
      ("MI", ClusterComparison.mutualInfo(c), refMutualInfo(table)),
      ("AMI", ClusterComparison.adjustedMutualInfo(c), refAmi(table)),
      ("completeness", ClusterComparison.completeness(c), refCompleteness(table)),
    ).foreach { case (name, got, want) =>
      assert(math.abs(got - want) <= tol, s"$what $name: $got vs $want")
    }
  }

  private def counts(rnd: scala.util.Random, labels: Seq[String], max: Int): Map[String, Long] =
    labels.flatMap(l => Option.when(rnd.nextBoolean())(l -> (1L + rnd.nextInt(max)))).toMap

  test("property: compressed scores match the expanded table on small random tables") {
    val rnd = new scala.util.Random(31)
    (0 until 2000).foreach { i =>
      val as = (0 until 1 + rnd.nextInt(5)).map(j => s"a$j")
      val bs = (0 until 1 + rnd.nextInt(5)).map(j => s"b$j")
      val matched = as.flatMap(a => counts(rnd, bs, 12).map { case (b, n) => (a, b) -> n }).toMap
      // one side empty, the other, both, or neither
      val onlyA = if (i % 4 < 2) counts(rnd, as :+ "x", 6) else Map.empty[String, Long]
      val onlyB = if (i % 2 == 0) counts(rnd, bs :+ "y", 6) else Map.empty[String, Long]
      check(Contingency(matched, onlyA, onlyB), 1e-12, s"table $i")
    }
  }

  test("compressed scores match the expanded table with over 40,000 singletons") {
    val rnd = new scala.util.Random(37)
    val (as, bs) = ((0 until 30).map(j => s"a$j"), (0 until 30).map(j => s"b$j"))
    val matched = as.flatMap(a => counts(rnd, bs, 60).map { case (b, n) => (a, b) -> n }).toMap
    val onlyA = as.map(_ -> (500L + rnd.nextInt(1000))).toMap
    val onlyB = bs.map(_ -> (300L + rnd.nextInt(600))).toMap
    val c = Contingency(matched, onlyA, onlyB)
    assert(c.singlesA + c.singlesB >= 40000)
    check(c, 1e-9, s"${c.singlesA + c.singlesB} singletons")
  }

  test("label sequences build a table with every item matched") {
    val c = Contingency.of(Seq("0", "0", "1"), Seq("x", "y", "y"))
    assert(c == Contingency(Map(("0", "x") -> 1L, ("0", "y") -> 1L, ("1", "y") -> 1L), Map.empty, Map.empty))
    assert(c.aMargin == Map("0" -> 2L, "1" -> 1L) && c.bMargin == Map("x" -> 1L, "y" -> 2L) && c.n == 3)
  }
}
