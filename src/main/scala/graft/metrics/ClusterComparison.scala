package graft.metrics

import org.apache.commons.math3.special.Gamma.logGamma

/** The contingency table of two clusterings A and B of the same `n`
  * items, compressed: `matched` counts the items labelled on both sides
  * by (A label, B label); `onlyA` counts per A label the items missing
  * from B, each a singleton cluster on side B; `onlyB` likewise. The
  * singletons are never materialized: each has a closed-form term.
  */
final case class Contingency(
    matched: Map[(String, String), Long],
    onlyA: Map[String, Long],
    onlyB: Map[String, Long]) {
  private def margin(side: ((String, String)) => String, only: Map[String, Long]) =
    only.foldLeft(matched.groupBy(c => side(c._1)).map { case (k, v) => k -> v.values.sum }) {
      case (m, (k, c)) => m.updatedWith(k)(s => Some(s.getOrElse(0L) + c))
    }
  /** Per-label cluster sizes, and the singleton clusters on each side. */
  val aMargin: Map[String, Long] = margin(_._1, onlyA)
  val bMargin: Map[String, Long] = margin(_._2, onlyB)
  val singlesA: Long = onlyB.values.sum
  val singlesB: Long = onlyA.values.sum
  val n: Long = matched.values.sum + singlesA + singlesB
}

object Contingency {
  /** The table of two parallel label sequences: every item is matched. */
  def of(a: Seq[String], b: Seq[String]): Contingency = {
    require(a.size == b.size, "label sequences must align")
    Contingency(a.lazyZip(b).groupBy(identity).map { case (k, v) => k -> v.size.toLong },
      Map.empty, Map.empty)
  }
}

/** Clustering-agreement scores between two label assignments over the
  * same items — driver-side contingency math replacing the reference's
  * sklearn calls (architxt/metrics.py:240-277): adjusted mutual
  * information (average_method='arithmetic') and completeness, each over
  * a [[Contingency]] or over parallel label sequences.
  */
object ClusterComparison {

  /** Entropy of clusters of sizes `counts` and `singles` of size 1. */
  private def entropy(counts: Iterable[Long], singles: Long, n: Long): Double =
    if (n == 0) 0.0
    else counts.filter(_ > 0).map { c =>
      val p = c.toDouble / n
      -p * math.log(p)
    }.sum + singles.toDouble / n * math.log(n.toDouble)

  private def histogram(margin: Map[String, Long], singles: Long): Map[Long, Long] = {
    val h = margin.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    if (singles == 0) h else h.updatedWith(1L)(k => Some(k.getOrElse(0L) + singles))
  }

  def mutualInfo(a: Seq[String], b: Seq[String]): Double = mutualInfo(Contingency.of(a, b))

  /** MI; a one-sided item of a label of size s is a cell of 1 with a
    * margin of 1 on the other side: it adds (1/n)·log(n / s).
    */
  def mutualInfo(cont: Contingency): Double = {
    val n = cont.n
    if (n == 0) return 0.0
    def singles(only: Map[String, Long], margin: Map[String, Long]): Double =
      only.iterator.map { case (x, k) => k.toDouble / n * math.log(n.toDouble / margin(x)) }.sum
    cont.matched.iterator.map { case ((x, y), nij) =>
      val pij = nij.toDouble / n
      pij * math.log(n.toDouble * nij / (cont.aMargin(x).toDouble * cont.bMargin(y)))
    }.sum + singles(cont.onlyA, cont.aMargin) + singles(cont.onlyB, cont.bMargin)
  }

  /** Expected MI under the permutation model (hypergeometric), the exact
    * sum sklearn computes in `expected_mutual_information`. A term
    * depends on its margins only through their values, so the sum runs
    * once per distinct (a, b) margin-value pair, weighted by how many
    * clusters have each value (`aHist`, `bHist`: cluster size → number
    * of clusters): thousands of singleton clusters on one side cost one
    * pass, not one per cluster.
    */
  def expectedMutualInfo(aHist: Map[Long, Long], bHist: Map[Long, Long], n: Long): Double = {
    val bSorted = bHist.toSeq.sorted
    var emi = 0.0
    val logN = math.log(n.toDouble)
    for ((ai, na) <- aHist.toSeq.sorted; (bj, nb) <- bSorted) {
      var pair = 0.0
      val lo = math.max(1L, ai + bj - n)
      val hi = math.min(ai, bj)
      var nij = lo
      while (nij <= hi) {
        val term1 = nij.toDouble / n
        val term2 = math.log(nij.toDouble) + logN - math.log(ai.toDouble) - math.log(bj.toDouble)
        val logTerm3 =
          logGamma(ai + 1.0) + logGamma(bj + 1.0) + logGamma(n - ai + 1.0) + logGamma(n - bj + 1.0) -
            logGamma(n + 1.0) - logGamma(nij + 1.0) - logGamma(ai - nij + 1.0) -
            logGamma(bj - nij + 1.0) - logGamma(n - ai - bj + nij + 1.0)
        pair += term1 * term2 * math.exp(logTerm3)
        nij += 1
      }
      emi += na.toDouble * nb * pair
    }
    emi
  }

  /** Adjusted mutual information, arithmetic averaging
    * (sklearn semantics; reference metrics.py:240-258).
    */
  def adjustedMutualInfo(a: Seq[String], b: Seq[String]): Double =
    adjustedMutualInfo(Contingency.of(a, b))

  def adjustedMutualInfo(cont: Contingency): Double = {
    val n = cont.n
    if (n == 0) return 1.0
    val (ka, kb) = (cont.aMargin.size + cont.singlesA, cont.bMargin.size + cont.singlesB)
    // Degenerate cases: single cluster on both sides, or all-singletons on
    // both sides → perfect agreement by convention.
    if ((ka == 1 && kb == 1) || (ka == n && kb == n)) return 1.0

    val mi = mutualInfo(cont)
    val emi = expectedMutualInfo(
      histogram(cont.aMargin, cont.singlesA), histogram(cont.bMargin, cont.singlesB), n)
    val ha = entropy(cont.aMargin.values, cont.singlesA, n)
    val hb = entropy(cont.bMargin.values, cont.singlesB, n)
    val normalizer = (ha + hb) / 2.0
    val denom = normalizer - emi
    if (denom == 0.0) 0.0
    else (mi - emi) / denom
  }

  /** Completeness: 1 − H(pred|true)/H(pred); 1.0 when H(pred) = 0
    * (sklearn completeness_score; reference metrics.py:260-277). Side A
    * is true, side B predicted.
    */
  def completeness(labelsTrue: Seq[String], labelsPred: Seq[String]): Double =
    completeness(Contingency.of(labelsTrue, labelsPred))

  def completeness(cont: Contingency): Double = {
    val n = cont.n
    if (n == 0) return 1.0
    val hPred = entropy(cont.bMargin.values, cont.singlesB, n)
    if (hPred == 0.0) return 1.0
    // H(pred | true) = Σ_c Σ_k -(n_ck/n) log(n_ck / n_c); an onlyA item
    // of label c adds (1/n)·log n_c, an onlyB item (its own true
    // cluster) adds 0
    val hPredGivenTrue = cont.matched.iterator.map { case ((t, _), nck) =>
      -(nck.toDouble / n) * math.log(nck.toDouble / cont.aMargin(t))
    }.sum + cont.onlyA.iterator.map { case (t, k) =>
      k.toDouble / n * math.log(cont.aMargin(t).toDouble)
    }.sum
    1.0 - hPredGivenTrue / hPred
  }
}
