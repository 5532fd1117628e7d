package graft.metrics

import org.apache.commons.math3.special.Gamma.logGamma

/** Clustering-agreement scores between two label assignments over the
  * same items — driver-side contingency math replacing the reference's
  * sklearn calls (architxt/metrics.py:240-277): adjusted mutual
  * information (average_method='arithmetic') and completeness.
  *
  * Inputs are parallel label sequences, as produced by
  * Metrics._cluster_labels (metrics.py:216-224).
  */
object ClusterComparison {

  private def entropy(counts: Iterable[Long], n: Long): Double =
    if (n == 0) 0.0
    else counts.filter(_ > 0).map { c =>
      val p = c.toDouble / n
      -p * math.log(p)
    }.sum

  private def contingency(a: Seq[String], b: Seq[String]): Map[(String, String), Long] =
    a.lazyZip(b).groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  def mutualInfo(a: Seq[String], b: Seq[String]): Double =
    mutualInfoFromContingency(contingency(a, b))

  def mutualInfoFromContingency(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 0.0
    val ca = cont.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val cb = cont.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    cont.map { case ((x, y), nij) =>
      val pij = nij.toDouble / n
      pij * math.log(n.toDouble * nij / (ca(x).toDouble * cb(y)))
    }.sum
  }

  /** Expected MI under the permutation model (hypergeometric), the exact
    * sum sklearn computes in `expected_mutual_information`. A term
    * depends on its margins only through their values, so the sum runs
    * once per distinct (a, b) margin-value pair, weighted by how many
    * clusters have each value: thousands of singleton clusters on one
    * side cost one pass, not one per cluster.
    */
  def expectedMutualInfo(aCounts: Seq[Long], bCounts: Seq[Long], n: Long): Double = {
    def histogram(counts: Seq[Long]): Seq[(Long, Long)] =
      counts.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.sorted
    val bHist = histogram(bCounts)
    var emi = 0.0
    val logN = math.log(n.toDouble)
    for ((ai, na) <- histogram(aCounts); (bj, nb) <- bHist) {
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
  def adjustedMutualInfo(a: Seq[String], b: Seq[String]): Double = {
    require(a.size == b.size, "label sequences must align")
    adjustedMutualInfoFromContingency(contingency(a, b))
  }

  def adjustedMutualInfoFromContingency(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 1.0
    val ca = cont.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val cb = cont.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    // Degenerate cases: single cluster on both sides, or all-singletons on
    // both sides → perfect agreement by convention.
    if ((ca.size == 1 && cb.size == 1) || (ca.size == n && cb.size == n)) return 1.0

    val mi = mutualInfoFromContingency(cont)
    val emi = expectedMutualInfo(ca.values.toSeq, cb.values.toSeq, n)
    val ha = entropy(ca.values, n)
    val hb = entropy(cb.values, n)
    val normalizer = (ha + hb) / 2.0
    val denom = normalizer - emi
    if (denom == 0.0) 0.0
    else (mi - emi) / denom
  }

  /** Completeness: 1 − H(pred|true)/H(pred); 1.0 when H(pred) = 0
    * (sklearn completeness_score; reference metrics.py:260-277).
    */
  def completeness(labelsTrue: Seq[String], labelsPred: Seq[String]): Double = {
    require(labelsTrue.size == labelsPred.size, "label sequences must align")
    completenessFromContingency(contingency(labelsTrue, labelsPred))
  }

  def completenessFromContingency(cont: Map[(String, String), Long]): Double = {
    val n = cont.values.sum
    if (n == 0) return 1.0
    val cPred = cont.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val hPred = entropy(cPred.values, n)
    if (hPred == 0.0) return 1.0
    val cTrue = cont.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    // H(pred | true) = Σ_c Σ_k -(n_ck/n) log(n_ck / n_c)
    val hPredGivenTrue = cont.map { case ((t, _), nck) =>
      -(nck.toDouble / n) * math.log(nck.toDouble / cTrue(t))
    }.sum
    1.0 - hPredGivenTrue / hPred
  }
}
