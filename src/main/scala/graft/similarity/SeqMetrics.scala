package graft.similarity

/** Label-collection similarity metrics (reference
  * architxt/similarity.py:44-77). All operate on collections of entity
  * labels: jaccard on the sets, levenshtein/jaro-winkler on the SORTED
  * label sequences (rapidfuzz semantics over lists, not characters).
  *
  * The scoring paths take each set as its labels sorted once
  * ([[LevelFeature.sortedEnts]]) and call the `*Sorted` forms; the `Set`
  * forms sort and delegate.
  */
object SeqMetrics {

  /** A metric over two label sets, each given as its sorted labels. */
  type Metric = (Array[String], Array[String]) => Double

  private def sorted(x: Set[String]): Array[String] = x.toArray.sorted

  /** Jaccard similarity; both empty → 1.0 (similarity.py:44-65). */
  def jaccard(x: Set[String], y: Set[String]): Double = jaccardSorted(sorted(x), sorted(y))

  def jaccardSorted(a: Array[String], b: Array[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val shared = common(a, b)
      shared.toDouble / (a.length + b.length - shared).toDouble
    }

  /** How many labels two sorted label arrays share. */
  private def common(a: Array[String], b: Array[String]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** True when two sorted label arrays share no label. */
  def disjoint(a: Array[String], b: Array[String]): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) return false
      else if (c < 0) i += 1
      else j += 1
    }
    true
  }

  /** Levenshtein.ratio over the sorted label sequences: indel-only
    * normalized similarity = 2·LCS / (|a| + |b|) (rapidfuzz ratio with
    * substitution cost 2; similarity.py:68-70).
    */
  def levenshtein(x: Set[String], y: Set[String]): Double = levenshteinSorted(sorted(x), sorted(y))

  def levenshteinSorted(a: Array[String], b: Array[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val lcsLen = lcs(a, b)
    2.0 * lcsLen / (a.length + b.length)
  }

  private def lcs(a: Array[String], b: Array[String]): Int = {
    val dp = Array.ofDim[Int](b.length + 1)
    var i = 0
    while (i < a.length) {
      var prev = 0
      var j = 0
      while (j < b.length) {
        val tmp = dp(j + 1)
        dp(j + 1) = if (a(i) == b(j)) prev + 1 else math.max(dp(j + 1), dp(j))
        prev = tmp
        j += 1
      }
      i += 1
    }
    dp(b.length)
  }

  /** Jaro-Winkler over the sorted label sequences (similarity.py:73-75):
    * standard Jaro with match window max(|a|,|b|)/2 − 1, Winkler prefix
    * boost (p = 0.1, ℓ ≤ 4) applied when the Jaro similarity exceeds 0.7.
    */
  def jaro(x: Set[String], y: Set[String]): Double = jaroSorted(sorted(x), sorted(y))

  def jaroSorted(a: Array[String], b: Array[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0

    val window = math.max(math.max(a.length, b.length) / 2 - 1, 0)
    val aMatched = Array.fill(a.length)(false)
    val bMatched = Array.fill(b.length)(false)
    var matches = 0
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a(i) == b(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0

    var transpositions = 0
    var k = 0
    i = 0
    while (i < a.length) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a(i) != b(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val jaroSim = (m / a.length + m / b.length + (m - transpositions / 2) / m) / 3.0

    if (jaroSim <= 0.7) jaroSim
    else {
      var prefix = 0
      while (prefix < math.min(4, math.min(a.length, b.length)) && a(prefix) == b(prefix)) prefix += 1
      jaroSim + prefix * 0.1 * (1 - jaroSim)
    }
  }

  val default: Metric = jaroSorted
  def byName(name: String): Metric = name match {
    case "jaccard"     => jaccardSorted
    case "levenshtein" => levenshteinSorted
    case "jaro"        => jaroSorted
    case other         => throw new IllegalArgumentException(s"unknown metric: $other")
  }
}
