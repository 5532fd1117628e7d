package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native IVF assignment: the id of the centroid with the LARGEST
  * cosine similarity to a vector, ties to the larger centroid id.
  *
  * Left child: the vector, `array<double>`. Right child: the centroid
  * set as `array<struct<cid:int, cv:array<double>>>` — in the IVF
  * operator it arrives as ONE `typedLit` literal, so the plan stays
  * O(1) in `nLists`. It is the one corpus-wide assignment of the IVF
  * index and of semantic dedup; the driver trainer (operators/Ann.scala)
  * assigns its sample with [[ArgmaxCosine.nearest]], the same kernel, so
  * a model trained on the driver assigns the corpus exactly as it
  * assigned the sample.
  *
  * It replaced `array_max(transform(cents, c -> struct(cosine(v, c.cv)
  * as s, c.cid)))['cid']`, whose `transform` is CodegenFallback: the
  * whole argmax (centroid loop and dot-product loop) is one generated
  * primitive nest that whole-stage codegen inlines. Semantics:
  * - per-entry similarity is CosineSimilarity's sequential fold
  * - similarity comparison is Spark's double ordering (`x == y` first,
  *   then `Double.compare`): NaN — a zero-norm side — sorts ABOVE every
  *   number and -0.0 equals 0.0, exactly like the struct `array_max`
  * - ties resolve to the larger cid (struct lexicographic order)
  * - an entry whose vector length differs from the input is never
  *   selected; if NO entry qualifies — or the set is empty — the
  *   result is null, and consumers (the trainer, the ADC scans) leave
  *   that row out
  * - null if either child is null or the vector has a null element
  */
case class ArgmaxCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine_argmax"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArgmaxCosine =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArgmaxCosine.evalWith(a, b, ArgmaxCosine.nearest)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh local names: instances can share a generated method scope
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val i2 = ctx.freshName("i2")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val bestS = ctx.freshName("bestS")
      val bestCid = ctx.freshName("bestCid")
      val found = ctx.freshName("found")
      val entry = ctx.freshName("entry")
      val cv = ctx.freshName("cv")
      val cid = ctx.freshName("cid")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  double $bestS = 0.0;
         |  int $bestCid = 0;
         |  boolean $found = false;
         |  int $m = $b.numElements();
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($b.isNullAt($j)) continue;
         |    org.apache.spark.sql.catalyst.InternalRow $entry = $b.getStruct($j, 2);
         |    if ($entry.isNullAt(0) || $entry.isNullAt(1)) continue;
         |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $entry.getArray(1);
         |    if ($cv.numElements() != $n) continue;
         |    int $cid = $entry.getInt(0);
         |    double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |    for (int $i2 = 0; $i2 < $n; $i2++) {
         |      double $x = $a.getDouble($i2);
         |      double $y = $cv.getDouble($i2);
         |      $dot += $x * $y;
         |      $na += $x * $x;
         |      $nb += $y * $y;
         |    }
         |    double $s = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    int $c = $found ? (($s == $bestS) ? 0 : java.lang.Double.compare($s, $bestS)) : 1;
         |    if ($c > 0 || ($c == 0 && $cid > $bestCid)) {
         |      $found = true;
         |      $bestS = $s;
         |      $bestCid = $cid;
         |    }
         |  }
         |  if ($found) { ${ev.value} = $bestCid; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })
}

object ArgmaxCosine {

  /** A centroid set or codebook on the driver: (cid, vector) entries. */
  type Entries = Array[(Int, Array[Double])]

  /** Spark's SQL double ordering: equal first (so -0.0 == 0.0), then
    * java.lang.Double.compare (so NaN is greater than everything).
    */
  @inline private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The driver form of graft_cosine_argmax: the INDEX in `cents` of
    * the entry the expression picks, or -1 where it gives null (a null
    * vector, or no entry of the vector's length). Same fold, same
    * ordering, same tie-break as the generated code.
    */
  def nearest(v: Array[Double], cents: Entries): Int = {
    if (v == null) return -1
    val n = v.length
    var best = -1
    var bestS = 0.0
    var bestCid = 0
    var j = 0
    while (j < cents.length) {
      val cid = cents(j)._1
      val cv = cents(j)._2
      if (cv != null && cv.length == n) {
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        while (i < n) {
          val x = v(i)
          val y = cv(i)
          dot += x * y
          na += x * x
          nb += y * y
          i += 1
        }
        val s = dot / (math.sqrt(na) * math.sqrt(nb))
        val c = if (best < 0) 1 else cmp(s, bestS)
        if (c > 0 || (c == 0 && cid > bestCid)) {
          best = j
          bestS = s
          bestCid = cid
        }
      }
      j += 1
    }
    best
  }

  /** Interpreted evaluation of an (input, entry set) assignment
    * expression through its driver kernel: a vector with a null
    * element gives null, and a null entry, cid or entry vector is an
    * entry that never qualifies.
    */
  private[functions] def evalWith(a: Any, b: Any, kernel: (Array[Double], Entries) => Int): Any = {
    val v = a.asInstanceOf[ArrayData]
    val set = b.asInstanceOf[ArrayData]
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    val entries = Array.tabulate(set.numElements()) { j =>
      val e = if (set.isNullAt(j)) null else set.getStruct(j, 2)
      if (e == null || e.isNullAt(0) || e.isNullAt(1)) (0, null: Array[Double])
      else (e.getInt(0), e.getArray(1).toDoubleArray())
    }
    val j = kernel(v.toDoubleArray(), entries)
    if (j < 0) null else entries(j)._1
  }
}
