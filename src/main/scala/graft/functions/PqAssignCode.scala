package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native product-quantization code assignment: the id of the codebook
  * centroid closest (squared L2) to a sub-vector, ties to the LARGER
  * centroid id.
  *
  * Left child: the sub-vector, `array<double>`. Right child: the
  * codebook as `array<struct<cid:int, cv:array<double>>>` — in the PQ
  * operator it arrives as ONE `typedLit` literal, so the plan stays
  * O(1) in the codebook size. It encodes the corpus; the driver trainer
  * (operators/Ann.scala) encodes its sample with [[PqAssignCode.nearest]],
  * the same kernel.
  *
  * It replaced `array_max(transform(cbLit, c -> struct(-l2sq(sub, cv)
  * as s, c.cid)))['cid']`, whose `transform` is CodegenFallback: the
  * whole argmin — centroid loop and element loop — is one generated
  * primitive nest that whole-stage codegen inlines. Semantics:
  * - per-entry distance is the sequential left-to-right sum of
  *   `(x-y)^2` — bit-deterministic, replayable by a relational oracle
  * - argmin tie-break to the larger cid ≡ the struct argmax on
  *   `(-d, cid)` (d is a sum of squares, so `-d` can't be `-0.0` vs
  *   `0.0` ambiguous across entries: equal distances compare equal)
  * - a codebook entry whose vector length differs from the sub-vector
  *   is never selected; if NO entry matches — or the codebook is empty
  *   — the result is null, and consumers (the trainer, the ADC scans)
  *   leave that row out
  * - null if either child is null or the sub-vector has a null element
  */
case class PqAssignCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_assign"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAssignCode =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArgmaxCosine.evalWith(a, b, PqAssignCode.nearest)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh local names: several instances of this expression share one
      // generated method scope (the PQ encode projection emits one code
      // column per subspace), where fixed names would collide
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val i2 = ctx.freshName("i2")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val bestD = ctx.freshName("bestD")
      val bestCid = ctx.freshName("bestCid")
      val found = ctx.freshName("found")
      val entry = ctx.freshName("entry")
      val cv = ctx.freshName("cv")
      val cid = ctx.freshName("cid")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  double $bestD = Double.POSITIVE_INFINITY;
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
         |    double $d = 0.0;
         |    for (int $i2 = 0; $i2 < $n; $i2++) {
         |      double $diff = $a.getDouble($i2) - $cv.getDouble($i2);
         |      $d += $diff * $diff;
         |    }
         |    if (!$found || $d < $bestD || ($d == $bestD && $cid > $bestCid)) {
         |      $found = true;
         |      $bestD = $d;
         |      $bestCid = $cid;
         |    }
         |  }
         |  if ($found) { ${ev.value} = $bestCid; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })
}

object PqAssignCode {

  /** The driver form of graft_pq_assign: the INDEX in `cb` of the entry
    * the expression picks, or -1 where it gives null (a null sub-vector,
    * or no entry of its length). Same sequential distance sum, same
    * larger-cid tie-break as the generated code.
    */
  def nearest(sub: Array[Double], cb: ArgmaxCosine.Entries): Int = {
    if (sub == null) return -1
    val n = sub.length
    var best = -1
    var bestD = Double.PositiveInfinity
    var bestCid = 0
    var j = 0
    while (j < cb.length) {
      val cid = cb(j)._1
      val cv = cb(j)._2
      if (cv != null && cv.length == n) {
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = sub(i) - cv(i)
          d += diff * diff
          i += 1
        }
        if (best < 0 || d < bestD || (d == bestD && cid > bestCid)) {
          best = j
          bestD = d
          bestCid = cid
        }
      }
      j += 1
    }
    best
  }
}
