package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native cosine similarity over two `array<double>` columns.
  *
  * Spark's higher-order array expressions (`aggregate`, `zip_with`) are
  * CodegenFallback — every row pays interpreted lambda dispatch, which
  * made the ANN / embedding-dedup verify kernels the bench hotspot. This
  * is the preferred fix per the engine design rules: a Catalyst
  * `Expression` with `doGenCode` emitting a tight primitive loop that
  * whole-stage codegen inlines.
  *
  * Semantics (identical to the previous fold-based column):
  * - null if either side is null, the lengths differ (zip_with pads
  *   the shorter side with null, which nulls the fold), or any element
  *   is null (null poisons arithmetic in the fold)
  * - NaN when either norm is zero (0/0 in plain double math — callers
  *   NaN-guard threshold filters; Spark orders NaN above every double)
  */
/** Input contract: both children must already be `array<double>`
  * (`AbstractDataType`/`ExpectsInputTypes` are private[sql], so there is
  * no implicit-cast hook here — every caller casts explicitly).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh local names: with non-nullable children nullSafeCodeGen
      // splices this block UNbraced into the shared method scope, so
      // several instances in one projection would collide on fixed
      // names and silently fall the whole projection back to
      // interpreted eval
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
}

object GraftFunctions {

  /** Per-session registration so `call_function` and plain SQL can
    * resolve the expressions by name. A name the session's registry
    * already holds is left as it is, so the operators can call this on
    * every use without replacing the builders each time. Every builder
    * checks its arity: without the check, extra SQL arguments would be
    * silently dropped and a missing one would surface as a raw
    * IndexOutOfBoundsException instead of an analysis error.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def add(name: String)(builder: => Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    def binary(name: String)(make: (Expression, Expression) => Expression): Unit =
      add(name) { (args: Seq[Expression]) =>
        require(args.length == 2, s"$name requires exactly 2 arguments, got ${args.length}")
        make(args(0), args(1))
      }
    add("graft_nfc")(UnicodeNormalize.builder)
    binary("graft_cosine")(CosineSimilarity(_, _))
    binary("graft_l2sq")(L2Squared(_, _))
    binary("graft_pq_assign")(PqAssignCode(_, _))
    binary("graft_cosine_argmax")(ArgmaxCosine(_, _))
    binary("graft_matvec")(MatVec(_, _))
  }

  /** Cosine similarity column over two array<double> columns. The
    * session the plan runs on must have called [[register]].
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)

  /** Squared-L2 distance column over two array<double> columns. The
    * session the plan runs on must have called [[register]].
    */
  def l2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_l2sq", a, b)

  /** PQ code assignment: argmin-distance centroid id of a sub-vector
    * against an `array<struct<cid,cv>>` codebook column (ties to the
    * larger cid). The session the plan runs on must have called
    * [[register]].
    */
  def pqAssign(sub: Column, codebook: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_pq_assign", sub, codebook)

  /** IVF assignment: id of the max-cosine centroid from an
    * `array<struct<cid,cv>>` column (ties to the larger cid, NaN above
    * every number). The session the plan runs on must have called
    * [[register]].
    */
  def cosineArgmax(v: Column, centroids: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_cosine_argmax", v, centroids)

  /** Dense matrix–vector product over an `array<array<double>>` matrix
    * (row-major) and an `array<double>` vector. The session the plan
    * runs on must have called [[register]].
    */
  def matVec(mat: Column, v: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_matvec", mat, v)
}
