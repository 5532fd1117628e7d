package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native L2/PQ-assign kernels must be BIT-identical to the
  * higher-order-function formulations they replaced (operators/Ann.scala
  * used `aggregate(zip_with(…))` folds) — the PQ oracles replay those
  * exact sequential sums, so any reassociation would break hash matches.
  */
class L2SquaredSpec extends AnyFunSuite with SparkSpec {

  private def oldL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), _ + _)

  private def vecDf(n: Int, dim: Int) = {
    import spark.implicits._
    GraftFunctions.register(spark)
    spark.range(n.toLong).map { i =>
      (i, Seq.tabulate(dim)(d => ((i * 31 + d * 7) % 97).toDouble / 7.0),
        Seq.tabulate(dim)(d => ((i * 13 + d * 11) % 89).toDouble / 9.0))
    }.toDF("id", "a", "b")
  }

  test("graft_l2sq is bit-identical to the sequential aggregate/zip_with fold") {
    val df = vecDf(500, 17)
    val rows = df
      .select(GraftFunctions.l2sq(col("a"), col("b")).as("native"), oldL2(col("a"), col("b")).as("fold"))
      .collect()
    assert(rows.length == 500)
    // exact comparison: same summation order means same bits
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_l2sq null semantics match the fold: null side, length mismatch, null element") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(5.0)))),
      (2L, None, Some(Seq(Some(1.0), Some(2.0)))),                 // null side
      (3L, Some(Seq(Some(1.0))), Some(Seq(Some(1.0), Some(2.0)))), // length mismatch
      (4L, Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(2.0))))) // null element
      .toDF("id", "a", "b")
    val got = df.select(col("id"), GraftFunctions.l2sq(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(13.0))
    assert(got(2L).isEmpty && got(3L).isEmpty && got(4L).isEmpty)
  }

  test("graft_pq_assign matches the array_max(transform(...)) argmax it replaced, ties included") {
    GraftFunctions.register(spark)
    // codebook with a deliberate duplicate vector (cids 2 and 5) so the
    // larger-cid tie-break is exercised, plus a mismatched-length entry
    // (cid 9) that must never be selected
    val cb = Seq(
      (0, Seq(0.0, 0.0, 0.0)),
      (2, Seq(5.0, 5.0, 5.0)),
      (5, Seq(5.0, 5.0, 5.0)),
      (7, Seq(9.0, 1.0, 4.0)),
      (9, Seq(1.0, 1.0)))
    val cbLit = typedLit(cb).cast("array<struct<cid:int,cv:array<double>>>")
    val df = vecDf(300, 3)
    val legacy = array_max(transform(cbLit, c =>
      struct((-oldL2(col("a"), c.getField("cv"))).as("s"), c.getField("cid").as("cid"))))
      .getField("cid")
    val rows = df
      .select(GraftFunctions.pqAssign(col("a"), cbLit).as("native"), legacy.as("legacy"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // the duplicate-vector tie must resolve to cid 5, and some row must hit it
    val exact = Seq(5.0, 5.0, 5.0)
    val tie = spark.range(1).select(
      GraftFunctions.pqAssign(typedLit(exact).cast("array<double>"), cbLit)).head.getInt(0)
    assert(tie == 5)
  }

  test("graft_cosine_argmax matches the array_max(transform(...)) argmax, ties and NaN included") {
    GraftFunctions.register(spark)
    val cb = Seq(
      (0, Seq(1.0, 0.0, 0.0)),
      (2, Seq(0.0, 1.0, 0.5)),
      (5, Seq(0.0, 1.0, 0.5)), // duplicate of cid 2 → tie to larger cid
      (7, Seq(2.0, 2.0)))      // wrong dimension → never selected
    val cbLit = typedLit(cb).cast("array<struct<cid:int,cv:array<double>>>")
    val legacy = array_max(transform(cbLit, c =>
      struct(GraftFunctions.cosine(col("a"), c.getField("cv")).as("s"), c.getField("cid").as("cid"))))
      .getField("cid")
    val rows = vecDf(300, 3)
      .select(GraftFunctions.cosineArgmax(col("a"), cbLit).as("native"), legacy.as("legacy"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // zero-norm input: every full-length entry scores NaN, which Spark's
    // double ordering puts above all numbers — both paths resolve the
    // all-NaN tie to the larger cid (5; the wrong-dimension 7 never wins)
    val zero = typedLit(Seq(0.0, 0.0, 0.0)).cast("array<double>")
    val zr = spark.range(1).select(
      GraftFunctions.cosineArgmax(zero, cbLit).as("n"),
      array_max(transform(cbLit, c =>
        struct(GraftFunctions.cosine(zero, c.getField("cv")).as("s"), c.getField("cid").as("cid"))))
        .getField("cid").as("l")).head
    assert(zr.getInt(0) == 5 && zr.getInt(1) == 5)
  }

  test("graft_pq_assign degenerate inputs: empty codebook and null element yield null") {
    GraftFunctions.register(spark)
    val emptyCb = typedLit(Seq.empty[(Int, Seq[Double])])
      .cast("array<struct<cid:int,cv:array<double>>>")
    val r1 = spark.range(1)
      .select(GraftFunctions.pqAssign(typedLit(Seq(1.0, 2.0)).cast("array<double>"), emptyCb))
      .head
    assert(r1.isNullAt(0))
    val cb = typedLit(Seq((0, Seq(1.0)))).cast("array<struct<cid:int,cv:array<double>>>")
    val withNullElem = array(lit(1.0), lit(null).cast("double"))
    val r2 = spark.range(1).select(GraftFunctions.pqAssign(withNullElem, cb)).head
    assert(r2.isNullAt(0))
  }

  test("both kernels stay inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val cb = typedLit(Seq((0, Seq(0.0, 0.0)), (1, Seq(4.0, 4.0))))
      .cast("array<struct<cid:int,cv:array<double>>>")
    val df = spark.range(64)
      .select(array(col("id").cast("double"), lit(1.0)).as("v"))
      .select(
        GraftFunctions.l2sq(col("v"), array(lit(0.0), lit(0.0))).as("d"),
        GraftFunctions.pqAssign(col("v"), cb).as("code"))
    val exec = df.queryExecution.executedPlan
    val codegenStages = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, s"expected a codegen stage:\n$exec")
    val fallbacks = exec.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e
      })
    }.flatten
    assert(fallbacks.isEmpty, s"CodegenFallback expressions present: $fallbacks")
    assert(df.count() == 64)
  }
}
