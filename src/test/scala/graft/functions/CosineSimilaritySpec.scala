package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CosineSimilaritySpec extends AnyFunSuite with SparkSpec {

  private def sim(a: Seq[Double], b: Seq[Double]): java.lang.Double = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(GraftFunctions.cosine(col("a"), col("b"))).head
    if (r.isNullAt(0)) null else r.getDouble(0)
  }

  test("known values") {
    assert(math.abs(sim(Seq(1.0, 0.0), Seq(1.0, 0.0)) - 1.0) < 1e-12)
    assert(math.abs(sim(Seq(1.0, 0.0), Seq(0.0, 1.0))) < 1e-12)
    assert(math.abs(sim(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)) -
      (32.0 / (math.sqrt(14.0) * math.sqrt(77.0)))) < 1e-12)
  }

  test("zero-norm side yields NaN; length mismatch yields null") {
    assert(sim(Seq(0.0, 0.0), Seq(1.0, 0.0)).isNaN)
    assert(sim(Seq(1.0, 0.0), Seq(1.0)) == null)
  }

  test("a null element poisons the row to null (documented fold semantics)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val r = df.select(GraftFunctions.cosine(col("a"), col("b"))).head
    assert(r.isNullAt(0))
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 2.0))).toDF("a", "b")
    val viaCodegen = df.select(GraftFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
    val interpreted = CosineSimilarity(one, one) // instance for nullSafeEval
    val a = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val b = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(-1.0, 0.5, 2.0))
    val m = classOf[CosineSimilarity].getDeclaredMethod(
      "nullSafeEval", classOf[Object], classOf[Object])
    m.setAccessible(true)
    val viaEval = m.invoke(interpreted, a, b).asInstanceOf[Double]
    assert(viaCodegen == viaEval)
  }

  test("register makes the functions SQL-callable and arity-checked") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val arg = "array(1.0d, 0.0d)"
    for {
      name <- Seq("graft_cosine", "graft_l2sq", "graft_pq_assign", "graft_cosine_argmax", "graft_matvec")
      n <- Seq(1, 3)
    } {
      val err = intercept[Exception] {
        spark.sql(s"SELECT $name(${Seq.fill(n)(arg).mkString(", ")})").collect()
      }
      assert(err.getMessage.contains(s"$name requires exactly 2 arguments"), s"$name/$n: ${err.getMessage}")
    }
  }

  test("a second register keeps the session's registered builders") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    val names = Seq("graft_nfc", "graft_cosine", "graft_l2sq", "graft_pq_assign",
      "graft_cosine_argmax", "graft_matvec")
    val before = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(before.forall(_.isDefined))
    GraftFunctions.register(spark)
    names.zip(before).foreach { case (n, b) =>
      assert(registry.lookupFunctionBuilder(FunctionIdentifier(n)).get eq b.get, n)
    }
  }
}
