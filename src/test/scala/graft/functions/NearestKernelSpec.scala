package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** One entry of a centroid set or codebook; a null entry or a null `cv`
  * is an entry no vector qualifies for.
  */
case class KernelEntry(cid: Int, cv: Seq[Double])

case class KernelCase(id: Long, v: Seq[Option[Double]], set: Seq[KernelEntry])

/** The driver kernels the Lloyd trainer assigns its sample with
  * (ArgmaxCosine.nearest, PqAssignCode.nearest) are the reference the
  * corpus-wide expressions must equal: on random inputs — exact ties,
  * zero-norm vectors (NaN cosine), ragged and null entries, null
  * vectors and elements, empty sets — graft_cosine_argmax and
  * graft_pq_assign give the kernel's cid, codegen'd and interpreted.
  */
class NearestKernelSpec extends AnyFunSuite with SparkSpec {

  // small integers: scaled copies tie exactly in cosine, duplicates tie
  // in both metrics, and all-zero vectors come up often
  private val valGen = Gen.oneOf(-1.0, 0.0, 0.0, 1.0, 2.0)

  private def vecGen(n: Int): Gen[Seq[Double]] = Gen.listOfN(n, valGen)

  private val caseGen: Gen[(Seq[Option[Double]], Seq[KernelEntry])] = for {
    n <- Gen.choose(1, 4)
    v <- Gen.frequency(
      8 -> vecGen(n).map(_.map(Option(_))),
      1 -> vecGen(n).map(_.map(Option(_)).updated(0, None)))
    size <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 6))
    set <- Gen.listOfN(size, Gen.frequency(
      6 -> Gen.zip(Gen.choose(0, 9), vecGen(n)).map { case (c, cv) => KernelEntry(c, cv) },
      1 -> Gen.zip(Gen.choose(0, 9), Gen.oneOf(n - 1, n + 1).flatMap(vecGen))
        .map { case (c, cv) => KernelEntry(c, cv) },
      1 -> Gen.choose(0, 9).map(c => KernelEntry(c, null)),
      1 -> Gen.const(null: KernelEntry)))
    // repeat an entry so an exact tie (same vector, other cid) is common
    dup <- Gen.oneOf(true, false)
  } yield {
    val withDup = if (dup && set.nonEmpty && set.head != null)
      set :+ set.head.copy(cid = (set.head.cid + 3) % 10) else set
    (v, withDup)
  }

  private lazy val cases: Seq[KernelCase] = {
    val drawn = Gen.listOfN(400, caseGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(1616L))
    val extra = Seq[(Seq[Option[Double]], Seq[KernelEntry])](
      (null, Seq(KernelEntry(1, Seq(1.0)))),
      (Seq(Some(0.0), Some(0.0)), Seq(KernelEntry(4, Seq(1.0, 0.0)), KernelEntry(2, Seq(0.0, 1.0)))),
      (Seq(Some(1.0)), Seq.empty))
    (drawn ++ extra).zipWithIndex.map { case ((v, set), i) => KernelCase(i.toLong, v, set) }
  }

  private def reference(kernel: (Array[Double], ArgmaxCosine.Entries) => Int): Map[Long, Option[Int]] =
    cases.map { c =>
      val v = if (c.v == null || c.v.contains(None)) null else c.v.map(_.get).toArray
      val entries: ArgmaxCosine.Entries = c.set.map { e =>
        if (e == null || e.cv == null) (0, null: Array[Double]) else (e.cid, e.cv.toArray)
      }.toArray
      val j = kernel(v, entries)
      c.id -> (if (j < 0) None else Some(entries(j)._1))
    }.toMap

  private def viaSpark(expr: (Column, Column) => Column): Map[Long, Option[Int]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    // an RDD-backed frame: a projection over a local relation would be
    // folded by the optimizer with interpreted evaluation
    val df: DataFrame = spark.sparkContext.parallelize(cases, 3).toDF()
    df.select(col("id"), expr(col("v"), col("set"))).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
  }

  private def interpreted[A](body: => A): A =
    withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  private def assertParity(
      name: String,
      expr: (Column, Column) => Column,
      kernel: (Array[Double], ArgmaxCosine.Entries) => Int): Unit = {
    val want = reference(kernel)
    assert(want.values.count(_.isEmpty) > 10 && want.values.count(_.nonEmpty) > 100,
      "the generator must exercise both outcomes")
    for ((mode, got) <- Seq("codegen" -> viaSpark(expr), "interpreted" -> interpreted(viaSpark(expr)))) {
      val diff = cases.filter(c => got(c.id) != want(c.id))
      assert(diff.isEmpty, s"$name ($mode) differs from the kernel on ${diff.size} cases, e.g. " +
        diff.take(3).map(c => s"$c: got ${got(c.id)}, kernel ${want(c.id)}").mkString("; "))
    }
  }

  test("graft_cosine_argmax equals ArgmaxCosine.nearest, codegen'd and interpreted") {
    assertParity("graft_cosine_argmax", GraftFunctions.cosineArgmax, ArgmaxCosine.nearest)
  }

  test("graft_pq_assign equals PqAssignCode.nearest, codegen'd and interpreted") {
    assertParity("graft_pq_assign", GraftFunctions.pqAssign, PqAssignCode.nearest)
  }

  test("the codegen'd run really is whole-stage code generation") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = spark.sparkContext.parallelize(cases.take(5), 1).toDF()
      .select(GraftFunctions.cosineArgmax(col("v"), col("set")), GraftFunctions.pqAssign(col("v"), col("set")))
    val exec = df.queryExecution.executedPlan
    assert(exec.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }.nonEmpty,
      s"expected a codegen stage:\n$exec")
  }
}
