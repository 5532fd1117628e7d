package graft.metrics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one-query FD confidences against the per-consequent query they
  * replaced, kept here as the reference, plus their Spark job budgets.
  */
class FdMetricsSpec extends AnyFunSuite with SparkSpec {

  /** The replaced confidence: one count and one grouped aggregation
    * chain per consequent.
    */
  private def reference(df: DataFrame, column: String): Double = {
    val cols = df.columns.toSeq
    if (cols.size == 1 || !cols.contains(column)) return 0.0
    val n = df.count()
    if (n == 0) return 0.0
    val antecedents = cols.filterNot(_ == column)
    val counts = df.groupBy(cols.map(col): _*).count()
    val maxed = counts.groupBy(antecedents.map(col): _*).agg(max("count").as("m"))
    val total = maxed.agg(sum("m")).head().getLong(0)
    total.toDouble / n
  }

  // column names that are also the names the query itself uses
  private val types = Seq(
    StructField("r", StringType), StructField("cnt", IntegerType),
    StructField("k", DoubleType), StructField("i", DateType), StructField("x", StringType))

  private def value(t: DataType, rnd: scala.util.Random): Any =
    if (rnd.nextInt(4) == 0) null
    else t match {
      case StringType  => Seq("a", "b", "")(rnd.nextInt(3))
      case IntegerType => rnd.nextInt(3) - 1
      case DoubleType  => Seq(0.0, -0.0, 1.5, Double.NaN)(rnd.nextInt(4))
      case DateType    => java.sql.Date.valueOf(s"2024-01-0${1 + rnd.nextInt(3)}")
    }

  /** 2 to 5 typed columns with nulls; rows drawn from a few values and
    * then some repeated, so duplicates and partial FDs are common.
    */
  private def randomFrame(rnd: scala.util.Random): DataFrame = {
    val schema = StructType(rnd.shuffle(types).take(2 + rnd.nextInt(4)))
    val rows = Seq.fill(rnd.nextInt(30))(Row.fromSeq(schema.fields.toSeq.map(f => value(f.dataType, rnd))))
    val withDups = rows ++ rows.filter(_ => rnd.nextBoolean())
    spark.createDataFrame(java.util.Arrays.asList(withDups: _*), schema)
  }

  test("property: every confidence equals the per-consequent query on random frames") {
    val rnd = new scala.util.Random(17)
    (0 until 8).foreach { i =>
      val df = randomFrame(rnd).cache()
      val want = df.columns.map(c => c -> reference(df, c)).toMap
      val table = FdMetrics.confidenceTable(df).collect().map(r => r.getString(0) -> r.getDouble(1))
      val what = s"frame $i: ${df.schema.simpleString}, ${df.count()} rows"
      assert(table.map(_._1).toSeq == df.columns.toSeq, what)
      assert(table.toMap == want, what)
      df.columns.foreach(c => assert(FdMetrics.confidence(df, c) == want(c), s"$what, $c"))
      assert(FdMetrics.dependencyScore(df, df.columns.toSeq) == want.values.max, what)
      df.unpersist()
    }
  }

  test("confidence edge cases: one column, no rows, an absent column, colliding names") {
    import spark.implicits._
    val one = Seq("x", "y").toDF("A")
    assert(FdMetrics.confidence(one, "A") == reference(one, "A"))
    assert(FdMetrics.confidenceTable(one).collect().map(_.getDouble(1)).toSeq == Seq(0.0))
    val ab = Seq(("x", 1), ("y", 2), ("x", 1), ("x", 3), ("y", 2)).toDF("A", "B")
    val empty = ab.limit(0)
    Seq("A", "B").foreach(c => assert(FdMetrics.confidence(empty, c) == reference(empty, c)))
    assert(FdMetrics.confidence(ab, "C") == reference(ab, "C"))
    assert(FdMetrics.dependencyScore(empty, Seq("A", "B")) == 0.0)
    // the replaced query could not take these names; the values are the doctest's
    val named = ab.toDF("count", "m")
    assert(FdMetrics.confidenceTable(named).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("count" -> 1.0, "m" -> 0.8))
  }

  /** Five columns of which none is determined by the others. */
  private def noFd = {
    import spark.implicits._
    Seq(("a", 1, "p", 1.0, "u"), ("a", 1, "p", 1.0, "v"), ("b", 2, "q", 2.0, "u"),
      ("b", 2, "q", 2.0, "w"), ("a", 2, "p", 2.0, "u"), ("a", 2, "q", 2.0, "u"),
      ("b", 1, "p", 1.0, "u"), ("b", 1, "p", 2.0, "u"), ("a", 1, "q", 1.0, "u"),
      ("a", 1, "q", 1.0, "v")).toDF("c1", "c2", "c3", "c4", "c5")
  }

  test("confidenceTable on five columns runs at most four Spark jobs") {
    val df = noFd
    val (_, jobs) = jobsDuring(FdMetrics.confidenceTable(df).collect())
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(jobs.size <= 4, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
  }

  test("dependencyScore on three columns runs at most four Spark jobs") {
    val df = noFd
    val attributes = Seq("c1", "c3", "c5")
    assert(attributes.forall(c => reference(df.select(attributes.map(col): _*), c) < 1.0))
    val (score, jobs) = jobsDuring(FdMetrics.dependencyScore(df, attributes))
    info(s"${jobs.size} jobs: ${jobs.mkString(", ")}")
    assert(score < 1.0)
    assert(jobs.size <= 4, s"${jobs.size} jobs: ${jobs.mkString(", ")}")
  }

  test("redundancy keeps the first twelve low-null columns in frame order") {
    // c1 is mostly null and dropped; c12, the widest column, is kept
    val rows = (0 until 10).map(i => Row.fromSeq((0 until 14).map {
      case 1  => if (i == 0) "v" else null
      case 12 => "w" * 40 + i
      case j  => s"$j-$i"
    }))
    val schema = StructType((0 until 14).map(j => StructField(s"c$j", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val used = FdMetrics.redundancyAttributes(df, nullThreshold = 0.8, maxAttributes = 12)
    assert(used == (0 +: (2 to 12)).map(j => s"c$j"))
  }
}
