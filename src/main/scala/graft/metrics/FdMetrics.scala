package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Functional-dependency analytics (reference architxt/metrics.py:25-150)
  * as pure DataFrame aggregations, fully codegen'd, no UDFs; each call's
  * confidences come from one grouped count of the rows.
  */
object FdMetrics {

  /** FD confidence of (all other columns → column):
    * Σ_x max_y count(X=x, Y=y) / N (metrics.py:25-62). Nulls group as
    * values (pandas dropna=False ≡ Spark groupBy null handling).
    */
  def confidence(df: DataFrame, column: String): Double = confidences(df).getOrElse(column, 0.0)

  /** Max confidence over the attribute subset, each attribute as the
    * consequent (metrics.py:65-95).
    */
  def dependencyScore(df: DataFrame, attributes: Seq[String]): Double =
    confidences(df.select(attributes.map(col): _*)).values.maxOption.getOrElse(0.0)

  /** Every column's confidence from one query. The rows are grouped and
    * counted once; each counted row then yields one key per column `i`:
    * `i` with the row, column `i` replaced by a typed null, so within one
    * `i` the keys group by exactly the antecedents. Per key, max and sum
    * of the counts; per `i`, their sums are Σ max and N. The columns live
    * inside structs, so none can collide with the query's own names. A
    * frame of fewer than two columns, or with no rows, scores 0.0.
    */
  private def confidences(df: DataFrame): Map[String, Double] = {
    val fields = df.schema.fields.toSeq
    val zero = fields.map(_.name -> 0.0).toMap
    if (fields.size < 2) return zero
    val keys = fields.indices.map { i =>
      struct(lit(i).as("i"), struct(fields.zipWithIndex.map { case (f, j) =>
        (if (j == i) lit(null).cast(f.dataType) else col("r").getField(f.name)).as(f.name)
      }: _*).as("x"))
    }
    zero ++ df
      .groupBy(struct(fields.map(f => col(f.name)): _*).as("r")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), explode(array(keys: _*)).as("k"))
      .groupBy("k").agg(max("cnt").as("m"), sum("cnt").as("s"))
      .groupBy(col("k.i")).agg(sum("m"), sum("s"))
      .collect()
      .map(r => fields(r.getInt(0)).name -> r.getLong(1).toDouble / r.getLong(2))
  }

  /** Fraction of rows duplicated on at least one attribute subset whose
    * dependency score ≥ tau (metrics.py:105-150), over
    * [[redundancyAttributes]].
    */
  def redundancyScore(
      df: DataFrame,
      tau: Double = 1.0,
      nullThreshold: Double = 0.8,
      maxAttributes: Int = 12,
  ): Double = {
    val n = df.count()
    if (n == 0) return 0.0
    val attributes = redundancyAttributes(df, nullThreshold, maxAttributes)
    if (attributes.size < 2) return 0.0

    val withId = df.withColumn("__rid", monotonically_increasing_id()).cache()
    try {
      val subsets = (2 to attributes.size).flatMap(k => attributes.combinations(k))
      val qualifying = subsets.filter(s => dependencyScore(withId, s) >= tau)
      if (qualifying.isEmpty) return 0.0

      val marked = qualifying
        .map { s =>
          // pandas .dropna().duplicated(keep=False): rows with no null in
          // the subset whose subset-tuple occurs more than once.
          val w = Window.partitionBy(s.map(col): _*)
          withId
            .filter(s.map(col(_).isNotNull).reduce(_ && _))
            .withColumn("__cnt", count(lit(1)).over(w))
            .filter(col("__cnt") > 1)
            .select("__rid")
        }
        .reduce(_ union _)
        .distinct()
        .count()
      marked.toDouble / n
    } finally withId.unpersist()
  }

  /** The columns with at most `nullThreshold` nulls, in frame order;
    * past `maxAttributes` of them (the reference is unbounded), the first
    * `maxAttributes` are kept and a warning is logged.
    */
  private[metrics] def redundancyAttributes(
      df: DataFrame, nullThreshold: Double, maxAttributes: Int): Seq[String] = {
    val nullProps = df
      .select(df.columns.map(c => avg(col(c).isNull.cast("double")).as(c)).toIndexedSeq: _*)
      .head()
    val attributes = df.columns.toSeq.filter(c => nullProps.getAs[Double](c) <= nullThreshold)
    if (attributes.size > maxAttributes) System.err.println(
      s"[graft] redundancyScore: ${attributes.size} attributes exceed cap $maxAttributes; truncating")
    attributes.take(maxAttributes)
  }

  /** Per-consequent confidence table — the query-surface form:
    * one row (consequent, confidence) per column, in frame order.
    */
  def confidenceTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val conf = confidences(df)
    df.columns.toSeq.map(c => c -> conf(c)).toDF("consequent", "confidence")
  }
}
