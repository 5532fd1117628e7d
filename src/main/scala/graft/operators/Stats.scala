package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group distribution summaries — the corpus profiling step a
  * training-data pipeline runs before setting length cutoffs, mixture
  * weights, or packing budgets ("what is p99 document length per
  * language?").
  *
  * Exact quantiles use the nearest-rank definition: the p-th percentile
  * of a group of n values is the value at sorted position ⌈n·p/100⌉.
  * That rank is computed with INTEGER arithmetic only ((n·p + 99) div
  * 100), and the value at a rank is well-defined under ties, so the
  * result is bit-reproducible by any SQL engine — no interpolation, no
  * floating point anywhere.
  *
  * Scale: one hash exchange on the group key + a per-group sort (the
  * irreducible cost of EXACT order statistics), then the final
  * aggregation reuses the window's partitioning — no second shuffle.
  * Groups are language/source-grade (bounded per-key volume); for
  * quantiles over a huge ungrouped column, use [[approxQuantiles]] —
  * a mergeable-sketch aggregation with no global sort at all.
  */
object Stats {

  /** One row per group: n_rows, min/max, and a `p<N>` column per
    * requested percent (nearest-rank, type-preserving).
    */
  def nearestRankQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int],
  ): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1,100]: $percents")
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = df
      .select(col(groupCol), col(valueCol))
      .withColumn("graft_rn", row_number().over(byGroup.orderBy(col(valueCol))))
      .withColumn("graft_cnt", count(lit(1)).over(byGroup))
    val pCols: Seq[Column] = percents.map { p =>
      max(when(col("graft_rn") === expr(s"(graft_cnt * $p + 99) div 100"), col(valueCol)))
        .as(s"p$p")
    }
    ranked
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        (Seq(min(col(valueCol)).as("min_value"), max(col(valueCol)).as("max_value")) ++ pCols): _*)
  }

  /** Sketch-based quantiles for when a sort is off the table: Spark's
    * `percentile_approx` (a mergeable partial aggregation — map-side
    * combine, one small shuffle, no per-group sort). `accuracy` trades
    * memory for error exactly as documented by Spark.
    */
  def approxQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int],
      accuracy: Int = 10000,
  ): DataFrame = {
    val pCols = percents.map(p =>
      percentile_approx(col(valueCol), lit(p / 100.0), lit(accuracy)).as(s"p$p"))
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"), pCols: _*)
  }
}
