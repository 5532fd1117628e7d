package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — attach to each left row the payload of the
  * latest right row at or before it (per key), the temporal-join
  * primitive behind feature lookups ("most recent profile snapshot for
  * this event"), slowly-changing-dimension reads, and market-data
  * alignment.
  *
  * Spark has no as-of join operator, and the naive formulation (an
  * inequality theta-join + per-left-row argmax) plans as a broadcast
  * nested loop — quadratic per key. This implementation is the
  * union-and-sweep formulation instead: tag both inputs, union them,
  * and run ONE window pass per key ordered by (time, side, tie) where
  * `last(payload, ignoreNulls=true)` over the unbounded-preceding frame
  * carries the latest right payload forward onto every left row. Cost
  * is a single hash exchange on the key plus a per-key sort — the same
  * shuffle a plain equi-join would pay, with no join at all, so the
  * plan survives any key cardinality and any left/right size ratio.
  *
  * Semantics (pinned by [[AsofJoinSpec]] and [[JoinPropertySpec]]):
  *   - backward inclusive: a right row at exactly the left timestamp
  *     matches (right side sorts before left at equal time);
  *   - unmatched left rows survive with null payload (left-outer);
  *   - ties among right rows at the same (key, time) resolve to the
  *     greatest `rightIdCol` — deterministic for any input.
  *
  * Timestamps are compared as integer epoch micros, so boundaries are
  * exact and engine-portable.
  */
object AsofJoin {

  /** @param payloadCols right-side columns to carry onto left rows
    *                    (emitted as `right_<name>`, plus `right_us`, the
    *                    matched right row's epoch micros)
    * @param toleranceUs optional max age: matches older than this many
    *                    micros before the left time are nulled out
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightIdCol: String,
      payloadCols: Seq[String],
      toleranceUs: Option[Long] = None,
  ): DataFrame =
    sweepJoin(left, right, keyCol, tsCol, rightIdCol, payloadCols, toleranceUs,
      forward = false)

  /** Forward (look-ahead) as-of: the EARLIEST right row at or after each
    * left row — "the next purchase after this view". Same
    * union-and-sweep machinery run over time in reverse; tolerance
    * bounds how far ahead a match may be. Ties at one (key, time)
    * resolve to the greatest right id, as in [[backward]].
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightIdCol: String,
      payloadCols: Seq[String],
      toleranceUs: Option[Long] = None,
  ): DataFrame =
    sweepJoin(left, right, keyCol, tsCol, rightIdCol, payloadCols, toleranceUs,
      forward = true)

  private def sweepJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightIdCol: String,
      payloadCols: Seq[String],
      toleranceUs: Option[Long],
      forward: Boolean,
  ): DataFrame = {
    require(payloadCols.nonEmpty, "as-of join needs at least one payload column")
    val leftCols = left.columns.toSeq
    require(!leftCols.contains("right_us"), "left side already has a right_us column")

    // Shared shape: key, us, side (0=right sorts first at equal time),
    // tie (right id; constant on the left), left columns nulled on the
    // right and vice versa.
    val taggedLeft = left
      .withColumn("us", unix_micros(col(tsCol)))
      .withColumn("side", lit(1))
      .withColumn("tie", lit(Long.MaxValue))
      .withColumn("right_us", lit(null).cast("long"))
      .select(
        Seq(col(keyCol), col("us"), col("side"), col("tie"), col("right_us")) ++
          leftCols.filterNot(_ == keyCol).map(col) ++
          payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"right_$c")): _*)
    val taggedRight = right
      .withColumn("us", unix_micros(col(tsCol)))
      .withColumn("side", lit(0))
      .withColumn("tie", col(rightIdCol).cast("long"))
      .withColumn("right_us", col("us"))
      .select(
        Seq(col(keyCol), col("us"), col("side"), col("tie"), col("right_us")) ++
          leftCols.filterNot(_ == keyCol).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          payloadCols.map(c => col(c).as(s"right_$c")): _*)

    // forward runs the identical sweep over time in REVERSE: descending
    // us makes "preceding rows" the LATER ones, so last(ignoreNulls)
    // carries the nearest right row at-or-after. side still sorts
    // rights before lefts at equal time (inclusive both directions).
    val timeOrder = if (forward) col("us").desc else col("us").asc
    val sweep = Window
      .partitionBy(col(keyCol))
      .orderBy(timeOrder, col("side").asc, col("tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = Seq("right_us") ++ payloadCols.map(c => s"right_$c")
    val swept = carried.foldLeft(taggedLeft.unionByName(taggedRight)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(sweep))
    }

    val gap = if (forward) col("right_us") - col("us") else col("us") - col("right_us")
    val withinTolerance = toleranceUs match {
      case Some(t) => col("right_us").isNotNull && (gap <= t)
      case None => col("right_us").isNotNull
    }
    carried
      .foldLeft(swept.filter(col("side") === 1)) { (df, c) =>
        df.withColumn(c, when(withinTolerance, col(c)))
      }
      .select(leftCols.map(col) ++ carried.map(col): _*)
  }
}
