package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registered correctness/bench queries and their DuckDB oracles:
  * the union of the lane families.
  */
object GraftQueries {

  /** The families' lanes as one registry. A name registered twice
    * fails here: a map built from the lanes would silently keep only one.
    */
  private[queries] def union(families: Seq[Lane]*): Seq[Lane] = {
    val lanes = families.flatten
    val twice = lanes.groupBy(_.name).collect { case (n, ls) if ls.size > 1 => n }
    require(twice.isEmpty, s"lanes registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    lanes
  }

  private val all: Seq[Lane] = union(
    PaperSourceLanes.lanes, PaperSchemaLanes.lanes, PaperRewriteLanes.lanes,
    DedupLanes.lanes, SearchLanes.lanes, MultimodalLanes.lanes, TextLanes.lanes)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(l => l.name -> l.run).toMap

  val oracleSql: Map[String, String] = all.map(l => l.name -> l.oracle).toMap

  /** Drop every lane memo ([[Memo]]) and the session's cached tables. */
  def resetMemos(spark: SparkSession): Unit = Memo.reset(spark)
}
