package graft.sinks

import graft.core.TreeJson
import graft.model.TreeRow
import org.apache.spark.sql.{Dataset, SparkSession}

/** JSONL forest import/export (reference architxt/forest.py:25-64):
  * one JSON tree per line.
  */
object Jsonl {

  def write(forest: Dataset[TreeRow], path: String): Unit = {
    import forest.sparkSession.implicits._
    forest.map(row => TreeJson.toJson(row.tree)).write.mode("overwrite").text(path)
  }

  /** Read a JSONL forest; tree ids are assigned by stable line index. */
  def read(spark: SparkSession, path: String): Dataset[TreeRow] = {
    import spark.implicits._
    spark.read.textFile(path).rdd
      .zipWithIndex()
      .map { case (line, idx) => TreeRow(idx, TreeJson.fromJson(line)) }
      .toDS()
  }
}
