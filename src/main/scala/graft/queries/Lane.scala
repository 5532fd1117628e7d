package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered correctness/bench query: `run` computes the answer in
  * Spark from the parquet tables under a corpus dir, and `oracle` is
  * DuckDB SQL that re-derives the same answer from the same tables.
  *
  * Oracle/Spark stringification contract (verified empirically for this
  * corpus): Spark `cast(x as string)` ≡ DuckDB `CAST(x AS VARCHAR)` for
  * int/bigint/double/varchar/timestamp values appearing here.
  */
final case class Lane(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** Oracle SQL helpers shared by more than one family. */
object Lane {

  private[queries] def castCols(cols: Seq[String]): String =
    cols.sorted.map(c => s"CAST($c AS VARCHAR) AS $c").mkString(", ")

  /** The portable 60-bit hash (TextAnalysis.portableHash) in DuckDB. */
  private[queries] def duckHash(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"
}
