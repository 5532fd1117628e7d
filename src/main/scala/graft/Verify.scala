package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.util.Spark.localSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // iteration aid, same contract as Bench: run (and dump oracles for)
    // a comma-separated subset so tools/selfcheck.py stays usable on it;
    // the driver runs with the variable unset = everything
    val only = SparkEntry.querySubset()
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // a crashed query must surface as a RED row in the driver's
          // ledger, not vanish: write a one-row tombstone whose schema
          // (single `_error` column) can never match any oracle
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          try {
            import spark.implicits._
            Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
              .toDF("_error").coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } catch { case t: Throwable =>
            System.err.println(s"[verify] $name tombstone write failed: ${t.getMessage}")
          }
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.util.Json.quote(s)
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
