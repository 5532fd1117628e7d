package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `pipeline` subcommand's dispatch — semantics only (main owns the
  * session lifecycle and is exercised by the spark-shell drive).
  */
class CliPipelineSpec extends AnyFunSuite with SparkSpec {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "en"),
      (2L, "the quick brown fox jumps over the lazy dog again", "en"), // exact dup of 1
      (3L, "completely different text with many unique words here", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")))
  }

  test("dedup dispatches by method and resolves survivors") {
    val exact = Cli.pipelineFrame("dedup", docs(), Map.empty)
    assert(exact.count() == 2) // one row per distinct content
    val ngram = Cli.pipelineFrame("dedup", docs(), Map("method" -> "ngram"))
    assert(ngram.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("profile joins stats, language, and quality per document") {
    val p = Cli.pipelineFrame("profile", docs(), Map.empty)
    assert(p.count() == 3)
    val cols = p.columns.toSet
    assert(cols.contains("doc_id") && cols.exists(_.contains("lang")) &&
      Seq("n_tokens", "n_chars").forall(c => cols.exists(_.startsWith(c.take(4)))))
  }

  test("validate dispatches with defaults and overrides; zorder is not an op") {
    val v = Cli.pipelineFrame("validate", docs(), Map.empty)
    assert(v.count() == 3) // one verdict row per default check
    assert(v.columns.toSet == Set("check", "column", "metric_ppm", "threshold_ppm", "passed"))
    // doc_id is a key and texts are non-empty: everything passes at 1.0
    assert(v.collect().forall(_.getAs[Boolean]("passed")))
    val e = intercept[IllegalArgumentException] {
      Cli.pipelineFrame("zorder", docs(), Map("files" -> "2"))
    }
    val listed = e.getMessage.substring(e.getMessage.indexOf('(') + 1, e.getMessage.lastIndexOf(')'))
    assert(listed.split('|').toSeq ==
      Seq("profile", "dedup", "sample", "pack", "rank", "quantiles", "validate", "mixture", "shard"))
  }

  test("rank, pack, sample, and quantiles dispatch with defaults and overrides") {
    assert(Cli.pipelineFrame("rank", docs(), Map.empty).count() == 3)
    assert(Cli.pipelineFrame("pack", docs(), Map("budget" -> "5")).count() == 3)
    val s = Cli.pipelineFrame("sample", docs(), Map("fraction" -> "1.0"))
    assert(s.count() == 3)
    val q = Cli.pipelineFrame("quantiles", docs(), Map.empty)
    assert(q.count() == 1 && q.columns.contains("p99"))
  }

  test("mixture and shard dispatch with defaults and overrides") {
    val mu = Cli.pipelineFrame("mixture", docs(), Map.empty)
    assert(mu.columns.sameElements(Array("stratum", "n_docs", "n_tokens", "keep_bp")))
    val mt = Cli.pipelineFrame("mixture", docs(), Map("sqrt-apps" -> "1"))
    assert(mt.columns.contains("target_tokens") && mt.count() == 1)
    val sh = Cli.pipelineFrame("shard", docs(), Map("shards" -> "2"))
    assert(sh.count() == 3 && sh.columns.sameElements(Array("id", "n_tokens", "shard")))
    val out = java.nio.file.Files.createTempDirectory("graft_cli_shard").toString
    val sw = Cli.pipelineFrame("shard", docs(), Map("shards" -> "2", "shard-out" -> s"$out/s"))
    assert(sw.columns.sameElements(Array("shard", "n_docs", "n_tokens")))
    assert(sw.collect().map(_.getLong(1)).sum == 3L)
  }

  test("unknown ops and methods fail loudly") {
    intercept[IllegalArgumentException](Cli.pipelineFrame("nope", docs(), Map.empty))
    intercept[IllegalArgumentException](
      Cli.pipelineFrame("dedup", docs(), Map("method" -> "nope")))
  }

  test("ui dispatch starts the workbench, loopback-bound by default") {
    val running = Cli.startUi(spark, Map("port" -> "0"))
    try {
      // the API reads and writes filesystem paths from query params, so
      // the default bind MUST be loopback; --bind-all is the opt-in
      assert(running.server.getAddress.getAddress.isLoopbackAddress,
        s"ui bound ${running.server.getAddress} instead of loopback")
      val client = java.net.http.HttpClient.newHttpClient()
      val body = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${running.port}/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("<h1>graft</h1>"))
    } finally running.stop()
  }
}
