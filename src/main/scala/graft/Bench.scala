package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints, in order: the full JSON line, the per-lane map again as
  * `"metric":"lanes"` parts of at most 2 KB each, and a short summary
  * line, always last. A query that throws is recorded under "errors"
  * with -1 in "queries" so broken queries can never masquerade as fast
  * ones.
  *
  * Noise protocol: the suite runs SPARK_GRAFT_BENCH_PASSES times (default
  * 2) in one JVM and "queries" carries the PER-LANE MINIMUM across
  * passes — a host-noise window that inflates a lane in one pass cannot
  * inflate the artifact unless it covers every pass of that lane (three
  * straight rounds shipped noise-inflated single-pass artifacts, and a
  * point-in-time control provably cannot adjudicate a 10-minute run).
  * Transparency fields: "passes", "pass_totals" (per-pass sums), and
  * "controls" (the per-pass control lane timings). The same-run control
  * (ann_topk_brute, measured before each pass after a pass-1 warm-up
  * discard) still lets a reviewer spot a globally slow host; note the
  * in-suite control lane itself runs fully warm and reads ~0.4-0.5x the
  * pass-start control under this protocol — that gap is the protocol,
  * not noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    val spark = graft.util.Spark.localSession(defaultCpus = 32)

    // optional comma-separated subset for local iteration; unset = all
    val only = SparkEntry.querySubset()

    def time(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.toString.linesIterator.next().take(200)) }
      (if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0, err)
    }

    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
      .filter(n => only.forall(_.contains(n)))

    // same-run CONTROL lane, executed at the START of every pass: a
    // fixed cheap query whose time moves with host noise (CPU steal,
    // cold page cache) but not with any code under test. Pass 1
    // discards one extra execution to absorb JVM/codegen warm-up
    // (measured 8x slower than warm).
    val controlName = "ann_topk_brute"
    val perPass: Seq[(Double, Seq[(String, Double, Option[String])])] =
      (1 to passes).map { p =>
        // pass boundary: drop the registry memos (forest loads,
        // extracted datasets, trained models) — without this a later
        // pass times a memo read instead of the operator and the
        // per-lane minimum stops meaning anything
        if (p > 1) SparkEntry.resetMemos(spark)
        val ctl =
          if (!SparkEntry.queries.contains(controlName)) -1.0
          else {
            if (p == 1) time(controlName)
            time(controlName)._1
          }
        (ctl, names.map { n => val (s, e) = time(n); (n, s, e) })
      }

    val controls = perPass.map(_._1)
    val okControls = controls.filter(_ > 0)
    val controlSec = if (okControls.isEmpty) -1.0 else okControls.min

    // per-lane minimum over the passes where the lane succeeded; a lane
    // that failed EVERY pass keeps -1 and its last error
    val results: Seq[(String, Double, Option[String])] = names.map { n =>
      val runs = perPass.map(_._2.find(_._1 == n).get)
      val ok = runs.filter(_._3.isEmpty)
      if (ok.nonEmpty) (n, ok.map(_._2).min, None)
      else (n, -1.0, runs.last._3)
    }
    val passTotals = perPass.map(_._2.collect { case (_, v, None) => v }.sum)

    val qs = results.map { case (k, v, _) => laneEntry(k, v) }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      graft.util.Json.quote(k) + ":" + graft.util.Json.quote(e)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val control =
      s"""{"name":${graft.util.Json.quote(controlName)},"sec":${f"$controlSec%.3f"}}"""
    val passTotalsJson = passTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    val controlsJson = controls.map(c => f"$c%.3f").mkString("[", ",", "]")
    // "protocol" names the measurement semantics explicitly: "value" is
    // a SUM OF PER-LANE MINIMA across passes (a composite no single pass
    // achieved), NOT comparable with pre-r14 single-pass artifacts —
    // tooling diffing artifacts across protocols should fail visibly on
    // this field instead of misreading a protocol change as a speedup
    // (compare pass_totals[0] against single-pass-era artifacts instead).
    // The (former) "ratios" map duplicated queries÷control byte-for-byte
    // and doubled the line length past any stdout tail-capture window —
    // dropped; consumers divide by control.sec themselves.
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","protocol":"min-of-N-r14","passes":$passes,"queries":$qs,"control":$control,"controls":$controlsJson,"pass_totals":$passTotalsJson,"errors":$errs,"sf":${graft.util.Json.quote(sfDir)}}"""
    println(line)
    // stdout tail-capture has truncated this (long) line before, losing
    // the parsed totals — persist a copy so the full timing map is
    // always recoverable from disk
    val copy = benchFile(only, sys.env.get("SPARK_GRAFT_BENCH_FILE"))
    copy.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n")
      catch { case _: Throwable => () }
    }
    // the per-lane map again, split into lines that each fit a bounded
    // stdout tail; printed BEFORE the summary so the summary stays last
    laneParts(results.map { case (k, v, _) => (k, v) }).foreach(println)
    // FINAL short summary line (a few hundred bytes): drivers that only
    // keep a bounded stdout tail lost the (long) full line two rounds
    // running ("parsed": null) — this one always fits the tail whole.
    // It deliberately carries NO "queries" key (a truncated lane map
    // would read as dropped lanes); the full per-lane map is in the lines
    // above and the file copy. Error NAMES only, so a pathological error
    // message cannot blow this line past the capture window either.
    val errNames = results.collect { case (k, _, Some(_)) => graft.util.Json.quote(k) }
      .mkString("[", ",", "]")
    val summary =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","protocol":"min-of-N-r14","passes":$passes,"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"error_names":$errNames,"control":$control,"controls":$controlsJson,"pass_totals":$passTotalsJson,"bench_file":${copy.fold("null")(graft.util.Json.quote)},"sf":${graft.util.Json.quote(sfDir)}}"""
    println(summary)
    spark.stop()
  }

  /** Where the full line is copied: the explicit `SPARK_GRAFT_BENCH_FILE`
    * if set, else `BENCH_LAST.json` for a full-suite run, else nowhere —
    * a subset run must not replace the full-suite artifact.
    */
  def benchFile(subset: Option[Set[String]], explicit: Option[String]): Option[String] =
    explicit.orElse(if (subset.isEmpty) Some("BENCH_LAST.json") else None)

  private def laneEntry(name: String, sec: Double): String =
    graft.util.Json.quote(name) + ":" + f"$sec%.3f"

  /** Longest lane-part line, in bytes: what a bounded stdout tail keeps whole. */
  val LanePartBytes = 2048

  /** The lane map as `{"metric":"lanes","part":i,"parts":n,"queries":{…}}`
    * lines (i from 1 to n), each at most [[LanePartBytes]] bytes of UTF-8,
    * every lane in exactly one part, in input order. A lane whose entry
    * alone overflows the limit still gets a part of its own.
    */
  def laneParts(lanes: Seq[(String, Double)]): Seq[String] = {
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    def render(part: Int, parts: Int, entries: Seq[String]) =
      s"""{"metric":"lanes","part":$part,"parts":$parts,"queries":${entries.mkString("{", ",", "}")}}"""
    // pack against the widest header any part can have (part, parts <= lanes.size)
    val widest = math.max(1, lanes.size)
    val budget = LanePartBytes - bytes(render(widest, widest, Nil))
    val chunks = lanes.map { case (k, v) => laneEntry(k, v) }
      .foldLeft(Vector.empty[Vector[String]]) { (acc, e) =>
        acc.lastOption match {
          case Some(c) if bytes((c :+ e).mkString(",")) <= budget => acc.init :+ (c :+ e)
          case _ => acc :+ Vector(e)
        }
      }
    chunks.zipWithIndex.map { case (c, i) => render(i + 1, chunks.size, c) }
  }
}
