package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Task-metric sums per Spark stage, each stage tagged with the job group
  * it was submitted under and the first user frame of its call site.
  * Events arrive on the listener bus thread; the sums are read only after
  * the bus has been drained.
  */
final class StageSums extends SparkListener {
  final class Stage(val group: String, val submittedMs: Long, val callSite: String) {
    var cpuNs = 0L
    var waitMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  final class Job(val group: String, val startMs: Long) { var endMs = -1L }

  val stages = mutable.Map.empty[Int, Stage]
  val jobs = mutable.Map.empty[Int, Job]

  private def group(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** The first frame of the long call site that is neither Spark, Scala
    * nor the JDK: the program's line that submitted the stage.
    */
  private def firstUserFrame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(l.startsWith))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(group(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    if (!stages.contains(info.stageId))
      stages(info.stageId) = new Stage(group(e.properties),
        info.submissionTime.getOrElse(System.currentTimeMillis()), firstUserFrame(info.details))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.cpuNs += m.executorCpuTime
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }
}

final case class Span(name: String, pass: Int, group: String, startMs: Long, endMs: Long, seconds: Double)

/** Span recorder. With tracing on, `span` runs its body under one Spark
  * job group and records the span's wall time; the listener's stage sums
  * are attributed to spans after the pass. With tracing off, `span` only
  * runs its body and no listener is registered, so traced and untraced
  * runs make the same calls.
  */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val sums = new StageSums
  private var pass = -1

  /** Jobs and stages whose job group named no span of their pass but
    * whose start fell inside one (a pooled thread can carry a stale group).
    */
  var reattributed = 0

  /** Layer calls made, traced or not. */
  var calls = 0

  if (enabled) sc.addSparkListener(sums)

  def beginPass(index: Int): Unit = pass = index

  /** Delivers the pass's listener events; called after its timed region. */
  def endPass(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def span[A](name: String)(body: => A): A = {
    calls += 1
    if (!enabled) body
    else {
      val group = s"perfbench.$pass.${spans.size}.$name"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val seconds = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        spans += Span(name, pass, group, startMs, System.currentTimeMillis(), seconds)
      }
    }
  }

  /** Per-layer measures of one traced pass: for every span name `s`,
    * `<name>.s`, `.driver_s`, `.task_cpu_s`, `.task_wait_s`, `.gc_s`,
    * `.shuffle_mb` and `.spill_mb`, summed over the span's calls in the
    * pass; plus `similarity.fit.*`, the task measures of the stages inside
    * `rewrite.rewrite` whose call site lies in `graft.similarity`.
    */
  def layerMetrics(index: Int): Map[String, Double] = {
    val mine = spans.filter(_.pass == index)
    val byGroup = mine.map(s => s.group -> s).toMap
    def owner(group: String, atMs: Long): Option[Span] =
      byGroup.get(group).orElse {
        val hit = mine.find(s => atMs >= s.startMs && atMs <= s.endMs)
        if (hit.isDefined) reattributed += 1
        hit
      }
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    sums.synchronized {
      val jobsBySpan = sums.jobs.values.toSeq.flatMap(j => owner(j.group, j.startMs).map(_ -> j)).groupBy(_._1)
      mine.foreach { s =>
        val intervals = jobsBySpan.getOrElse(s, Nil).map { case (_, j) =>
          val end = if (j.endMs < 0) s.endMs else j.endMs
          (math.max(j.startMs, s.startMs), math.min(end, s.endMs))
        }
        out(s"${s.name}.s") += s.seconds
        out(s"${s.name}.driver_s") += math.max(0.0, s.seconds - busyMs(intervals) / 1e3)
      }
      sums.stages.values.foreach { st =>
        owner(st.group, st.submittedMs).foreach { s =>
          val names =
            if (s.name == "rewrite.rewrite" && st.callSite.startsWith("graft.similarity.")) Seq(s.name, "similarity.fit")
            else Seq(s.name)
          names.foreach { n =>
            out(s"$n.task_cpu_s") += st.cpuNs / 1e9
            out(s"$n.task_wait_s") += st.waitMs / 1e3
            out(s"$n.gc_s") += st.gcMs / 1e3
            out(s"$n.shuffle_mb") += st.shuffleBytes / 1048576.0
            out(s"$n.spill_mb") += st.spillBytes / 1048576.0
          }
        }
      }
    }
    out.toMap
  }

  /** Length of the union of [start, end] intervals, in milliseconds. */
  private def busyMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) total += b - from
      reach = math.max(reach, b)
    }
    total
  }
}
