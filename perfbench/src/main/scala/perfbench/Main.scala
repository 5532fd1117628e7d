package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Largest heap occupancy seen right after a garbage collection. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _                      =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak after-GC occupancy in MiB; the current occupancy when no
    * collection ran.
    */
  def peakMb: Double = {
    val p = synchronized(peak)
    val v = if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    v / 1048576.0
  }
}

/** Runs one workload in this JVM and writes one JSON record.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --work DIR
  *          --seconds S --trace 0|1 --result FILE [--qids 1,2,3]
  *
  * The first pass is the measured one: a fresh JVM running the flow once,
  * as a CLI user does. Further passes run only while one more fits in the
  * `--seconds` window; they are recorded as warm repeats and must give
  * the same outputs as the first.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val qids = opts.getOrElse("qids", "").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    val work = opts("work")

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val jvmStartS = (mainMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val sc = spark.sparkContext
    val tracer = new Tracer(sc, trace)
    val heap = new HeapWatch
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val workload = Workloads(workloadName, spark, opts("data"), opts("out"), qids)

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var last = new PassOutput
    val runStart = System.nanoTime()
    var wall = 0.0
    var p = 0
    while (p == 0 || seconds - (System.nanoTime() - runStart) / 1e9 >= wall) {
      if (p > 0) {
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      tracer.beginPass(p)
      val calls0 = tracer.calls
      last = new PassOutput
      heap.reset()
      val cpu0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      workload.pass(tracer, last)
      wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val peak = heap.peakMb
      tracer.endPass()
      passes += Map(
        "pass" -> p, "calls" -> (tracer.calls - calls0),
        "wall_s" -> wall, "cpu_s" -> cpu, "peak_heap_mb" -> peak,
        "layers" -> (if (trace) tracer.layerMetrics(p) else Map.empty),
        "counts" -> last.counts.toMap, "facts" -> last.facts.toMap)
      p += 1
    }
    workload.finish(last)

    val record = Map(
      "workload" -> workloadName,
      "trace" -> trace,
      "cpus" -> cpus,
      "main_ms" -> mainMs,
      "jvm_start_s" -> jvmStartS,
      "session_s" -> sessionS,
      "reattributed" -> tracer.reattributed,
      "passes" -> passes.toSeq,
      "final_facts" -> last.facts.toMap)
    Files.write(Paths.get(opts("result")), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None         => "null"
    case Some(x)             => apply(x)
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity == 2 && !p.isInstanceOf[Seq[_]] =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
